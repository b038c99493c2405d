package graft.boom

import java.util.UUID

import org.apache.avro.file.{CodecFactory, DataFileWriter}
import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write._
import org.apache.spark.util.SerializableConfiguration

/** DSv2 write path producing Boom (`.bm`) files.
  *
  * Each task writes one Avro `logBlock` container file honoring the writer
  * invariants of the reference (boom/BoomWriter.java:40-42, 75-79, 101-104 and
  * boom/ReBoomWriter.java:71-90): deflate-6, 2 MiB sync interval, a block
  * holds one (second, createTime, blockNumber) run of ≤1000 lines.
  *
  * Two modes (option `boomMode`):
  *   - `reboom` (default): preserve incoming createTime/blockNumber — the
  *     rewrite path used by filter/archive jobs;
  *   - `ingest`: mint block metadata — createTime := first line's timestamp,
  *     blockNumber increments per roll — the text→Boom ingest path
  *     (pig/TextToBoomConverter.java:94-103).
  *
  * A block closes whenever the (second, createTime, blockNumber) key of the
  * next row differs, so rows should arrive grouped by that key within each
  * partition: `Ingest.write` sorts by timestamp (ingest mode mints the key
  * from that order), and `Ingest.reboom` sorts by the key itself and then
  * lineNumber. An unsorted stream is still correct but produces more,
  * smaller blocks.
  *
  * Option `hourlySuffix`, when present, selects [[BoomHourlyDataWriter]]:
  * output rolls into `<dir>/<yyyyMMdd>/<hh>/<hourlySuffix>/`.
  *
  * Commit protocol (two-phase, retry- and speculative-attempt-safe): every
  * writer streams to `<name>.bm.tmp` and task commit only REPORTS the staged
  * (tmp, final) pairs; the final renames happen in `BoomBatchWrite.commit`
  * once the whole job has succeeded, and both task- and job-level `abort`
  * delete every staged file they know of. Readers ignore `*.tmp`/`_*`
  * (fs/FileManager.java:42-51). A failed-then-retried task therefore never
  * leaves half-promoted hour files behind (the reference got this from
  * writing to the task-attempt work dir promoted at commit,
  * PigBoomHourlyRecordWriter via getDefaultWorkFile), and a job that dies
  * after some tasks committed leaves nothing visible.
  */
class BoomWriteBuilder(paths: Seq[String], info: LogicalWriteInfo)
    extends WriteBuilder with SupportsTruncate {

  private var doTruncate = false

  require(paths.size == 1, s"boom write requires exactly one output path, got $paths")

  override def truncate(): WriteBuilder = { doTruncate = true; this }

  override def build(): Write = new Write {
    override def toBatch: BatchWrite = {
      val spark = SparkSession.active
      val mode = info.options().getOrDefault("boomMode", "reboom")
      val hourlySuffix = Option(info.options().get("hourlySuffix"))
      new BoomBatchWrite(paths.head, mode, hourlySuffix, doTruncate,
        spark.sessionState.newHadoopConf())
    }
  }
}

class BoomBatchWrite(
    path: String,
    mode: String,
    hourlySuffix: Option[String],
    truncate: Boolean,
    hconf: Configuration) extends BatchWrite {

  /** The tasks get the Hadoop conf as one broadcast per write, not a copy
    * each; job commit and abort run here and use `hconf` directly.
    */
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    val dir = new Path(path)
    val fs = dir.getFileSystem(hconf)
    if (truncate && fs.exists(dir)) {
      fs.listStatus(dir).foreach(s => fs.delete(s.getPath, true))
    }
    fs.mkdirs(dir)
    new BoomWriterFactory(path, mode, hourlySuffix,
      SparkSession.active.sparkContext.broadcast(new SerializableConfiguration(hconf)))
  }

  /** Job commit: promote every staged file reported by the committed task
    * attempts. Spark hands exactly one message per partition (the attempt
    * that won task commit), so losing/speculative attempts' staged files are
    * never promoted — they are removed by their own task abort. Driver-side
    * rename-per-file is the FileOutputCommitter-v2 cost model; renames are
    * O(1) metadata ops on HDFS-like stores.
    */
  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val fs = new Path(path).getFileSystem(hconf)
    messages.foreach {
      case BoomCommitMessage(staged, _) =>
        staged.foreach { case (tmp, dest) =>
          val t = new Path(tmp)
          val d = new Path(dest)
          if (!fs.rename(t, d)) {
            throw new java.io.IOException(s"boom job commit: rename $t -> $d failed")
          }
        }
      case _ => ()
    }
  }

  /** Job abort: delete whatever staged files the committed tasks reported
    * (running/failed tasks clean their own staging in DataWriter.abort).
    */
  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val fs = new Path(path).getFileSystem(hconf)
    messages.foreach {
      case BoomCommitMessage(staged, _) =>
        staged.foreach { case (tmp, _) =>
          try fs.delete(new Path(tmp), false) catch { case _: Exception => () }
        }
      case _ => ()
    }
  }
}

/** `staged` = (tmp path written, final path to promote at job commit). */
case class BoomCommitMessage(staged: Seq[(String, String)], rows: Long)
  extends WriterCommitMessage

class BoomWriterFactory(
    path: String, mode: String, hourlySuffix: Option[String],
    hconf: Broadcast[SerializableConfiguration])
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] = {
    val conf = hconf.value.value
    hourlySuffix match {
      case Some(suffix) => new BoomHourlyDataWriter(path, mode, suffix, partitionId, taskId, conf)
      case None => new BoomDataWriter(path, mode, partitionId, taskId, conf)
    }
  }
}

/** Hour-rolling Boom writer — the reference's hourly output format
  * (mapreduce/boom/PigBoomHourlyRecordWriter.java:30-116, roll at 57-58):
  * output lands under `<dir>/<yyyyMMdd>/<hh>/`, with a new file whenever the
  * wall-clock hour of the data changes. Input sorted by timestamp within the
  * task (the ingest path sorts) yields exactly one file per task per hour;
  * unsorted input stays correct but produces more files.
  *
  * One open delegate at a time, like the reference — no per-hour writer map
  * to leak memory on wide time ranges.
  */
class BoomHourlyDataWriter(
    dir: String,
    mode: String,
    hourlySuffix: String,
    partitionId: Int,
    taskId: Long,
    hconf: Configuration) extends DataWriter[InternalRow] {

  private val hourFmt = java.time.format.DateTimeFormatter
    .ofPattern("yyyyMMdd/HH").withZone(java.time.ZoneOffset.UTC)

  private var currentHour = Long.MinValue
  private var delegate: BoomDataWriter = _
  private var staged = Vector.empty[(String, String)]
  private var rows = 0L

  override def write(row: InternalRow): Unit = {
    val hour = Math.floorDiv(row.getLong(0), 3600000L)
    if (hour != currentHour) {
      roll(row.getLong(0))
      currentHour = hour
    }
    delegate.write(row)
    rows += 1
  }

  /** Close the previous hour's file but only STAGE it (no rename — a task
    * retry after a mid-task failure must not find earlier hours already
    * visible; promotion is the job committer's).
    */
  private def roll(ts: Long): Unit = {
    if (delegate != null) {
      delegate.commit() match {
        case BoomCommitMessage(s, _) => staged ++= s
        case _ => ()
      }
    }
    val hourPart = hourFmt.format(java.time.Instant.ofEpochMilli(ts))
    val rel = if (hourlySuffix.isEmpty) hourPart else s"$hourPart/$hourlySuffix"
    val hourDir = new Path(dir, rel).toString
    delegate = new BoomDataWriter(hourDir, mode, partitionId, taskId, hconf)
  }

  override def commit(): WriterCommitMessage = {
    if (delegate != null) {
      delegate.commit() match {
        case BoomCommitMessage(s, _) => staged ++= s
        case _ => ()
      }
    }
    BoomCommitMessage(staged, rows)
  }

  /** Abort deletes EVERY staged file of this attempt — earlier hours
    * included — not just the currently open delegate's.
    */
  override def abort(): Unit = {
    if (delegate != null) delegate.abort()
    if (staged.nonEmpty) {
      val fs = new Path(dir).getFileSystem(hconf)
      staged.foreach { case (tmp, _) =>
        try fs.delete(new Path(tmp), false) catch { case _: Exception => () }
      }
    }
  }
  override def close(): Unit = ()
}

/** Expects rows in the full [[graft.core.LogLine.schema]] column order:
  * (timestamp, message, eventId, createTime, blockNumber, lineNumber).
  */
class BoomDataWriter(
    dir: String,
    mode: String,
    partitionId: Int,
    taskId: Long,
    hconf: Configuration) extends DataWriter[InternalRow] {

  private val ingest = mode.equalsIgnoreCase("ingest")
  private val blockSchema = BoomSchemas.logBlockSchema
  private val lineSchema = BoomSchemas.messageWithMillisSchema

  private val finalName = f"part-$partitionId%05d-$taskId-${UUID.randomUUID().toString.take(8)}.bm"
  private val tmpPath = new Path(dir, finalName + ".tmp")
  private val finalPath = new Path(dir, finalName)
  private val fs = tmpPath.getFileSystem(hconf)

  private lazy val writer: DataFileWriter[GenericRecord] = {
    val w = new DataFileWriter[GenericRecord](new GenericDatumWriter[GenericRecord](blockSchema))
    w.setCodec(CodecFactory.deflateCodec(BoomSchemas.DeflateLevel))
    w.setSyncInterval(BoomSchemas.AvroSyncInterval)
    w.create(blockSchema, fs.create(tmpPath, true))
  }

  // Current open block state
  private var blockLines: java.util.ArrayList[GenericRecord] = _
  private var blockSecond = -1L
  private var blockCreateTime = -1L
  private var blockNumber = -1L
  private var rows = 0L
  // ingest-mode state; an explicit "unset" flag, not a <0 sentinel — the
  // first timestamp may legitimately be pre-epoch (negative), and a
  // sentinel would re-mint createTime on every negative row until the
  // first non-negative one (one block per line, wrong createTime).
  private var ingestStarted = false
  private var ingestCreateTime = -1L
  private var ingestBlockNumber = -1L

  override def write(row: InternalRow): Unit = {
    val timestamp = row.getLong(0)
    val message = if (row.isNullAt(1)) "" else row.getUTF8String(1).toString
    val eventId = row.getInt(2)
    // Floor math, not truncation: a pre-epoch timestamp (misparsed year,
    // genuinely old archive) must still satisfy ms ∈ [0, 999] — the
    // read side's block-skip and header-count fast paths assume every
    // line of a block lies in [second·1000, second·1000 + 999].
    val second = Math.floorDiv(timestamp, 1000L)
    val ms = Math.floorMod(timestamp, 1000L)

    if (ingest && !ingestStarted) {
      ingestStarted = true
      ingestCreateTime = timestamp
      ingestBlockNumber = 0
    }
    val createTime = if (ingest) ingestCreateTime else row.getLong(3)
    val blkNo = if (ingest) ingestBlockNumber else row.getLong(4)

    val full = blockLines != null && blockLines.size >= BoomSchemas.MaxLinesPerBlock
    val sameBlock = blockLines != null && !full && second == blockSecond &&
      createTime == blockCreateTime && blkNo == blockNumber
    if (!sameBlock) {
      val hadBlock = blockLines != null
      flushBlock()
      // Ingest mode mints a fresh block number on every roll
      // (TextToBoomConverter.java:94-103).
      if (ingest && hadBlock) ingestBlockNumber += 1
      blockSecond = second
      blockCreateTime = createTime
      blockNumber = if (ingest) ingestBlockNumber else blkNo
      blockLines = new java.util.ArrayList[GenericRecord]()
    }

    val rec = new GenericData.Record(lineSchema)
    rec.put("ms", ms)
    rec.put("eventId", eventId)
    rec.put("message", message)
    blockLines.add(rec)
    rows += 1
  }

  private def flushBlock(): Unit = {
    if (blockLines != null && !blockLines.isEmpty) {
      val rec = new GenericData.Record(blockSchema)
      rec.put("second", blockSecond)
      rec.put("createTime", blockCreateTime)
      rec.put("blockNumber", blockNumber)
      rec.put("logLines", blockLines)
      writer.append(rec)
    }
    blockLines = null
  }

  /** Task commit closes and STAGES the file; the rename to the final name is
    * deferred to [[BoomBatchWrite.commit]] so nothing becomes visible unless
    * the whole job succeeds.
    */
  override def commit(): WriterCommitMessage = {
    flushBlock()
    if (rows > 0) {
      writer.close()
      BoomCommitMessage(Seq(tmpPath.toString -> finalPath.toString), rows)
    } else {
      BoomCommitMessage(Seq.empty, 0)
    }
  }

  override def abort(): Unit = {
    try writer.close() catch { case _: Exception => () }
    fs.delete(tmpPath, false)
  }

  override def close(): Unit = ()
}
