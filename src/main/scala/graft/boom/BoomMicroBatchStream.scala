package graft.boom

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

/** Offset for the streaming Boom source: the set of files already processed,
  * as a sorted JSON array of paths.
  *
  * Log ingest directories are append-only (the reference's uploaders only ever
  * add files — fs/FileManager semantics), so set-difference between two
  * listings is exactly the new data. A production-hardened variant would
  * compact this into a metadata log like Spark's FileStreamSource; the offset
  * JSON is the simple-and-correct form.
  */
case class BoomOffset(files: Seq[String]) extends Offset {
  override def json(): String = BoomDataSource.json.writeValueAsString(files.sorted.toArray)
}

object BoomOffset {
  def fromJson(json: String): BoomOffset =
    BoomOffset(BoomDataSource.extractPaths(
      java.util.Collections.singletonMap("paths", json)))
}

/** Micro-batch streaming read of Boom directories: each batch is the set of
  * files that appeared since the last offset. Makes
  * `spark.readStream.format("boom").load(dir)` work with the same pushdown
  * reader as the batch path (a streaming extension beyond the reference,
  * which was batch-only — SURVEY.md §2.7).
  */
class BoomMicroBatchStream(
    paths: Seq[String],
    schema: StructType,
    options: CaseInsensitiveStringMap) extends MicroBatchStream {

  private val spark = SparkSession.active
  private val hconf = spark.sessionState.newHadoopConf()
  private val maxFilesPerBatch =
    Option(options.get("maxFilesPerTrigger")).map(_.toInt).getOrElse(Int.MaxValue)

  /** High-water mark: the largest offset this instance has seen — the last
    * end returned by [[latestOffset]], advanced by every deserialized /
    * planned / committed offset. Rate limiting diffs against THIS, not the
    * commit-tracked set: after a restart the checkpointed offset replays
    * through [[deserializeOffset]]/[[planInputPartitions]] before any commit,
    * so already-processed files never count against `maxFilesPerTrigger`
    * (diffing against commits alone would emit several empty, offset-
    * shrinking batches until commits caught back up).
    */
  @volatile private var lastEnd: BoomOffset = BoomOffset(Seq.empty)

  private def advance(o: BoomOffset): BoomOffset = synchronized {
    if (o.files.size > lastEnd.files.size) lastEnd = o
    o
  }

  private def currentFiles(): Seq[String] =
    BoomDataSource.listFiles(hconf, paths).map(_.getPath.toString).sorted

  override def initialOffset(): Offset = BoomOffset(Seq.empty)

  override def latestOffset(): Offset = {
    val now = currentFiles()
    val known = lastEnd.files.toSet
    val fresh = now.filterNot(known)
    val take = fresh.take(maxFilesPerBatch)
    advance(BoomOffset((known ++ take).toSeq.sorted))
  }

  override def deserializeOffset(json: String): Offset =
    advance(BoomOffset.fromJson(json))

  override def commit(end: Offset): Unit =
    advance(end.asInstanceOf[BoomOffset])

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val endOff = advance(end.asInstanceOf[BoomOffset])
    val startSet = start.asInstanceOf[BoomOffset].files.toSet
    val newFiles = endOff.files.filterNot(startSet)
    val out = ArrayBuffer[InputPartition]()
    // One partition per file: streaming batches are small by construction;
    // the batch path's bin-packing applies to backfills via the batch reader.
    newFiles.foreach(f =>
      out += BoomInputPartition(Array(BoomFileSlice(f, 0L, Long.MaxValue)), 0L))
    out.toArray
  }

  /** One broadcast of the Hadoop conf for the stream's life, not one copy
    * per task.
    */
  private lazy val readerFactory = new BoomReaderFactory(schema,
    BoomPushdown(needMessage = schema.fieldNames.contains("message")),
    spark.sparkContext.broadcast(new SerializableConfiguration(hconf)))

  override def createReaderFactory(): PartitionReaderFactory = readerFactory

  override def stop(): Unit = ()
}
