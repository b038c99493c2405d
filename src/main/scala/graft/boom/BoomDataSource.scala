package graft.boom

import java.util.OptionalLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

import graft.core.LogLine

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, WriteBuilder}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

/** Spark DataSource v2 for the reference's Boom (`.bm`) log container.
  *
  * Usage: `spark.read.format("boom").load(paths: _*)` → the flat 6-column
  * log-line table ([[graft.core.LogLine.schema]]), and
  * `ds.write.format("boom").mode("append").save(dir)`.
  *
  * Spark-first replacement for the reference's MapReduce input formats
  * (mapreduce/boom/BoomInputFormat.java, BoomRecordReader.java): the
  * block-metadata × line flatten happens in the reader, small files are
  * bin-packed into partitions like CombineFileInputFormat did, and the
  * reference's hand-built scan optimizations (hour pruning aside, which the
  * catalog layer does) become DSv2 pushdowns:
  *
  *   - time-range predicates on `timestamp` skip whole blocks by their
  *     `second` prefix (FastSearch.java:266-269);
  *   - `StringContains` on `message` is tested byte-wise during decode
  *     (FastSearch.java:215-224);
  *   - column pruning skips message string decode entirely.
  */
class BoomDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "boom"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = LogLine.schema

  override def supportsExternalMetadata(): Boolean = true

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table =
    new BoomTable(BoomDataSource.extractPaths(properties))
}

object BoomDataSource {
  /** The JSON codec of the "paths" option — Spark's DataFrameReader writes
    * it with a Jackson `ObjectMapper` — and of [[BoomOffset]].
    */
  private[boom] val json = new ObjectMapper()

  /** DataFrameReader/Writer stash paths under "path" or a JSON "paths" array. */
  def extractPaths(properties: java.util.Map[String, String]): Seq[String] =
    Option(properties.get("paths")).toSeq
      .flatMap(p => json.readValue(p, classOf[Array[String]]).toSeq) ++
      Option(properties.get("path"))

  /** Expand input paths (globs allowed) to the concrete data files a Boom
    * read ingests — THE entry rule, shared by the scan, the streaming
    * source, the catalog and maintenance: recurse into directories, skip
    * `_*`, `.*`, `*.tmp` (reference: fs/FileManager.java:42-51) and empty
    * files.
    */
  def listFiles(conf: Configuration, paths: Seq[String]): Seq[FileStatus] = {
    val out = ArrayBuffer[FileStatus]()
    def keep(p: Path): Boolean = {
      val n = p.getName
      !n.startsWith("_") && !n.startsWith(".") && !n.endsWith(".tmp")
    }
    def walk(status: FileStatus, fs: org.apache.hadoop.fs.FileSystem): Unit = {
      if (status.isDirectory) {
        fs.listStatus(status.getPath).foreach { child =>
          if (keep(child.getPath)) walk(child, fs)
        }
      } else if (status.getLen > 0) out += status
    }
    paths.foreach { p =>
      val path = new Path(p)
      val fs = path.getFileSystem(conf)
      val matches = Option(fs.globStatus(path)).getOrElse(Array.empty)
      matches.foreach(s => if (keep(s.getPath)) walk(s, fs))
    }
    out.toSeq
  }
}

class BoomTable(paths: Seq[String]) extends Table with SupportsRead with SupportsWrite {
  override def name(): String = s"boom(${paths.mkString(",")})"
  override def schema(): StructType = LogLine.schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(
      TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new BoomScanBuilder(paths, options)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new BoomWriteBuilder(paths, info)
}

/** V2-predicate pushdown (`SupportsPushDownV2Filters`, not the V1 `Filter`
  * API) so the OR and case-insensitive search forms reach the scan:
  *
  *   - `timestamp` bounds (block skip + split pruning);
  *   - `CONTAINS(message, t)` — logsearch;
  *   - `OR` trees of contains — logmultisearch any-term
  *     (util/MultiSearch.java:165-198), one pushed clause of N terms;
  *   - `CONTAINS(UPPER(message), T)` — the `--i` forms
  *     (util/FastSearch.java:233-249); the term tests against the uppercased
  *     line/block.
  *
  * Accepted predicates are ABSORBED (not returned as residual): the reader
  * enforces them exactly — per-LINE `base+ms` range test and per-line
  * clause test with the same `UTF8String.contains`/`toUpperCase` Spark's
  * own Contains/Upper use — and GoldenQuerySpec pins the semantics against
  * the reference goldens. Absorption is what unlocks the two wins a
  * residual-everything policy forfeits: `message` can be PRUNED while
  * pushed clauses still filter (no string copy per surviving line), and
  * Spark's aggregate pushdown rule fires (it requires no post-scan
  * Filter), enabling the aggregate fast path below. Unparsed predicates
  * stay residual as before.
  *
  * Aggregate pushdown (`SupportsPushDownAggregates`): a global, ungrouped
  * COUNT(*) / MIN(timestamp) / MAX(timestamp) under time-only predicates
  * (the reference's A4 "result count" counter, IndexLogs-style totals)
  * becomes a header-walk scan — per-line varint/length skips, no BoomLine,
  * no message bytes, ONE row per task — with Spark merging the
  * per-partition partials. Gated off when term clauses are pushed (a term
  * test must decode messages anyway).
  */
class BoomScanBuilder(paths: Seq[String], options: CaseInsensitiveStringMap)
    extends ScanBuilder with SupportsPushDownV2Filters
    with SupportsPushDownRequiredColumns with SupportsPushDownAggregates {

  import org.apache.spark.sql.connector.expressions.{Expression => VExpr, GeneralScalarExpression, NamedReference}
  import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, CountStar, Max, Min}
  import org.apache.spark.sql.connector.expressions.filter.Predicate
  import org.apache.spark.sql.graft.V2ExprBridge
  import org.apache.spark.sql.types.{LongType, StringType}

  private var requiredSchema: StructType = LogLine.schema
  private var pushed: Array[Predicate] = Array.empty
  private var minTs: Long = Long.MinValue
  private var maxTsExcl: Long = Long.MaxValue
  private var clauses: Vector[Seq[BoomTerm]] = Vector.empty

  private def isCol(e: VExpr, name: String): Boolean = e match {
    case r: NamedReference => r.fieldNames.length == 1 && r.fieldNames()(0) == name
    case _ => false
  }

  private def longLit(e: VExpr): Option[Long] = V2ExprBridge.literal(e) match {
    case Some((v: Long, LongType)) => Some(v)
    case _ => None
  }

  private def strLit(e: VExpr): Option[UTF8String] = V2ExprBridge.literal(e) match {
    case Some((v: UTF8String, StringType)) => Some(v)
    case _ => None
  }

  /** Timestamp bound in either operand order; tightens [minTs, maxTsExcl). */
  private def acceptTsBound(p: Predicate): Boolean = {
    val ch = p.children()
    if (ch.length != 2) return false
    val refFirst = isCol(ch(0), "timestamp")
    val litOpt = if (refFirst) longLit(ch(1))
      else if (isCol(ch(1), "timestamp")) longLit(ch(0))
      else None
    litOpt match {
      case Some(v) =>
        // `v + 1` wraps at Long.MaxValue: `timestamp <= Long.MaxValue`
        // would absorb as maxTsExcl = Long.MinValue and skip EVERY block
        // (and `> MaxValue` would keep every row). Leave such bounds as a
        // residual filter — Spark evaluates them post-scan, correctly.
        def incExact(x: Long): Option[Long] =
          if (x == Long.MaxValue) None else Some(x + 1)
        (p.name(), refFirst) match {
          case (">=", true) | ("<=", false) => minTs = math.max(minTs, v); true
          case (">", true) | ("<", false) =>
            incExact(v).exists { b => minTs = math.max(minTs, b); true }
          case ("<", true) | (">", false) => maxTsExcl = math.min(maxTsExcl, v); true
          case ("<=", true) | (">=", false) =>
            incExact(v).exists { b => maxTsExcl = math.min(maxTsExcl, b); true }
          case ("=", _) =>
            incExact(v).exists { b =>
              minTs = math.max(minTs, v); maxTsExcl = math.min(maxTsExcl, b)
              true
            }
          case _ => false
        }
      case None => false
    }
  }

  /** `CONTAINS(message, t)` / `CONTAINS(UPPER(message), T)` → one term. */
  private def parseContains(p: Predicate): Option[BoomTerm] = {
    if (p.name() != "CONTAINS" || p.children().length != 2) return None
    strLit(p.children()(1)).flatMap { term =>
      p.children()(0) match {
        case e if isCol(e, "message") => Some(BoomTerm(term, onUpper = false))
        case g: GeneralScalarExpression
            if g.name() == "UPPER" && g.children().length == 1 &&
              isCol(g.children()(0), "message") =>
          Some(BoomTerm(term, onUpper = true))
        case _ => None
      }
    }
  }

  /** OR tree of contains → one clause (any-term-matches). */
  private def parseClause(p: Predicate): Option[Seq[BoomTerm]] = p.name() match {
    case "OR" =>
      p.children().toSeq match {
        case Seq(l: Predicate, r: Predicate) =>
          for (a <- parseClause(l); b <- parseClause(r)) yield a ++ b
        case _ => None
      }
    case "CONTAINS" => parseContains(p).map(Seq(_))
    case _ => None
  }

  override def pushPredicates(predicates: Array[Predicate]): Array[Predicate] = {
    val accepted = ArrayBuffer[Predicate]()
    val residual = ArrayBuffer[Predicate]()
    predicates.foreach { p =>
      if (acceptTsBound(p)) accepted += p
      else parseClause(p) match {
        case Some(cl) => clauses :+= cl; accepted += p
        case None => residual += p
      }
    }
    pushed = accepted.toArray
    residual.toArray // accepted predicates are absorbed — see class doc
  }

  override def pushedPredicates(): Array[Predicate] = pushed

  override def pruneColumns(required: StructType): Unit = requiredSchema = required

  private var aggsPushed: Seq[String] = Nil

  /** Global (ungrouped) COUNT(*) / MIN(timestamp) / MAX(timestamp), in
    * any combination, under time-only predicates. COUNT alone credits
    * wholly-in-range blocks from their array headers with no `ms` read;
    * any MIN/MAX also reads each line's `ms` varint (still no message
    * decode, ONE row per task; Spark merges the partials with
    * sum/min/max). Gated off when term clauses are pushed — a term test
    * must decode messages.
    */
  override def pushAggregation(aggregation: Aggregation): Boolean = {
    if (clauses.nonEmpty || aggregation.groupByExpressions().nonEmpty) return false
    val parsed = aggregation.aggregateExpressions().map {
      case _: CountStar => "count"
      case m: Min if isCol(m.column, "timestamp") => "min"
      case m: Max if isCol(m.column, "timestamp") => "max"
      case _ => return false
    }
    if (parsed.isEmpty) return false
    aggsPushed = parsed.toSeq
    true
  }

  override def build(): Scan = {
    val spark = SparkSession.active
    val hconf = spark.sessionState.newHadoopConf()
    val files = BoomDataSource.listFiles(hconf, paths)
    val pushdown = BoomPushdown(
      minTs = minTs,
      maxTsExcl = maxTsExcl,
      clauses = clauses,
      needMessage = aggsPushed.isEmpty &&
        requiredSchema.fieldNames.contains("message"))
    new BoomScan(paths, files, requiredSchema, pushdown, options, hconf,
      pushedAggs = aggsPushed)
  }
}

/** One byte-range slice of a Boom file, bounded by Avro sync markers at read
  * time (length = Long.MaxValue means "to end of file").
  */
case class BoomFileSlice(path: String, start: Long, length: Long) {
  def open(pushdown: BoomPushdown, hconf: Configuration): BoomFileRangeIterator = {
    val end = if (length == Long.MaxValue) Long.MaxValue else start + length
    new BoomFileRangeIterator(
      new org.apache.avro.mapred.FsInput(new Path(path), hconf),
      pushdown, start, end, path)
  }
}

/** A bin-packed group of file slices read by one task. */
case class BoomInputPartition(slices: Array[BoomFileSlice], totalBytes: Long) extends InputPartition

class BoomScan(
    paths: Seq[String],
    files: Seq[FileStatus],
    requiredSchema: StructType,
    pushdown: BoomPushdown,
    options: CaseInsensitiveStringMap,
    hconf: Configuration,
    pushedAggs: Seq[String] = Nil) extends Scan with Batch with SupportsReportStatistics {

  override def readSchema(): StructType =
    if (pushedAggs.nonEmpty) {
      pushedAggs.foldLeft(new StructType()) { (st, a) =>
        a match {
          case "count" => st.add("count(*)",
            org.apache.spark.sql.types.LongType, nullable = false)
          case "min" => st.add("min(timestamp)",
            org.apache.spark.sql.types.LongType, nullable = true)
          case "max" => st.add("max(timestamp)",
            org.apache.spark.sql.types.LongType, nullable = true)
        }
      }
    } else requiredSchema
  override def toBatch: Batch = this

  override def toMicroBatchStream(
      checkpointLocation: String): org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new BoomMicroBatchStream(paths, requiredSchema, options)
  override def description(): String =
    s"boom [${files.size} files, pushdown=$pushdown, " +
      s"pushedAggs=[${pushedAggs.mkString(",")}]]"

  /** Slice large files at (future) Avro sync boundaries and bin-pack the
    * slices, mirroring Spark's own `FilePartition.maxSplitBytes` sizing: many
    * small `.bm` files coalesce into one task (the CombineFileInputFormat
    * role — BoomInputFormat.java:48-71) while one big file fans out across
    * the cluster (the splittable-Avro role — the reader aligns each slice to
    * sync markers exactly like BoomRecordReader.java:93 did).
    */
  override def planInputPartitions(): Array[InputPartition] = {
    val conf = SQLConf.get
    val maxSplit = conf.filesMaxPartitionBytes
    val openCost = conf.filesOpenCostInBytes
    val parallelism = SparkSession.active.sparkContext.defaultParallelism
    val totalCost = files.map(_.getLen + openCost).sum
    val target = math.max(openCost, math.min(maxSplit, totalCost / math.max(1, parallelism)))

    val slices = ArrayBuffer[(BoomFileSlice, Long)]() // slice -> cost
    files.foreach { f =>
      if (f.getLen <= target) {
        slices += ((BoomFileSlice(f.getPath.toString, 0L, Long.MaxValue), f.getLen + openCost))
      } else {
        var off = 0L
        while (off < f.getLen) {
          val len = math.min(target, f.getLen - off)
          slices += ((BoomFileSlice(f.getPath.toString, off, len), len + openCost))
          off += len
        }
      }
    }

    val partitions = ArrayBuffer[BoomInputPartition]()
    val current = ArrayBuffer[BoomFileSlice]()
    var currentBytes = 0L
    // Largest-first keeps bins balanced.
    slices.sortBy(-_._2).foreach { case (slice, cost) =>
      if (currentBytes > 0 && currentBytes + cost > target) {
        partitions += BoomInputPartition(current.toArray, currentBytes)
        current.clear(); currentBytes = 0L
      }
      current += slice
      currentBytes += cost
    }
    if (current.nonEmpty) partitions += BoomInputPartition(current.toArray, currentBytes)
    // Pushed-aggregate scans must emit at least one partial row: Spark's
    // partial rewrite turns COUNT into Sum-over-partials with NO zero
    // coalesce, so zero partitions would make COUNT(*) return NULL
    // instead of 0 on an empty/none-visible directory. One empty slice
    // set produces the (0, null, null) partial.
    if (partitions.isEmpty && pushedAggs.nonEmpty)
      partitions += BoomInputPartition(Array.empty, 0L)
    partitions.toArray
  }

  /** The Hadoop conf (~110 KB serialized) goes out as ONE broadcast per
    * scan, as Spark's own file sources ship it, not inside every task.
    * Memoized: planning asks for the factory more than once per scan.
    */
  private lazy val readerFactory = new BoomReaderFactory(requiredSchema, pushdown,
    SparkSession.active.sparkContext.broadcast(new SerializableConfiguration(hconf)), pushedAggs)

  override def createReaderFactory(): PartitionReaderFactory = readerFactory

  /** Public surface for plan assertions: which aggregates were pushed? */
  def aggsPushed: Seq[String] = pushedAggs

  override def estimateStatistics(): Statistics = new Statistics {
    // Rows ≈ inflated bytes / ~150 B/line. Rough but lets Catalyst
    // consider broadcasting small Boom relations.
    private val inflated = files.map(_.getLen).sum * BoomSchemas.InflationBound
    override def sizeInBytes(): OptionalLong = OptionalLong.of(inflated)
    override def numRows(): OptionalLong = OptionalLong.of(math.max(1L, inflated / 150))
  }
}

/** Row reader per partition, or — when aggregates were pushed — one
  * partial-aggregate row per partition. The Hadoop conf arrives as a
  * broadcast: a local-mode task reads the driver's object, and an executor
  * deserializes it once per scan, not once per task.
  */
class BoomReaderFactory(
    requiredSchema: StructType,
    pushdown: BoomPushdown,
    hconf: Broadcast[SerializableConfiguration],
    aggs: Seq[String] = Nil) extends PartitionReaderFactory {

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[BoomInputPartition]
    val conf = hconf.value.value
    if (aggs.nonEmpty) new BoomAggPartitionReader(p, pushdown, aggs, conf)
    else new BoomPartitionReader(p, requiredSchema, pushdown, conf)
  }
}

/** Pushed-aggregate task (COUNT(*), MIN/MAX(timestamp), any combination):
  * drain each slice in aggregate mode
  * ([[BoomFileRangeIterator.statsRemaining]] — header/varint walks, zero
  * row or message materialization) and emit ONE partial row in the
  * pushed-aggregate order; Spark's final aggregation merges the partials
  * (sum / min / max). The distributed form of the reference's A4 result
  * counter. MIN/MAX are null when the task saw no surviving line —
  * Spark's Min/Max ignore null partials.
  */
class BoomAggPartitionReader(
    partition: BoomInputPartition,
    pushdown: BoomPushdown,
    aggs: Seq[String],
    hconf: Configuration) extends PartitionReader[InternalRow] {

  private var emitted = false
  private var row: InternalRow = _

  override def next(): Boolean = {
    if (emitted) return false
    val stats = new BoomAggStats(extremes = aggs.exists(_ != "count"))
    partition.slices.foreach { slice =>
      val it = slice.open(pushdown, hconf)
      try it.statsRemaining(stats) finally it.close()
    }
    val r = new GenericInternalRow(aggs.length)
    aggs.zipWithIndex.foreach { case (a, i) =>
      a match {
        case "count" => r.setLong(i, stats.cnt)
        case "min" =>
          if (stats.cnt == 0L) r.setNullAt(i) else r.setLong(i, stats.minTs)
        case "max" =>
          if (stats.cnt == 0L) r.setNullAt(i) else r.setLong(i, stats.maxTs)
      }
    }
    row = r
    emitted = true
    true
  }

  override def get(): InternalRow = row

  override def close(): Unit = ()
}

class BoomPartitionReader(
    partition: BoomInputPartition,
    requiredSchema: StructType,
    pushdown: BoomPushdown,
    hconf: Configuration) extends PartitionReader[InternalRow] {

  // Ordinal of each output column: 0=timestamp 1=message 2=eventId
  // 3=createTime 4=blockNumber 5=lineNumber
  private val fieldIds: Array[Int] = requiredSchema.fieldNames.map {
    case "timestamp" => 0
    case "message" => 1
    case "eventId" => 2
    case "createTime" => 3
    case "blockNumber" => 4
    case "lineNumber" => 5
    case other => throw new IllegalArgumentException(s"Unknown boom column: $other")
  }

  private var sliceIdx = 0
  private var current: BoomFileRangeIterator = _
  private var line: BoomLine = _

  private def advance(): Boolean = {
    while (true) {
      if (current != null && current.hasNext) {
        line = current.next()
        return true
      }
      if (current != null) { current.close(); current = null }
      if (sliceIdx >= partition.slices.length) return false
      current = partition.slices(sliceIdx).open(pushdown, hconf)
      sliceIdx += 1
    }
    false
  }

  override def next(): Boolean = advance()

  override def get(): InternalRow = {
    val row = new GenericInternalRow(fieldIds.length)
    var i = 0
    while (i < fieldIds.length) {
      fieldIds(i) match {
        case 0 => row.setLong(i, line.timestamp)
        case 1 => row.update(i, line.message)
        case 2 => row.setInt(i, line.eventId)
        case 3 => row.setLong(i, line.createTime)
        case 4 => row.setLong(i, line.blockNumber)
        case 5 => row.setLong(i, line.lineNumber)
      }
      i += 1
    }
    row
  }

  override def close(): Unit = {
    if (current != null) { current.close(); current = null }
  }
}
