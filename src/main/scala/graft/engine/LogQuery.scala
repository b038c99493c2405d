package graft.engine

import java.io.{ByteArrayOutputStream, OutputStream}
import java.nio.charset.StandardCharsets.UTF_8

import graft.boom.{BoomDataSource, BoomSchemas}
import graft.core.LogLine
import graft.functions.functions.format_log_date

import scala.collection.mutable.{ArrayBuffer, ArrayBuilder}

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions._

/** The whole query pipeline of the reference's four CLI tools as
  * declarative Spark plans — scan → time filter → content predicate →
  * date-format projection → sort — replacing the reference's two-stage
  * MapReduce-scan + Pig-sort architecture (logtools/LogTools.java:196-510,
  * pig/formatAndSort.pg).
  *
  * {{{
  * LogQuery(root = "/srv", dc = "99", service = "svc", component = "comp")
  *   .range(startMs, endMs)
  *   .where(Search("needle", caseInsensitive = true))
  *   .printTo(spark, println)   // formatted lines in output order
  * }}}
  *
  * Catalyst handles what the reference hand-built: the time filter and
  * substring predicates push into the boom scan (block skip + during-decode
  * test), and everything up to the sort is shuffle-free narrow work. The
  * sort is Pig's ORDER BY, in one of two forms. Stdout ([[writeTo]],
  * [[printTo]]) sorts each scan partition on its own and k-way merges the
  * sorted runs on the driver, each line staying the UTF-8 bytes its
  * executor formatted, when a wave of input fits the driver's budget.
  * Everything else, [[formatted]] (the CLI's `--out`) included, takes the
  * range-partitioned global sort.
  */
case class LogQuery(
    root: String = "",
    dc: String = "*",
    service: String = "*",
    component: String = "*",
    startMs: Long = Long.MinValue,
    endMs: Long = Long.MaxValue,
    predicate: LogPredicate = MatchAll,
    dateFormat: String = "RFC5424",
    paths: Seq[String] = Nil) {

  def range(start: Long, end: Long): LogQuery = copy(startMs = start, endMs = end)
  def where(p: LogPredicate): LogQuery = copy(predicate = p)

  /** The query's input files: each catalog hour's files in hour order, or
    * every file under the explicit `paths`.
    */
  def resolvePaths(spark: SparkSession): Seq[String] =
    resolveHourGroups(spark).flatten.map(_._1)

  /** The filtered log-line table (time range + content predicate applied). */
  def lines(spark: SparkSession): Dataset[LogLine] = {
    import spark.implicits._
    val inputs = resolvePaths(spark)
    if (inputs.isEmpty) spark.emptyDataset[LogLine]
    else scan(spark, inputs).where(conditions.reduce(_ && _)).as[LogLine]
  }

  private def scan(spark: SparkSession, files: Seq[String]): DataFrame =
    spark.read.format("boom").load(files: _*)

  /** The time bounds and the content predicate, as conjuncts. */
  private def conditions: Seq[Column] =
    Option.when(startMs != Long.MinValue)(col("timestamp") >= startMs).toSeq ++
      Option.when(endMs != Long.MaxValue)(col("timestamp") < endMs) :+
      predicate.toColumn(col("message"))

  /** Boom scan of `files` → filter → format. Every Dataset step is analysed
    * eagerly, at 1-2 ms each, so all [[conditions]] and the quarantine share
    * ONE `where`: a query's fixed cost, not its scan, dominates at
    * interactive scale.
    */
  private def formattedRows(spark: SparkSession, files: Seq[String]): DataFrame =
    LogQuery.format(scan(spark, files), dateFormat, conditions)

  /** Pig formatAndSort stage (pig/formatAndSort.pg:24-47): quarantine rows
    * with null sort keys, project `CONCAT(DateFormatter(time), ' ', message)`,
    * drop null-formatted rows, ORDER BY the canonical key (a
    * range-partitioned sort), keep only the formatted column.
    */
  def formatted(spark: SparkSession): Dataset[String] = {
    import spark.implicits._
    LogQuery.formatAndSort(lines(spark).toDF(), dateFormat).as[String]
  }

  // Memoized per query instance: the CLI prints a file count and then runs
  // the query on the SAME instance, so the two share one listing. The cache
  // assumes the files don't change between the two calls of one run.
  @transient private var hourGroupsCache: Seq[Seq[(String, Long)]] = _

  /** The input files with their sizes: one group per catalog hour, in hour
    * order, or ONE group of every file under explicit `paths`, listed by
    * the scan's own rule. No group is empty.
    */
  private def resolveHourGroups(spark: SparkSession): Seq[Seq[(String, Long)]] = {
    if (hourGroupsCache != null) return hourGroupsCache
    val conf = spark.sessionState.newHadoopConf()
    hourGroupsCache =
      if (paths.nonEmpty)
        Seq(BoomDataSource.listFiles(conf, paths).map(s => (s.getPath.toString, s.getLen)))
          .filter(_.nonEmpty)
      else {
        require(startMs != Long.MinValue && endMs != Long.MaxValue,
          "catalog-based queries need a bounded time range: call .range(startMs, endMs) " +
            "or read explicit paths with LogQuery(paths = ...)")
        LogCatalog.resolveByHourWithSizes(conf, root, dc, service, component, startMs, endMs)
      }
    hourGroupsCache
  }

  /** Formatted lines in output order, handed to `out` one at a time.
    * Returns the number of lines. A decoding adapter over [[writeTo]]'s
    * byte path, which the CLI's stdout takes.
    *
    * Consecutive hours pack into waves of at most [[LogQuery.waveBudget]]
    * compressed bytes, which keeps a wave's returned runs under
    * `spark.driver.maxResultSize`. A wave is ONE Boom scan over all of its
    * files: each scan partition filters, formats and sorts its own lines
    * (no exchange), every partition runs in one Spark job, and the driver
    * k-way merges the sorted runs on the full sort key, emitting each line
    * as it is merged. Within a wave the merge is a true global sort; waves
    * follow hour order, which the layout makes time-disjoint
    * (fs/PathInfo.java:21-86). Explicit paths are one group, so they are
    * one wave and need no layout guarantee. A wave over the budget (one
    * hour, or the explicit paths) streams from the range-partitioned sort
    * one partition at a time instead.
    */
  def printTo(spark: SparkSession, out: String => Unit): Long =
    printLines(spark, (b, off, len) => out(new String(b, off, len, UTF_8)))

  /** [[printTo]]'s lines as UTF-8, each followed by `'\n'`, written to
    * `out` without flushing it — the logcat-to-stdout path. The lines stay
    * the bytes the executors formatted, from the sorted run to `out`.
    */
  def writeTo(spark: SparkSession, out: OutputStream): Long =
    printLines(spark, (b, off, len) => { out.write(b, off, len); out.write('\n') })

  private def printLines(spark: SparkSession, out: LogQuery.LineSink): Long =
    printInWaves(spark, out, LogQuery.waveBudget(
      spark.sparkContext.getConf.getSizeAsBytes("spark.driver.maxResultSize", "1g")))

  /** [[printTo]] with the wave budget as a parameter (a test seam). */
  private[engine] def printInWaves(spark: SparkSession, out: LogQuery.LineSink,
      maxWaveBytes: Long): Long = {
    import spark.implicits._
    LogQuery.waves(resolveHourGroups(spark), maxWaveBytes).map { wave =>
      val files = wave.map(_._1)
      if (wave.map(_._2).sum <= maxWaveBytes) LogQuery.merge(sortedRuns(spark, files), out)
      else {
        var n = 0L
        LogQuery.sortFormatted(formattedRows(spark, files)).as[String]
          .toLocalIterator().forEachRemaining { s =>
            val b = s.getBytes(UTF_8)
            out(b, 0, b.length)
            n += 1
          }
        n
      }
    }.sum
  }

  /** One scan over `files`, each partition filtered, formatted and sorted
    * on its own, all partitions run as one job: one sorted run per
    * partition.
    */
  private def sortedRuns(spark: SparkSession, files: Seq[String]): Array[LogQuery.SortedRun] = {
    val qe = formattedRows(spark, files)
      .sortWithinPartitions(LogQuery.SortCols.map(col): _*)
      .queryExecution
    SQLExecution.withNewExecutionId(qe, Some("printTo")) {
      spark.sparkContext.runJob(qe.toRdd,
        (rows: Iterator[InternalRow]) => LogQuery.SortedRun(rows))
    }
  }
}

object LogQuery {
  /** The canonical output order (pig/formatAndSort.pg:40). */
  val SortCols: Seq[String] = Seq("timestamp", "createTime", "blockNumber", "lineNumber")

  /** The most compressed input one [[LogQuery#printTo]] wave reads: the
    * cap on its wave budget, whatever `spark.driver.maxResultSize` allows.
    */
  val MaxWaveBytes: Long = 1L << 30

  /** [[LogQuery#printTo]]'s wave budget in compressed bytes for a driver
    * that accepts at most `maxResultSize` bytes of task results per job
    * (`spark.driver.maxResultSize`; 0 means no limit). A wave's sorted runs
    * carry its decoded lines, so the budget is the limit divided by
    * [[graft.boom.BoomSchemas.InflationBound]], and never more than
    * [[MaxWaveBytes]].
    */
  private[engine] def waveBudget(maxResultSize: Long): Long =
    if (maxResultSize <= 0) MaxWaveBytes
    else math.min(MaxWaveBytes, maxResultSize / BoomSchemas.InflationBound)

  /** Hour groups packed greedily, in order, into waves of at most
    * `maxBytes` (the groups' listed file sizes). Every wave holds at least
    * one hour, so a wave over the budget is a single hour.
    */
  private[engine] def waves(hours: Seq[Seq[(String, Long)]],
      maxBytes: Long): Seq[Seq[(String, Long)]] = {
    val out = ArrayBuffer[Seq[(String, Long)]]()
    var wave = Vector.empty[(String, Long)]
    var bytes = 0L
    hours.foreach { hour =>
      val hourBytes = hour.map(_._2).sum
      if (wave.nonEmpty && bytes + hourBytes > maxBytes) {
        out += wave; wave = Vector.empty; bytes = 0L
      }
      wave ++= hour; bytes += hourBytes
    }
    if (wave.nonEmpty) out += wave
    out.toSeq
  }

  /** Receives one output line as a UTF-8 slice, without its newline. */
  private[engine] trait LineSink {
    def apply(bytes: Array[Byte], off: Int, len: Int): Unit
  }

  /** One partition's lines in [[SortCols]] order, as three primitive
    * arrays, so a task result serializes without per-line work: `keys`
    * holds the four sort-key longs of line `i` at `4 * i` until
    * `4 * i + 3`, and its UTF-8 text is `bytes` from `start(i)` until
    * `ends(i)`.
    */
  private[engine] final class SortedRun(val keys: Array[Long], val bytes: Array[Byte],
      val ends: Array[Int]) extends Serializable {
    def size: Int = ends.length
    def start(i: Int): Int = if (i == 0) 0 else ends(i - 1)
  }

  private[engine] object SortedRun {
    /** Reads rows of (SortCols..., formatted), copying each formatted
      * line's bytes as they are.
      */
    def apply(rows: Iterator[InternalRow]): SortedRun = {
      val keys = new ArrayBuilder.ofLong
      val text = new ByteArrayOutputStream(1 << 12)
      val ends = new ArrayBuilder.ofInt
      // `addOne`, not `+=`: the generic `+=` boxes every element.
      rows.foreach { r =>
        var i = 0
        while (i < 4) { keys.addOne(r.getLong(i)); i += 1 }
        r.getUTF8String(4).writeTo(text)
        ends.addOne(text.size)
      }
      new SortedRun(keys.result(), text.toByteArray, ends.result())
    }
  }

  /** Streaming k-way merge of sorted runs on (SortCols, run index).
    * Returns the number of lines.
    */
  private[engine] def merge(runs: Array[SortedRun], out: LineSink): Long = {
    val pos = new Array[Int](runs.length)
    def compare(a: Int, b: Int): Int = {
      val ka = runs(a).keys; val kb = runs(b).keys
      var c = 0
      var i = 0
      while (c == 0 && i < 4) {
        c = java.lang.Long.compare(ka(4 * pos(a) + i), kb(4 * pos(b) + i)); i += 1
      }
      if (c != 0) c else Integer.compare(a, b)
    }
    val heap = new java.util.PriorityQueue[Integer](math.max(1, runs.length),
      (a: Integer, b: Integer) => compare(a, b))
    runs.indices.foreach(r => if (runs(r).size > 0) heap.add(r))
    var n = 0L
    while (!heap.isEmpty) {
      val r: Int = heap.poll()
      val run = runs(r)
      val i = pos(r)
      val from = run.start(i)
      out(run.bytes, from, run.ends(i) - from)
      pos(r) = i + 1
      if (pos(r) < run.size) heap.add(r)
      n += 1
    }
    n
  }

  /** `conditions` + quarantine (one filter), then the format stage: the
    * [[SortCols]] and `formatted`, rows with a null `formatted` dropped.
    */
  private[engine] def format(df: DataFrame, dateFormat: String,
      conditions: Seq[Column] = Nil): DataFrame =
    df.where((conditions ++ SortCols.map(col(_).isNotNull)).reduce(_ && _))
      .select(SortCols.map(col) :+
        concat(format_log_date(col("timestamp"), dateFormat), lit(" "), col("message"))
          .as("formatted"): _*)
      .where(col("formatted").isNotNull)

  private def sortFormatted(formatted: DataFrame): DataFrame =
    formatted.orderBy(SortCols.map(col): _*).select("formatted")

  /** The sort-and-format stage as a standalone transformation (usable on any
    * DataFrame with the LogLine columns).
    */
  def formatAndSort(df: DataFrame, dateFormat: String = "RFC5424"): DataFrame =
    sortFormatted(format(df, dateFormat))

  /** Rows with null sort keys — the Pig `bad_data` split (formatAndSort.pg:24-38). */
  def badData(df: DataFrame): DataFrame =
    df.filter(SortCols.map(col(_).isNull).reduce(_ || _))
}
