package graft.engine

import graft.boom.BoomSchemas
import graft.core.LogLine
import graft.functions.functions.format_log_date

import scala.collection.mutable.{ArrayBuffer, ArrayBuilder}

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions._

/** The whole query pipeline of the reference's four CLI tools as ONE declarative
  * Spark plan — scan → time filter → content predicate → date-format projection
  * → global sort → single output column — replacing the reference's two-stage
  * MapReduce-scan + Pig-sort architecture (logtools/LogTools.java:196-510,
  * pig/formatAndSort.pg).
  *
  * {{{
  * LogQuery(root = "/srv", dc = "99", service = "svc", component = "comp")
  *   .range(startMs, endMs)
  *   .where(Search("needle", caseInsensitive = true))
  *   .formatted(spark)          // ordered Dataset of final formatted lines
  * }}}
  *
  * Catalyst handles what the reference hand-built: the time filter and
  * substring predicates push into the boom scan (block skip + during-decode
  * test), the final `orderBy` is a range-partitioned sort (Pig's sampled
  * ORDER BY), and everything before it is shuffle-free narrow work.
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

  def resolvePaths(spark: SparkSession): Seq[String] = {
    if (paths.nonEmpty) return paths
    // Derived from the memoized hour groups: the CLI drivers print a file
    // count and then run the query on the SAME instance — two independent
    // listings would glob every hour directory twice against the
    // filesystem/namenode (hundreds of calls on a multi-day range).
    resolveHourGroups(spark).flatten.map(_._1)
  }

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
    * drop null-formatted rows, ORDER BY the canonical key, keep only the
    * formatted column.
    *
    * CATALOG queries (the CLI's `--out` path; stdout goes through
    * [[printTo]]) skip the global sort's range-sampling pass + shuffle
    * entirely: each hour bucket is read into one partition and sorted
    * within it, buckets concatenated in hour order ([[formattedByHour]]) —
    * no Exchange anywhere in the plan. The catalog layout guarantees an
    * hour directory only holds that hour's lines (fs/PathInfo.java:21-86),
    * which is what makes the concatenation a correct global order. Explicit-path queries (no layout guarantee)
    * use the range-partitioned global sort.
    */
  def formatted(spark: SparkSession): Dataset[String] = {
    import spark.implicits._
    if (paths.isEmpty) formattedByHour(spark)
    else LogQuery.formatAndSort(lines(spark).toDF(), dateFormat).as[String]
  }

  /** Ordered logcat output with NO Exchange for normally-sized hours: one
    * sorted partition per catalog hour, concatenated in hour order. Correct
    * global order relies on the layout invariant that an hour directory
    * only holds lines of that hour (fs/PathInfo.java:21-86 — the uploaders
    * and the hourly writer both guarantee it); data violating it would sort
    * within the wrong bucket. This is [[formatted]]'s default for catalog
    * queries. The hour branches are NOT one task each: Spark plans the union
    * of single-partition branches as one output partition
    * (`spark.sql.unionOutputPartitioning`), so writing this Dataset (the
    * CLI's `--out`) runs the whole window in one task. [[printTo]] does not
    * read through here; it merges parallel sorted runs instead.
    *
    * OVERSIZED hours route themselves to the range sort automatically: the
    * catalog listing's file sizes (free — the same globStatus pass) total
    * per hour, and an hour past `maxHourBytes` becomes a range-partitioned
    * intra-hour global sort instead of one giant single-task sort. The
    * concatenation stays a correct global order either way — a range sort's
    * output partitions are themselves in key order, so unioning them
    * between the neighbouring hours' single partitions preserves it.
    */
  def formattedByHour(
      spark: SparkSession,
      maxHourBytes: Long = LogQuery.DefaultHourSortMaxBytes): Dataset[String] = {
    import spark.implicits._
    val hourGroups = resolveHourGroups(spark)
    if (hourGroups.isEmpty) spark.emptyDataset[String]
    else hourGroups.map { files =>
      hourBranch(spark, files.map(_._1),
        rangeSort = files.map(_._2).sum > maxHourBytes)
    }.reduce(_ unionByName _).as[String]
  }

  // Memoized per query instance (the CLI count + the query itself share
  // one catalog pass). The cache assumes the catalog doesn't change
  // between the two calls of one run — the same assumption the two-pass
  // version silently made, minus the second listing.
  @transient private var hourGroupsCache: Seq[Seq[(String, Long)]] = _

  private def resolveHourGroups(spark: SparkSession): Seq[Seq[(String, Long)]] = {
    if (hourGroupsCache != null) return hourGroupsCache
    require(startMs != Long.MinValue && endMs != Long.MaxValue,
      "catalog-based queries need a bounded time range: call .range(startMs, endMs) " +
        "or read explicit paths with LogQuery(paths = ...)")
    hourGroupsCache = LogCatalog.resolveByHourWithSizes(
      spark.sessionState.newHadoopConf(), root, dc, service, component, startMs, endMs)
    hourGroupsCache
  }

  /** One hour bucket → filtered, formatted, sorted. Normal hours sort in a
    * single coalesced partition (exchange-free); an hour flagged oversized
    * by the catalog byte total takes the range-partitioned sort instead.
    */
  private def hourBranch(spark: SparkSession, files: Seq[String],
      rangeSort: Boolean): DataFrame = {
    val df = formattedRows(spark, files)
    if (rangeSort) LogQuery.sortFormatted(df)
    else
      df.coalesce(1)
        .sortWithinPartitions(LogQuery.SortCols.map(col): _*)
        .select("formatted")
  }

  /** Formatted lines in output order, handed to `out` one at a time — the
    * logcat-to-stdout path. Returns the number of lines.
    *
    * CATALOG queries pack consecutive hours into waves of at most
    * [[LogQuery.waveBudget]] compressed bytes, which keeps a wave's
    * returned runs under `spark.driver.maxResultSize`. A wave is ONE
    * Boom scan over all of its files: each scan partition filters, formats
    * and sorts its own lines (no exchange), every partition runs in one
    * Spark job, and the driver k-way merges the sorted runs on the full
    * sort key, emitting each line as it is merged. Within a wave the merge
    * is a true global sort; waves follow hour order, which the layout makes
    * time-disjoint (fs/PathInfo.java:21-86). An hour over the budget on its
    * own, and every explicit-path query, streams from the range-partitioned
    * sort one partition at a time instead.
    */
  def printTo(spark: SparkSession, out: String => Unit): Long =
    printInWaves(spark, out, LogQuery.waveBudget(
      spark.sparkContext.getConf.getSizeAsBytes("spark.driver.maxResultSize", "1g")))

  /** [[printTo]] with the wave budget as a parameter (a test seam). */
  private[engine] def printInWaves(spark: SparkSession, out: String => Unit,
      maxWaveBytes: Long): Long = {
    import spark.implicits._
    var n = 0L
    def emit(s: String): Unit = { out(s); n += 1 }
    def stream(ds: Dataset[String]): Unit = ds.toLocalIterator().forEachRemaining(emit(_))
    if (paths.nonEmpty) stream(formatted(spark))
    else LogQuery.waves(resolveHourGroups(spark), maxWaveBytes).foreach { wave =>
      val files = wave.map(_._1)
      if (wave.map(_._2).sum > maxWaveBytes)
        stream(hourBranch(spark, files, rangeSort = true).as[String])
      else LogQuery.merge(sortedRuns(spark, files), emit)
    }
    n
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

  /** Per-hour byte ceiling for the exchange-free single-task hour sort
    * (compressed on-disk bytes; boom decompresses ~5-10×, so 1 GiB here
    * is a several-GiB single-task sort — the edge of comfortable). Hours
    * past it route to the range-partitioned sort in
    * [[LogQuery#formattedByHour]]. It also caps [[LogQuery#printTo]]'s wave
    * budget: the most input whose merged result the driver holds at once.
    */
  val DefaultHourSortMaxBytes: Long = 1L << 30

  /** [[LogQuery#printTo]]'s wave budget in compressed bytes for a driver
    * that accepts at most `maxResultSize` bytes of task results per job
    * (`spark.driver.maxResultSize`; 0 means no limit). A wave's sorted runs
    * carry its decoded lines, so the budget is the limit divided by
    * [[graft.boom.BoomSchemas.InflationBound]], and never more than
    * [[DefaultHourSortMaxBytes]].
    */
  private[engine] def waveBudget(maxResultSize: Long): Long =
    if (maxResultSize <= 0) DefaultHourSortMaxBytes
    else math.min(DefaultHourSortMaxBytes, maxResultSize / BoomSchemas.InflationBound)

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

  /** One partition's lines in [[SortCols]] order: `keys` holds the four
    * sort-key longs of line `i` at `4 * i` until `4 * i + 3`.
    */
  private[engine] final class SortedRun(val keys: Array[Long], val lines: Array[String])
      extends Serializable

  private[engine] object SortedRun {
    /** Reads rows of (SortCols..., formatted). */
    def apply(rows: Iterator[InternalRow]): SortedRun = {
      val keys = new ArrayBuilder.ofLong
      val lines = new ArrayBuilder.ofRef[String]
      rows.foreach { r =>
        var i = 0
        while (i < 4) { keys += r.getLong(i); i += 1 }
        lines += r.getUTF8String(4).toString
      }
      new SortedRun(keys.result(), lines.result())
    }
  }

  /** Streaming k-way merge of sorted runs on (SortCols, run index). */
  private[engine] def merge(runs: Array[SortedRun], out: String => Unit): Unit = {
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
    runs.indices.foreach(r => if (runs(r).lines.nonEmpty) heap.add(r))
    while (!heap.isEmpty) {
      val r: Int = heap.poll()
      out(runs(r).lines(pos(r)))
      pos(r) += 1
      if (pos(r) < runs(r).lines.length) heap.add(r)
    }
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
