package graft.engine

import graft.boom.BoomDataSource
import graft.core.LogLine
import graft.functions.functions.format_log_date

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
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
    else filtered(spark, inputs).as[LogLine]
  }

  /** Boom scan of `files` → time filter → content predicate. */
  private def filtered(spark: SparkSession, files: Seq[String]): DataFrame = {
    var df = spark.read.format("boom").load(files: _*)
    if (startMs != Long.MinValue) df = df.filter(col("timestamp") >= startMs)
    if (endMs != Long.MaxValue) df = df.filter(col("timestamp") < endMs)
    df.filter(predicate.toColumn(col("message")))
  }

  /** Pig formatAndSort stage (pig/formatAndSort.pg:24-47): quarantine rows
    * with null sort keys, project `CONCAT(DateFormatter(time), ' ', message)`,
    * drop null-formatted rows, ORDER BY the canonical key, keep only the
    * formatted column.
    *
    * CATALOG queries (the logcat/loggrep/logsearch CLI path) skip the global
    * sort's range-sampling pass + shuffle entirely: each hour bucket is read
    * into one partition and sorted within it, buckets concatenated in hour
    * order ([[formattedByHour]]) — no Exchange anywhere in the plan. The
    * catalog layout guarantees an hour directory only holds that hour's
    * lines (fs/PathInfo.java:21-86), which is what makes the concatenation
    * a correct global order. Explicit-path queries (no layout guarantee)
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
    * queries. Parallelism is one task per hour — the right trade for the
    * bounded ranges logcat serves (at 100 TB a logcat window is
    * hours-to-days of one component, and hours sort independently).
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
    val df = filtered(spark, files)
    if (rangeSort) LogQuery.formatAndSort(df, dateFormat)
    else
      LogQuery.format(df, dateFormat)
        .coalesce(1)
        .sortWithinPartitions(LogQuery.SortCols.map(col): _*)
        .select("formatted")
  }

  /** Formatted lines collected to the driver — the `logcat`-to-stdout path.
    * Streams partitions in order; never materializes the whole result.
    */
  def printTo(spark: SparkSession, out: String => Unit): Long = {
    var n = 0L
    formatted(spark).toLocalIterator().forEachRemaining { s => out(s); n += 1 }
    n
  }
}

object LogQuery {
  /** The canonical output order (pig/formatAndSort.pg:40). */
  val SortCols: Seq[String] = Seq("timestamp", "createTime", "blockNumber", "lineNumber")

  /** Per-hour byte ceiling for the exchange-free single-task hour sort
    * (compressed on-disk bytes; boom decompresses ~5-10×, so 1 GiB here
    * is a several-GiB single-task sort — the edge of comfortable). Hours
    * past it route to the range-partitioned sort in
    * [[LogQuery#formattedByHour]].
    */
  val DefaultHourSortMaxBytes: Long = 1L << 30

  /** Quarantine + format stages, keeping the sort-key columns. */
  private[engine] def format(df: DataFrame, dateFormat: String): DataFrame = {
    val good = SortCols.map(col(_).isNotNull).reduce(_ && _)
    df.filter(good)
      .withColumn("formatted",
        concat(format_log_date(col("timestamp"), dateFormat), lit(" "), col("message")))
      .filter(col("formatted").isNotNull)
  }

  /** The sort-and-format stage as a standalone transformation (usable on any
    * DataFrame with the LogLine columns).
    */
  def formatAndSort(df: DataFrame, dateFormat: String = "RFC5424"): DataFrame =
    format(df, dateFormat)
      .orderBy(SortCols.map(col): _*)
      .select("formatted")

  /** Rows with null sort keys — the Pig `bad_data` split (formatAndSort.pg:24-38). */
  def badData(df: DataFrame): DataFrame =
    df.filter(SortCols.map(col(_).isNull).reduce(_ || _))
}
