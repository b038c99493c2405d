package graft.engine

import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reference's metadata/reporting tools (IndexLogs, QueryIndex, LogStats —
  * util/IndexLogs.java, QueryIndex.java, LogStats.java) rebuilt as DataFrame
  * jobs over a file-metadata listing.
  *
  * The reference walked HDFS recursively on the driver and aggregated into
  * nested maps; here the walk produces a DataFrame once and every report is a
  * groupBy over it — the listing can also be persisted and queried with SQL.
  */
object Reporting {

  /** Recursive file listing under `<root>/service/` parsed into partition
    * coordinates. Matches the reference's walk pattern
    * `/service/<dc>/<service>/<type>/<yyyyMMdd>/<hh>/<component>/<branch>/...`
    * (IndexLogs.java:44-46: branch ∈ data|incoming|archive).
    */
  def fileListing(spark: SparkSession, root: String): DataFrame = {
    import spark.implicits._
    val conf = spark.sessionState.newHadoopConf()
    // LogCatalog's `<root>/service` join: the empty root is the filesystem
    // root, where `new Path("", "service")` would throw.
    val serviceRoot = new Path(s"$root/service")
    val fs = serviceRoot.getFileSystem(conf)
    val rows = ArrayBuffer[(String, Long, Long)]()
    def walk(p: Path): Unit = {
      val it = fs.listStatusIterator(p)
      while (it.hasNext) {
        val s = it.next()
        if (s.isDirectory) walk(s.getPath)
        else rows += ((s.getPath.toString, s.getLen, s.getModificationTime))
      }
    }
    if (fs.exists(serviceRoot)) walk(serviceRoot)
    // Branch set matches the reference exactly (IndexLogs.java:46:
    // data|incoming|archive) — in-flight working/ files are NOT indexed,
    // so total_size always equals the per-branch column sum.
    val re = ".*/service/([^/]+)/([^/]+)/([^/]+)/(\\d{8})/(\\d{2})/([^/]+)/(data|incoming|archive)(?:/.*)?/[^/]*$"
    rows.toSeq.toDF("path", "size", "mtime")
      .withColumn("dc", regexp_extract(col("path"), re, 1))
      .withColumn("service", regexp_extract(col("path"), re, 2))
      .withColumn("log_type", regexp_extract(col("path"), re, 3))
      .withColumn("date", regexp_extract(col("path"), re, 4))
      .withColumn("hour", regexp_extract(col("path"), re, 5))
      .withColumn("component", regexp_extract(col("path"), re, 6))
      .withColumn("branch", regexp_extract(col("path"), re, 7))
      .where(col("dc") =!= "")
  }

  /** IndexLogs (A1): per (dc, service, log_type, component) rollup — date
    * range, newest archived date, and per-branch sizes. Column set mirrors the
    * reference's CSV header (IndexLogs.java:223-249).
    */
  def indexLogs(listing: DataFrame): DataFrame =
    listing
      .groupBy(col("dc"), col("service"), col("log_type"), col("component"))
      .agg(
        min(col("date")).as("start_date"),
        max(col("date")).as("end_date"),
        max(when(col("branch") === "archive", col("date"))).as("archive_date"),
        sum(col("size")).as("total_size"),
        sum(when(col("branch") === "data", col("size")).otherwise(0L)).as("data_size"),
        sum(when(col("branch") === "incoming", col("size")).otherwise(0L)).as("incoming_size"),
        sum(when(col("branch") === "archive", col("size")).otherwise(0L)).as("archive_size"))
      .orderBy("dc", "service", "log_type", "component")

  /** Unmerged-directories report: hour partitions with incoming data but no
    * data-branch output yet (the reference flagged dirs without `_READY` —
    * IndexLogs.java:141-147).
    */
  def unmerged(listing: DataFrame): DataFrame = {
    val perHour = listing
      .groupBy(col("dc"), col("service"), col("log_type"), col("component"),
        col("date"), col("hour"))
      .agg(
        sum(when(col("branch") === "incoming", 1).otherwise(0)).as("n_incoming"),
        sum(when(col("branch") === "data", 1).otherwise(0)).as("n_data"))
    perHour.where(col("n_incoming") > 0 && col("n_data") === 0)
      .select("dc", "service", "log_type", "component", "date", "hour")
      .orderBy("dc", "service", "log_type", "component", "date", "hour")
  }

  /** QueryIndex (A2): regex-filter the index on every coordinate, restrict to
    * date-range overlap, and add the per-component ingest rate
    * (dataSize/days — QueryIndex.java:220-234).
    */
  def queryIndex(
      index: DataFrame,
      dcRegex: String = ".*",
      serviceRegex: String = ".*",
      typeRegex: String = ".*",
      componentRegex: String = ".*",
      startDate: String = "00000000",
      endDate: String = "99999999"): DataFrame =
    index
      .where(col("dc").rlike(dcRegex) && col("service").rlike(serviceRegex) &&
        col("log_type").rlike(typeRegex) && col("component").rlike(componentRegex))
      .where(col("start_date") <= endDate && col("end_date") >= startDate)
      .withColumn("days",
        datediff(to_date(col("end_date"), "yyyyMMdd"), to_date(col("start_date"), "yyyyMMdd")) + 1)
      .withColumn("bytes_per_day", (col("data_size") / col("days")).cast("long"))

  /** LogStats (A3): ingest volume over time — per (date, hour) total bytes for
    * one dc/service/component (LogStats.java:83-116). Chart rendering stays
    * driver-side, as in the reference.
    */
  def logStats(
      listing: DataFrame,
      dc: String,
      service: String,
      component: String): DataFrame =
    listing
      .where(col("dc") === dc && col("service") === service && col("component") === component)
      .groupBy(col("date"), col("hour"))
      .agg(sum(col("size")).as("bytes"), count(lit(1)).as("n_files"))
      .orderBy("date", "hour")

  /** Retention cohorts over an event stream: users bucket into the cohort
    * of their FIRST active period, and each (cohort, age) cell counts the
    * cohort's users still active `age` periods later — the standard
    * engagement/retention triangle. Two aggregations total: distinct
    * (user, bucket) activity (map-side combined), a per-user min for the
    * cohort, and the cell rollup; the user axis shards the shuffle, so the
    * shape holds at any event volume. Output: (cohort, age, n_active).
    */
  def retentionCohorts(
      events: DataFrame,
      userCol: String,
      tsMsCol: String,
      bucketMs: Long): DataFrame = {
    require(bucketMs >= 1, s"bucketMs must be >= 1, got $bucketMs")
    val acted = events
      .select(col(userCol).as("u"),
        expr(s"$tsMsCol DIV $bucketMs").as("bucket"))
      .distinct()
    val cohorts = acted.groupBy("u").agg(min(col("bucket")).as("cohort"))
    acted.join(cohorts, "u")
      .groupBy(col("cohort"), (col("bucket") - col("cohort")).as("age"))
      .agg(count(lit(1)).as("n_active"))
  }

  /** Ordered funnel over an event stream: how many users performed
    * `stages` IN ORDER, each step strictly after the previous one and
    * within `windowMs` of the FIRST step. Classic product analytics
    * (signup → activation → purchase), expressed as |stages| bounded
    * per-user min-aggregations chained by joins — each stage's table is
    * one row per surviving user, so only user-keyed rows ever shuffle and
    * depth is the (small, fixed) stage count, not the data. Output:
    * (stage_idx, stage, n_users) — monotone non-increasing.
    *
    * ANCHORING CONTRACT: the window opens at each user's GLOBALLY EARLIEST
    * stage-1 event — deliberately. A user whose first attempt expires and
    * who re-enters the funnel later is NOT re-anchored (that variant is a
    * per-attempt sessionized funnel, a different operator: compose
    * [[sessionize]]-style attempt splitting upstream if re-entry counting
    * is wanted). The DuckDB oracle replays this same earliest-event rule.
    */
  def funnel(
      events: DataFrame,
      userCol: String,
      tsMsCol: String,
      eventTypeCol: String,
      stages: Seq[String],
      windowMs: Long): DataFrame = {
    require(stages.nonEmpty, "funnel needs at least one stage")
    val ev = events.select(col(userCol).as("u"),
      col(eventTypeCol).as("et"), col(tsMsCol).as("tm"))
    // Each stage table is PERSISTED before its count: stage i+1's join then
    // reads stage i's (one-row-per-surviving-user, user-keyed) cached rows
    // instead of re-executing every earlier stage's filter+join chain —
    // one pass over the event set per stage, not O(stages²) passes.
    var cur = ev.where(col("et") === stages.head)
      .groupBy("u").agg(min(col("tm")).as("t0"))
      .withColumn("tprev", col("t0"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val persisted = scala.collection.mutable.ListBuffer(cur)
    val spark = events.sparkSession
    import spark.implicits._
    var counts = List((0, stages.head, cur.count()))
    stages.tail.zipWithIndex.foreach { case (stage, i) =>
      cur = ev.where(col("et") === stage)
        .join(cur, "u")
        .where(col("tm") > col("tprev") && col("tm") <= col("t0") + windowMs)
        .groupBy("u", "t0").agg(min(col("tm")).as("tnext"))
        .withColumn("tprev", col("tnext")).drop("tnext")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      persisted += cur
      counts ::= ((i + 1, stage, cur.count()))
    }
    // The result is a LOCAL count table — nothing downstream re-reads the
    // stage caches, so release them eagerly (non-blocking).
    persisted.foreach(_.unpersist(blocking = false))
    counts.reverse.toDF("stage_idx", "stage", "n_users")
      .select(col("stage_idx").cast("long").as("stage_idx"), col("stage"),
        col("n_users"))
  }

  /** First-order Markov transition matrix over per-user event sequences —
    * the behavioral complement of [[funnel]] (a funnel asks "did this
    * exact path happen"; the transition matrix says which paths EXIST
    * and with what mass, the input to next-event prediction and to
    * flagging bot-like deterministic loops). Each user's events order by
    * (ts, tie) — `tieCol` must be unique per user so the order is TOTAL
    * and the matrix a pure function of the event multiset.
    *
    * Scale shape: ONE per-user window (rows are (user, type, ts, tie) —
    * payload-free; per-user sequences sort inside their own partition,
    * the sessionize shape) feeds a map-side-combined pair count; the
    * matrix is |types|²-bounded, so row totals join back broadcast.
    * Output: (from_event, to_event, n, p_ppm) with p_ppm the exact
    * integer row-normalized probability.
    */
  def eventTransitions(
      events: DataFrame,
      userCol: String,
      tsMsCol: String,
      eventTypeCol: String,
      tieCol: String): DataFrame = {
    val w = Window.partitionBy(col("u")).orderBy(col("tm"), col("tie"))
    val pairs = events.select(col(userCol).as("u"),
        col(eventTypeCol).as("et"), col(tsMsCol).as("tm"),
        col(tieCol).as("tie"))
      .withColumn("__next", lead(col("et"), 1).over(w))
      .where(col("__next").isNotNull)
      .groupBy(col("et").as("from_event"), col("__next").as("to_event"))
      .agg(count(lit(1)).as("n"))
    val totals = pairs.groupBy(col("from_event"))
      .agg(sum(col("n")).as("__tot"))
    pairs.join(broadcast(totals), Seq("from_event"))
      .select(col("from_event"), col("to_event"), col("n"),
        expr("(n * 1000000) DIV __tot").as("p_ppm"))
  }

  /** Stationary distribution of the [[eventTransitions]] Markov chain —
    * "where does user attention SETTLE": fixed-count power iteration of
    * the row-normalized transition matrix, the long-run visit share
    * next-event prediction and load forecasting read off the session
    * flow (PageRank's idea applied to the behavioral chain — no teleport,
    * the chain is the observed matrix itself).
    *
    * Determinism: the matrix is |types|²-bounded, so iteration runs
    * DRIVER-SIDE in exact BigInt (the [[graft.ops.Stats.pavCalibrate]] /
    * skewProfile bounded-driver contract, enforced by a require):
    * π starts uniform at ⌊base/k⌋ (base = 2²⁰) and each step floors
    * per-edge sends π'_j = Σ_i ⌊π_i·n_ij / tot_i⌋ — the weighted-
    * PageRank integer-send convention, bit-replayable by any engine.
    * Types with no OUTGOING transitions shed their mass (the observed
    * chain simply stops there — documented, not hidden by a self-loop).
    *
    * Scale shape: one [[eventTransitions]] pass (per-user windows, pair
    * counts map-side combined); the collected matrix is |types|² rows —
    * event-type cardinality, never corpus rows.
    *
    * @return (event_type, pi_x1e6) — long-run visit share ×10⁶ after
    *         `iters` steps, ordered by type.
    */
  def markovStationary(
      events: DataFrame,
      userCol: String,
      tsMsCol: String,
      eventTypeCol: String,
      tieCol: String,
      iters: Int = 4,
      maxTypes: Int = 10000): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val tmDf = eventTransitions(events, userCol, tsMsCol, eventTypeCol,
        tieCol)
      .select(col("from_event"), col("to_event"), col("n"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Enforce the bounded-driver contract BEFORE the collect: a
    // high-cardinality-column misuse (id chain, not type chain) would
    // otherwise flood the driver with up to |types|² rows before the
    // guard fires. One aggregate row — the cardinality census — is the
    // only thing collected until the contract holds.
    val tm =
      try {
        val nTypes = tmDf
          .select(explode(array(col("from_event"), col("to_event"))).as("t"))
          .agg(countDistinct(col("t")))
          .head().getLong(0)
        require(nTypes <= maxTypes,
          s"markovStationary: $nTypes event types exceed the " +
            s"bounded-driver contract ($maxTypes) — this is a TYPE " +
            "chain, not an id chain; key explosion means the wrong " +
            "column was passed")
        tmDf.collect()
      } finally tmDf.unpersist() // incl. the guard-throw path — the very
                                 // case whose table is the big one
    val types = (tm.map(_.getString(0)) ++ tm.map(_.getString(1)))
      .distinct.sorted
    val idx = types.zipWithIndex.toMap
    val n = Array.ofDim[Long](types.length, types.length)
    tm.foreach(r => n(idx(r.getString(0)))(idx(r.getString(1))) = r.getLong(2))
    val tot = n.map(_.sum)
    val base = BigInt(1L << 20)
    var pi = Array.fill(types.length)(
      if (types.nonEmpty) base / types.length else BigInt(0))
    (0 until iters).foreach { _ =>
      val next = Array.fill(types.length)(BigInt(0))
      for (i <- types.indices if tot(i) > 0; j <- types.indices
           if n(i)(j) > 0)
        next(j) += pi(i) * n(i)(j) / tot(i)
      pi = next
    }
    val spark = events.sparkSession
    import spark.implicits._
    types.zip(pi).map { case (t, p) =>
      (t, (p * 1000000 / base).toLong) }.toSeq
      .toDF("event_type", "pi_x1e6")
  }

  /** Top event trigram paths — the second-order extension of
    * [[eventTransitions]]: the k most frequent (e₁ → e₂ → e₃) sequences
    * across per-user event streams, ordered by the same total
    * (timestamp, tie) order so the path set is a pure function of the
    * event multiset. The session-flow summary ("what do users DO in
    * three steps") that a first-order transition matrix provably can't
    * reconstruct. Per-user windows shuffle (user, type, ts, tie) tuples
    * only; path counts are \|types\|³-bounded before the k-bounded
    * TakeOrdered.
    */
  def topEventPaths(
      events: DataFrame,
      userCol: String,
      tsMsCol: String,
      eventTypeCol: String,
      tieCol: String,
      k: Int = 20): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val w = Window.partitionBy(col("u")).orderBy(col("tm"), col("tie"))
    events.select(col(userCol).as("u"),
        col(eventTypeCol).as("e1"), col(tsMsCol).as("tm"),
        col(tieCol).as("tie"))
      .withColumn("e2", lead(col("e1"), 1).over(w))
      .withColumn("e3", lead(col("e1"), 2).over(w))
      .where(col("e3").isNotNull)
      .groupBy("e1", "e2", "e3")
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("e1"), col("e2"), col("e3"))
      .limit(k)
  }

  /** The reference's byte-size formatter (util/QueryIndex.java:264-283):
    * integer bytes below 1 KB, two decimals at each 1024 tier above.
    */
  def formatByteSize(byteSize: Double): String = {
    // Locale.ROOT pinned (like Bench/LogDateFormat): the
    // f-interpolator uses the JVM default locale, and a decimal-comma or
    // non-ASCII-digit locale would silently change rendered reports.
    def f2(v: Double, unit: String): String =
      String.format(java.util.Locale.ROOT, "%.2f %s", Double.box(v), unit)
    val K = 1024d; val M = K * 1024; val G = M * 1024; val T = G * 1024
    if (byteSize < K) s"${byteSize.toInt} B"
    else if (byteSize < M) f2(byteSize / K, "KB")
    else if (byteSize < G) f2(byteSize / M, "MB")
    else if (byteSize < T) f2(byteSize / G, "GB")
    else f2(byteSize / T, "TB")
  }

  /** Dense per-hour byte volumes over [startMs, endMs) from [[logStats]]
    * rows — the reference's getDataOverTime array shape
    * (util/LogStats.java:83-116): one slot per hour, missing hours 0.
    * Driver-side: the stats table is already (date, hour)-bounded.
    */
  def hourlyVolumes(stats: DataFrame, startMs: Long, endMs: Long): Array[Double] = {
    val oneHour = 3600000L
    // Slots anchor at the FLOOR of startMs: an unaligned window still owns
    // the partial hour containing startMs (a `t >= startMs` comparison
    // would silently drop that whole hour's bytes from total/avg/peak).
    // Hour-aligned callers — the reference's CLI passes yyyyMMddHH — see
    // identical behavior.
    val startHour = Math.floorDiv(startMs, oneHour) * oneHour
    val totalHours = ((endMs - startHour + oneHour - 1) / oneHour).toInt
    if (endMs <= startMs) return Array.empty
    val vols = Array.fill(totalHours)(0d)
    val fmt = java.time.format.DateTimeFormatter.ofPattern("yyyyMMdd")
    stats.collect().foreach { r =>
      val t = java.time.LocalDate.parse(r.getAs[String]("date"), fmt)
        .atStartOfDay(java.time.ZoneOffset.UTC).toInstant.toEpochMilli +
        r.getAs[String]("hour").toInt * oneHour
      val idx = ((t - startHour) / oneHour).toInt
      if (t >= startHour && idx < totalHours)
        vols(idx) += r.getAs[Long]("bytes").toDouble
    }
    vols
  }

  /** The reference's ingest plot (util/LogStats.java:118-226), mirrored
    * line for line as a returned string: hours resampled into ≤ 61
    * columns, an 11-level █/▄ block chart between column-max and
    * column-min, byte-size axis labels, 12-column ticks with HH:mm and
    * date rows, and the summary header (total / average / peak / min
    * ingest). Times render in GMT (the reference used the JVM default
    * zone; the axis label always said GMT — pinned here).
    */
  def renderStatsChart(volumes: Array[Double], startMs: Long, endMs: Long): String = {
    val sb = new StringBuilder
    val hourFmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH")
      .withZone(java.time.ZoneOffset.UTC)
    val timeFmt = java.time.format.DateTimeFormatter.ofPattern("HH:mm")
      .withZone(java.time.ZoneOffset.UTC)
    val dateFmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd")
      .withZone(java.time.ZoneOffset.UTC)
    def fmtH(ms: Long) = hourFmt.format(java.time.Instant.ofEpochMilli(ms))
    if (volumes.isEmpty) {
      sb.append("\n    No indexed data between " + fmtH(startMs) + "h and " +
        fmtH(endMs) + "h.\n")
      return sb.toString
    }
    val oneHour = 3600000L
    val totalHours = volumes.length
    val totalIngest = volumes.sum
    val averageIngest = totalIngest / totalHours
    val height = 11
    val width = math.min(61, totalHours)
    val columnHeights = Array.fill(width)(0d)
    val hoursPerColumn = totalHours.toDouble / width
    // The reference's exact resampling loop: each column absorbs
    // hoursPerColumn consecutive hours, fractional hours split pro rata.
    var hour = 0
    var hoursLeft = 0d
    var column = 0
    var break = false
    while (column < width && !break) {
      columnHeights(column) += (1 - hoursLeft) * volumes(hour) / hoursPerColumn
      hour += 1
      hoursLeft = hoursPerColumn - (1 - hoursLeft)
      while (hoursLeft >= 1 && hour < totalHours) {
        columnHeights(column) += volumes(hour) / hoursPerColumn
        hour += 1
        hoursLeft -= 1
      }
      if (hour < totalHours) {
        columnHeights(column) += hoursLeft * volumes(hour) / hoursPerColumn
      } else break = true
      column += 1
    }
    var mx = columnHeights.max
    val mn = columnHeights.min
    if (mx <= mn) mx = mn + 1
    val range = mx - mn
    sb.append("\n    Activity from " + fmtH(startMs) + "h to " + fmtH(endMs) +
      "h inclusive, " + totalHours + " hours total.\n")
    sb.append("    Ingest over this period was a total of " +
      formatByteSize(totalIngest) + " at an average of " +
      formatByteSize(averageIngest) + "/hour.\n")
    sb.append("    Peak ingest over this period was " +
      formatByteSize(volumes.max) + "/hour and minimum ingest was " +
      formatByteSize(volumes.min) + "/hour.\n")
    sb.append("\n" + String.format("%9s", formatByteSize(mx)) + "/hour - ")
    var level = height.toDouble
    while (level > 0) {
      if (level == (height / 2) + 1) sb.append("    Ingest       ")
      else if (level != height) sb.append(" " * 17)
      (0 until width).foreach { c =>
        if (columnHeights(c) - mn >= ((level - 0.33) * range) / height) sb.append("█")
        else if (columnHeights(c) - mn > ((level - 0.66) * range) / height) sb.append("▄")
        else sb.append(" ")
      }
      sb.append("\n")
      level -= 1
    }
    sb.append(String.format("%9s", formatByteSize(mn)) + "/hour - ")
    (0 until width).foreach(c => sb.append(if (c % 12 == 0) "█" else "▀"))
    sb.append("\n               ")
    var timePosition = startMs.toDouble
    (0 until width).foreach { c =>
      if (c % 12 == 0) {
        // The reference adds hoursPerColumn/2 MILLISECONDS before the
        // floor-to-hour (LogStats.java:213 — hours added to a ms clock);
        // mirrored as-is: the offset never reaches the next hour.
        val t = (timePosition + hoursPerColumn / 2).toLong
        sb.append(timeFmt.format(java.time.Instant.ofEpochMilli(
          t - t % oneHour)) + "       ")
      }
      timePosition += oneHour * hoursPerColumn
    }
    sb.append("\n             ")
    timePosition = startMs.toDouble
    (0 until width).foreach { c =>
      if (c % 12 == 0) {
        sb.append(dateFmt.format(
          java.time.Instant.ofEpochMilli(timePosition.toLong)) + "  ")
      }
      timePosition += oneHour * hoursPerColumn
    }
    sb.append("\n                               Time (GMT), " +
      String.format(java.util.Locale.ROOT, "%.02f hours per column%n",
        Double.box(hoursPerColumn)))
    sb.toString
  }

  /** ASCII bar chart of logStats output (a compact per-row alternative to
    * the reference-faithful [[renderStatsChart]]) — driver-side
    * convenience.
    */
  def renderStats(stats: DataFrame, width: Int = 60): String = {
    val rows = stats.collect()
    if (rows.isEmpty) return "(no data)"
    val maxBytes = rows.map(_.getAs[Long]("bytes")).max.toDouble
    val sb = new StringBuilder
    rows.foreach { r =>
      val bytes = r.getAs[Long]("bytes")
      val bar = "#" * math.max(1, (bytes / maxBytes * width).toInt)
      sb.append(String.format(java.util.Locale.ROOT, "%s/%s %12d %s%n",
        r.getAs[String]("date"), r.getAs[String]("hour"),
        Long.box(bytes), bar))
    }
    sb.toString
  }

  /** Multi-granularity event rollup in ONE pass: (event_type, hour),
    * per-type subtotals, and the grand total via `rollup` — Spark's
    * Expand operator fans each input row out once per grouping set
    * BEFORE partial aggregation, so the shuffle carries one pre-combined
    * row per (set, key), never per event; `grouping_id` disambiguates
    * the levels (0 = leaf, 1 = per-type, 3 = grand total). The
    * drill-down table an ops dashboard reads without issuing three
    * queries. `sum_value` is rounded to 2 dp (the summation-order-proof
    * convention); counts and the distinct-user count are exact.
    */
  def eventCube(events: DataFrame): DataFrame =
    events
      .rollup(col("event_type"), expr("ts_ms DIV 3600000").as("hour_bucket"))
      .agg(grouping_id().as("gid"), count(lit(1)).as("n"),
        countDistinct(col("user_id")).as("n_users"),
        round(sum(col("value")), 2).as("sum_value"))

  /** Per-column table profile — the data-contract audit an ingestion
    * pipeline emits before promoting a snapshot (and diffs against the
    * previous snapshot's profile to catch schema drift the way
    * [[graft.ops.Curation.corpusDiff]] catches row drift): for every
    * column, row count, null count, null rate in exact ppm, and EXACT
    * distinct cardinality. One corpus pass: all per-column aggregates run
    * as parallel agg columns of a single aggregation (the Poisson-
    * bootstrap layout); the multi-column exact COUNT(DISTINCT) expands
    * rows ×|columns| before the partial combine — the honest audit tier,
    * with the documented production swap being the sketch family
    * ([[graft.ops.Sketches]] KMV / HLL per column) once |columns|×corpus
    * expansion outgrows the audit budget. The wide 1-row result reshapes
    * to one row per column with a literal-struct explode — no extra scan.
    */
  def tableProfile(df: DataFrame): DataFrame = {
    val cols = df.schema.fieldNames.toSeq
    require(cols.nonEmpty, "tableProfile needs at least one column")
    val aggs = Seq(count(lit(1)).as("__n")) ++ cols.flatMap(c => Seq(
      sum(col(c).isNull.cast("long")).as(s"__null_$c"),
      countDistinct(col(c)).as(s"__nd_$c")))
    val row = df.agg(aggs.head, aggs.tail: _*)
    val entries = array(cols.map(c => struct(lit(c).as("column"),
      col(s"__null_$c").as("n_null"),
      col(s"__nd_$c").as("n_distinct"))): _*)
    row.select(col("__n"), explode(entries).as("e"))
      .select(col("e.column").as("column"), col("__n").as("n_rows"),
        col("e.n_null").as("n_null"),
        when(col("__n") === 0, lit(0L))
          .otherwise(expr("(e.n_null * 1000000) DIV __n")).as("null_ppm"),
        col("e.n_distinct").as("n_distinct"))
      .orderBy("column")
  }
}
