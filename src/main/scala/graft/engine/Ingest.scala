package graft.engine

import graft.core.{LogLine, TimestampParser, TimestampParsers}

import org.apache.spark.sql.{DataFrame, DataFrameWriter, Dataset, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{col, floor}

/** Text → Boom ingest: the Spark-native equivalent of the reference's
  * `convert2bm.pg` pipeline (pig/TextToBoomConverter.java).
  *
  * Per input partition (the reference's unit was one Pig task), the parser is
  * auto-detected from the first line (TextToBoomConverter.java:54-80:
  * RFC5424 first, then RFC3164), and lines that fail to parse carry the
  * previous line's timestamp — per-partition sequential state, so it runs as
  * `mapPartitions` rather than a window function (the loop is genuinely
  * stateful on arbitrary input order, and stays narrow/shuffle-free).
  *
  * Block metadata (`createTime` = the block's first timestamp, blockNumber
  * rolling on new-second/1000-lines, TextToBoomConverter.java:94-103) is
  * minted after the sort by the boom writer's `ingest` mode, which every
  * write path here uses.
  */
object Ingest {

  /** Parse raw text lines into [[LogLine]]s: timestamp and message only.
    * `createTime`, `blockNumber` and `lineNumber` are 0 until the `ingest`
    * write mints them.
    */
  def parse(
      lines: Dataset[String],
      parserName: Option[String] = None,
      nowMs: () => Long = () => System.currentTimeMillis()): Dataset[LogLine] = {
    val spark = lines.sparkSession
    import spark.implicits._
    lines.mapPartitions { it =>
      var parser: TimestampParser =
        parserName.map(TimestampParsers.forName(_, nowMs)).orNull
      var lastTs = 0L
      it.map { raw =>
        if (parser == null) {
          parser = TimestampParsers.detect(raw, nowMs)
            .getOrElse(new graft.core.Rfc5424TimestampParser)
        }
        val (tsStr, rest) = parser.splitLine(raw)
        val ts = Option(tsStr).flatMap(parser.tryParse).getOrElse(lastTs)
        lastTs = ts
        LogLine(ts, rest, 0, 0L, 0L, 0L)
      }
    }
  }

  /** Full ingest: read text files, parse, write Boom into the catalog layout. */
  def textToBoom(
      spark: SparkSession,
      inputPath: String,
      outputDir: String,
      parserName: Option[String] = None): Unit = {
    import spark.implicits._
    val parsed = parse(spark.read.textFile(inputPath), parserName)
    write(parsed.toDF(), outputDir)
  }

  /** Write LogLine rows as Boom files (ingest mode — metadata minted). */
  def write(df: DataFrame, outputDir: String, mode: SaveMode = SaveMode.Append): Unit =
    ingestWriter(df).mode(mode).save(outputDir)

  /** The one ingest write: LogLine columns, sorted by timestamp within each
    * partition, written in `ingest` mode, which mints the block metadata.
    */
  private def ingestWriter(df: DataFrame): DataFrameWriter[Row] =
    df.select(LogLine.schema.fieldNames.map(col): _*)
      .sortWithinPartitions("timestamp")
      .write.format("boom").option("boomMode", "ingest")

  /** Rewrite existing log lines preserving block metadata (ReBoom — the
    * filter/archive path, boom/ReBoomWriter.java:71-90). Rows are sorted by
    * the writer's block key (second, createTime, blockNumber) and then
    * lineNumber, so each surviving source block is written back as one
    * block, in its own line order, even when the blocks of several uploads
    * interleave in time.
    */
  def reboom(df: DataFrame, outputDir: String, mode: SaveMode = SaveMode.Append): Unit =
    df.select(LogLine.schema.fieldNames.map(col): _*)
      .sortWithinPartitions(floor(col("timestamp") / 1000), col("createTime"),
        col("blockNumber"), col("lineNumber"))
      .write.format("boom").option("boomMode", "reboom").mode(mode).save(outputDir)

  /** Materialize Boom logs as hour-partitioned Parquet — the analytics hand-
    * off (SURVEY §7.2 step 9): repeated aggregation/join workloads over the
    * same logs get columnar vectorized scans, min/max pruning, and
    * `date`/`hour` partition pruning instead of re-inflating Avro blocks on
    * every query. The log-search tools keep reading Boom (write-optimized,
    * byte-faithful); this is the read-optimized projection of the same data.
    * Partition values follow the engine's UTC convention — run with
    * `spark.sql.session.timeZone=UTC` (as every graft session does) so they
    * line up with the catalog's hour directories.
    *
    * `numFiles` > 0 additionally lays the rows out in Z-ORDER on
    * (within-hour timestamp offset, eventId) via [[graft.ops.Scale.zValue]]
    * across `numFiles` range partitions: every parquet file then covers a
    * bounded RECTANGLE in (time, event) space, so row-group min/max stats
    * skip files for predicates on EITHER key — minute-level time slices
    * AND per-event scans — where a pure time sort leaves the eventId
    * min/max of every file spanning the whole id range. The hour directory
    * stays the coarse time prune; the z-layout is the intra-hour fine
    * prune. One range exchange per materialization (amortized across every
    * later read), plus a parquet bloom filter on eventId for point
    * lookups below row-group granularity. 0 (default) keeps the narrow
    * unsorted write.
    */
  def boomToParquet(
      spark: SparkSession,
      boomDir: String,
      parquetDir: String,
      saveMode: SaveMode = SaveMode.Append,
      numFiles: Int = 0): Unit = {
    import org.apache.spark.sql.functions._
    val base = spark.read.format("boom").load(boomDir)
      .withColumn("date",
        date_format(timestamp_millis(col("timestamp")), "yyyyMMdd"))
      .withColumn("hour",
        date_format(timestamp_millis(col("timestamp")), "HH"))
    val laid =
      if (numFiles > 0) {
        // Z-order only balances dimensions of comparable bit width: the
        // range split reads the TOP interleaved bits, so a 6-bit eventId
        // next to a 22-bit time offset contributes nothing (its high bits
        // are all zero) and the layout degenerates to a pure time sort.
        // Probe eventId's occupied width (one bounded one-row agg, the
        // zorderStats convention) and LEFT-ALIGN it into the 22-bit
        // z-space; ms-of-hour needs exactly 22. Values are never altered —
        // scaling shapes clustering only.
        val mxRow = base.agg(max(col("eventId"))).head
        val mxEv: Long = if (mxRow.isNullAt(0)) 0L else mxRow.getInt(0).toLong
        val evBits = (1 to 21).find(k => mxEv < (1L << k)).getOrElse(22)
        val z = graft.ops.Scale.zValue(
          pmod(col("timestamp"), lit(3600000L)),
          shiftleft(col("eventId").cast("long"), 22 - evBits), bits = 22)
        base.withColumn("__z", z)
          .repartitionByRange(numFiles, col("date"), col("hour"), col("__z"))
          .sortWithinPartitions("date", "hour", "__z")
          .drop("__z")
      } else base
    laid.write.partitionBy("date", "hour")
      .option("parquet.bloom.filter.enabled#eventId", "true")
      .mode(saveMode).parquet(parquetDir)
  }

  /** Full catalog ingest — text (plain or `.gz`, Spark decompresses natively)
    * → hour-partitioned Boom files laid out exactly where [[LogCatalog]] and
    * the query tools expect them:
    * `<root>/service/<dc>/<service>/logs/<yyyyMMdd>/<hh>/<component>/incoming/<runId>/part-*.bm`
    *
    * The hourly roll happens inside the boom writer (option `hourlySuffix`,
    * the PigBoomHourlyRecordWriter analogue) — one narrow write pass, no
    * per-hour driver loop, no extra shuffle beyond the within-partition sort.
    */
  def textToCatalog(
      spark: SparkSession,
      inputPath: String,
      root: String,
      dc: String,
      service: String,
      component: String,
      parserName: Option[String] = None,
      runId: String = java.util.UUID.randomUUID().toString.take(8)): Unit = {
    ingestWriter(parse(spark.read.textFile(inputPath), parserName).toDF())
      .option("hourlySuffix", s"$component/incoming/$runId")
      .mode(SaveMode.Append)
      .save(s"$root/service/$dc/$service/logs")
  }
}
