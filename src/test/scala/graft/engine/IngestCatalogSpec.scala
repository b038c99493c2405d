package graft.engine

import java.nio.file.{Files, Paths}
import java.util.zip.GZIPOutputStream

import graft.SparkTestBase

import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec

class IngestCatalogSpec extends SparkTestBase {
  import spark.implicits._

  private def writeText(lines: Seq[String]): String = {
    val f = Files.createTempFile("ingest", ".log")
    Files.write(f, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    f.toString
  }

  test("pre-epoch ingest: one createTime, floored seconds, distinct block numbers") {
    // The <0 sentinel family: negative first timestamps must NOT re-mint
    // createTime per row, truncate seconds toward zero, or skip the
    // block-number increment when rolling out of a negative second. The
    // writer mints the block metadata; one small text file is one
    // partition, so one writer task, like one reference mapper.
    val out = Files.createTempDirectory("pre-epoch").toString
    Ingest.textToBoom(spark, writeText(Seq(
      "1969-12-31T23:59:59Z before epoch a",
      "1969-12-31T23:59:59Z before epoch b",
      "1970-01-01T00:00:01Z after epoch")), out, Some("RFC5424"))
    val parsed = spark.read.format("boom").load(out).as[graft.core.LogLine]
      .collect().sortBy(_.timestamp)
    assert(parsed.map(_.timestamp).toSeq === Seq(-1000L, -1000L, 1000L))
    // createTime = FIRST line's timestamp, for every line.
    assert(parsed.map(_.createTime).distinct.toSeq === Seq(-1000L))
    // Two distinct seconds → two distinct block numbers (0 then 1).
    assert(parsed.map(_.blockNumber).distinct.sorted.toSeq === Seq(0L, 1L))
    // The catalog's hour arithmetic floors the same way: the pre-epoch
    // half hour resolves the 19691231/23 hour directory.
    val hours = LogCatalog.hoursInRange(-1800000L, 3600000L)
    assert(hours === Seq(("19691231", "23"), ("19700101", "00")))
  }

  private val twoHoursOfLines = Seq(
    "2024-03-01T10:59:58Z almost end of hour ten",
    "2024-03-01T10:59:59Z end of hour ten",
    "2024-03-01T11:00:00Z start of hour eleven",
    "2024-03-01T11:30:00Z middle of hour eleven")

  test("textToCatalog lays out hour-partitioned boom files the query tools find") {
    val root = Files.createTempDirectory("cat-root").toString
    LogCatalogFixtures.ingest(spark, writeText(twoHoursOfLines), root)

    // Files landed in the correct hour dirs
    val h10 = new java.io.File(s"$root/service/7/websvc/logs/20240301/10/app/incoming")
    val h11 = new java.io.File(s"$root/service/7/websvc/logs/20240301/11/app/incoming")
    assert(h10.exists && h11.exists)

    // And the full query pipeline resolves them via the catalog
    val q = LogQuery(root = root, dc = "7", service = "websvc", component = "app")
      .range(LogToolCliTimes.ms("2024-03-01T10:00:00Z"), LogToolCliTimes.ms("2024-03-01T12:00:00Z"))
    assert(q.formatted(spark).collect().toSeq === Seq(
      "2024-03-01T10:59:58.000+00:00 almost end of hour ten",
      "2024-03-01T10:59:59.000+00:00 end of hour ten",
      "2024-03-01T11:00:00.000+00:00 start of hour eleven",
      "2024-03-01T11:30:00.000+00:00 middle of hour eleven"))

    // Hour pruning: a one-hour range resolves only that hour's files
    val oneHour = q.range(
      LogToolCliTimes.ms("2024-03-01T11:00:00Z"), LogToolCliTimes.ms("2024-03-01T12:00:00Z"))
    assert(oneHour.resolvePaths(spark).forall(_.contains("/11/")))
    assert(oneHour.formatted(spark).count() === 2)

    // Ordered output is the range-partitioned global sort (Pig's ORDER BY)
    // for every window, a single hour included: same ordered output.
    def scanPartitions(ds: org.apache.spark.sql.Dataset[String]): Seq[Int] =
      AqePlan.collect(ds.queryExecution.executedPlan) {
        case b: BatchScanExec => b.inputPartitions.size
      }
    val plan = oneHour.formatted(spark).queryExecution.executedPlan.toString
    assert(plan.contains("Exchange rangepartitioning"),
      s"single-hour logcat plan must be a range sort:\n$plan")
    assert(oneHour.formatted(spark).collect().toSeq === Seq(
      "2024-03-01T11:00:00.000+00:00 start of hour eleven",
      "2024-03-01T11:30:00.000+00:00 middle of hour eleven"))

    // The two-hour window is two files, so the range sort reads more than
    // one input partition, and matches the range-partitioned global sort
    // over the same lines, and stdout's merged sorted runs, exactly.
    val multiHour = q.formatted(spark)
    val multiHourPlan = multiHour.queryExecution.executedPlan.toString
    assert(multiHourPlan.contains("Exchange rangepartitioning"),
      s"multi-hour logcat plan must be a range sort:\n$multiHourPlan")
    assert(scanPartitions(multiHour) === Seq(2), multiHourPlan)
    assert(q.formatted(spark).collect().toSeq ===
      LogQuery.formatAndSort(q.lines(spark).toDF()).collect().toSeq.map(_.getString(0)))
    val printed = scala.collection.mutable.ArrayBuffer[String]()
    q.printTo(spark, printed += _)
    assert(multiHour.collect().toSeq === printed.toSeq)
  }

  test("boomToParquet materializes hour-partitioned parquet with pruning") {
    import org.apache.spark.sql.functions.col
    val boomDir = Files.createTempDirectory("b2p-src").toString
    Ingest.textToBoom(spark, writeText(twoHoursOfLines), boomDir)
    val pq = Files.createTempDirectory("b2p-out").toString
    Ingest.boomToParquet(spark, boomDir, pq)

    assert(new java.io.File(s"$pq/date=20240301/hour=10").exists)
    assert(new java.io.File(s"$pq/date=20240301/hour=11").exists)
    val back = spark.read.parquet(pq)
    assert(back.count() === 4)
    // Partition pruning reaches the scan for hour-filtered analytics.
    val pruned = back.where(col("hour") === "11")
    assert(pruned.count() === 2)
    assert(pruned.queryExecution.executedPlan.toString.contains("PartitionFilters"))
  }

  test("boomToParquet z-order: per-file rectangles bound BOTH keys, filters push down") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // One hour of synthetic lines: 4096 rows, timestamps across the hour,
    // 64 distinct eventIds interleaved so a pure time sort would leave
    // every file spanning the whole eventId range.
    val t0 = LogToolCliTimes.ms("2024-03-01T10:00:00Z")
    val rows = (0 until 4096).map { i =>
      graft.core.LogLine(t0 + (i.toLong * 3600000L / 4096), s"line $i",
        i % 64, t0, i / 1000L, (i % 1000).toLong)
    }
    val boomDir = Files.createTempDirectory("b2p-z-src").toString
    Ingest.write(rows.toDF(), boomDir)
    val pq = Files.createTempDirectory("b2p-z-out").toString
    Ingest.boomToParquet(spark, boomDir, pq, numFiles = 16)

    val back = spark.read.parquet(pq)
    assert(back.count() === 4096)
    // Locality audit (the q_zorder rectangle argument, per physical FILE):
    // with 16 z-range files over a 22-bit × 22-bit space, each file's
    // bounding rectangle must be well under the full span in BOTH
    // dimensions — a single-key time sort fails the eventId bound.
    val rects = back
      .groupBy(input_file_name().as("f"))
      .agg((max("timestamp") - min("timestamp")).as("ts_span"),
        (max("eventId") - min("eventId")).as("ev_span"))
      .select(avg("ts_span"), avg("ev_span"), count(lit(1)))
      .as[(Double, Double, Long)].head()
    assert(rects._3 >= 8, s"expected >= 8 files, got ${rects._3}")
    assert(rects._1 <= 3600000.0 / 2, s"mean ts span too wide: ${rects._1}")
    assert(rects._2 <= 63.0 / 2, s"mean eventId span too wide: ${rects._2}")
    // Data filters on both keys reach the parquet scan as PushedFilters.
    for (pred <- Seq(col("timestamp") >= t0 + 1800000L, col("eventId") === 7)) {
      val plan = back.where(pred).queryExecution.executedPlan.toString
      assert(plan.contains("PushedFilters: [IsNotNull"),
        s"expected pushed data filter for $pred:\n$plan")
    }
  }

  test("gzip text ingest (S5: Spark decompresses .gz natively)") {
    val plain = writeText(twoHoursOfLines)
    val gz = Files.createTempFile("ingest", ".log.gz")
    val out = new GZIPOutputStream(Files.newOutputStream(gz))
    out.write(Files.readAllBytes(Paths.get(plain)))
    out.close()

    val root = Files.createTempDirectory("cat-root-gz").toString
    LogCatalogFixtures.ingest(spark, gz.toString, root)
    val q = LogQuery(root = root, dc = "7", service = "websvc", component = "app")
      .range(LogToolCliTimes.ms("2024-03-01T10:00:00Z"), LogToolCliTimes.ms("2024-03-01T12:00:00Z"))
    assert(q.formatted(spark).count() === 4)
  }
}

private object LogCatalogFixtures {
  def ingest(spark: org.apache.spark.sql.SparkSession, input: String, root: String): Unit =
    Ingest.textToCatalog(spark, input, root, dc = "7", service = "websvc", component = "app")
}

/** Plan walks that see through adaptive query execution. */
private object AqePlan extends AdaptiveSparkPlanHelper

private object LogToolCliTimes {
  def ms(iso: String): Long = java.time.Instant.parse(iso).toEpochMilli
}
