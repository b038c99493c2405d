package graft.boom

import java.nio.file.Files

import graft.SparkTestBase
import graft.engine.Ingest

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Asserts the V2 predicate translation actually reaches the boom scan for
  * every search shape the CLI tools emit — the scan description prints the
  * parsed `BoomPushdown`, so a regression in `pushPredicates` (or in
  * Catalyst's translation of the filter shapes we rely on) fails here
  * instead of silently degrading to post-scan filtering.
  */
class BoomPushdownSpec extends SparkTestBase {
  import spark.implicits._

  private lazy val dir: String = {
    val d = Files.createTempDirectory("pushdown").toString
    val lines = (0 until 100).map(i =>
      graft.core.LogLine(1000000L + i, s"msg $i alpha", 0, 0L, 0L, 1L))
    Ingest.reboom(lines.toDF().coalesce(1), d)
    d
  }

  private def pushdownOf(df: DataFrame): String =
    df.queryExecution.executedPlan.toString.linesIterator
      .find(_.contains("pushdown=BoomPushdown"))
      .getOrElse(fail("no boom scan in plan"))

  private def bm = spark.read.format("boom").load(dir)

  test("contains pushes one clause") {
    val p = pushdownOf(bm.where(col("message").contains("alpha")))
    assert(p.contains("BoomTerm(alpha,false)"))
  }

  test("OR of contains pushes one multi-term clause") {
    val p = pushdownOf(bm.where(
      col("message").contains("alpha") || col("message").contains("beta")))
    assert(p.contains("BoomTerm(alpha,false)") && p.contains("BoomTerm(beta,false)"))
    // one clause (OR), not two (AND)
    assert("List\\(".r.findAllIn(p).length === 1)
  }

  test("AND of contains pushes two clauses") {
    val p = pushdownOf(bm.where(
      col("message").contains("alpha") && col("message").contains("msg")))
    assert("List\\(".r.findAllIn(p).length === 2)
  }

  test("upper-contains pushes an onUpper term") {
    val p = pushdownOf(bm.where(upper(col("message")).contains("ALPHA")))
    assert(p.contains("BoomTerm(ALPHA,true)"))
  }

  test("timestamp bounds push in either operand order") {
    val p1 = pushdownOf(bm.where(col("timestamp") >= 1000010L && col("timestamp") < 1000020L))
    assert(p1.contains("BoomPushdown(1000010,1000020"))
    val p2 = pushdownOf(bm.where(lit(1000020L) > col("timestamp") && lit(1000010L) <= col("timestamp")))
    assert(p2.contains("BoomPushdown(1000010,1000020"))
  }

  test("absorbed filters are enforced exactly by the reader: results identical") {
    val got = bm.where(upper(col("message")).contains("MSG 1 ") ||
      col("message").contains("msg 2 "))
      .select("message").as[String].collect().toSet
    assert(got === Set("msg 1 alpha", "msg 2 alpha"))
  }

  test("accepted predicates are absorbed: no post-scan Filter in the plan") {
    val q = bm.where(col("timestamp") >= 1000010L &&
      col("message").contains("alpha"))
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("Filter ("),
      s"absorbed predicates must not reappear as a post-scan Filter:\n$plan")
    // And the absorbed evaluation is still exact at ms granularity.
    assert(q.count() === 90L)
  }

  private def boomScanOf(df: DataFrame): BoomScan = {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    // sparkPlan, not executedPlan: AQE wraps the latter in an adaptive root
    // whose collect() does not descend into the live plan.
    val scans = df.queryExecution.sparkPlan.collect {
      case b: BatchScanExec => b.scan
    }
    assert(scans.nonEmpty, "no BatchScan in plan")
    scans.head.asInstanceOf[BoomScan]
  }

  /** Unpushed reference for the aggregate tests: every timestamp read
    * through the row path (a bare projection pushes no aggregate), then
    * range-filtered in the test itself. Returns (count, min, max).
    */
  private def reference(df: DataFrame, lo: Long, hi: Long): (Long, Option[Long], Option[Long]) = {
    val ts = df.select("timestamp").collect().map(_.getLong(0)).filter(t => t >= lo && t < hi)
    (ts.length.toLong, ts.minOption, ts.maxOption)
  }

  /** A Boom file laid out like the REFERENCE writer's (BoomWriter.java:73-74):
    * (second, ms) by truncating / and %, so pre-epoch lines carry ms < 0.
    * One logBlock per second.
    */
  private def writeTruncating(dir: String, ts: Seq[Long]): Unit = {
    import org.apache.avro.file.DataFileWriter
    import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
    val schema = BoomSchemas.logBlockSchema
    val lineSchema = BoomSchemas.messageWithMillisSchema
    val w = new DataFileWriter[GenericRecord](
      new GenericDatumWriter[GenericRecord](schema))
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(
      spark.sessionState.newHadoopConf())
    w.create(schema, fs.create(new org.apache.hadoop.fs.Path(dir, "ref.bm"), true))
    ts.groupBy(_ / 1000L).toSeq.sortBy(_._1).foreach { case (second, group) =>
      val blk = new GenericData.Record(schema)
      blk.put("second", second); blk.put("createTime", 0L); blk.put("blockNumber", 0L)
      val lines = group.map { t =>
        val line = new GenericData.Record(lineSchema)
        line.put("ms", t % 1000L); line.put("eventId", 0); line.put("message", s"ref $t")
        line
      }
      blk.put("logLines", java.util.List.of(lines: _*))
      w.append(blk)
    }
    w.close()
  }

  test("COUNT(*) under a time-only predicate plans a count-only scan") {
    val q = bm.where(col("timestamp") >= 1000010L && col("timestamp") < 1000060L)
      .groupBy().count()
    val scan = boomScanOf(q)
    assert(scan.aggsPushed == Seq("count"),
      "COUNT over a time range must push into the scan (headers only)")
    assert(scan.readSchema().length === 1 &&
      scan.readSchema().head.dataType ===
        org.apache.spark.sql.types.LongType)
    assert(!q.queryExecution.executedPlan.toString.contains("Filter ("))
    // The pushed count matches the row-level scan bit for bit (the range
    // is intra-second, so this exercises the per-line ms boundary path).
    val expected = reference(bm, 1000010L, 1000060L)._1
    assert(expected === 50L)
    assert(q.head().getLong(0) === expected)
  }

  test("COUNT(*) with a term clause does NOT push (messages must decode)") {
    val q = bm.where(col("message").contains("msg 1 ")).groupBy().count()
    assert(boomScanOf(q).aggsPushed.isEmpty)
    assert(q.head().getLong(0) === 1L)
  }

  test("MIN/MAX(timestamp) push into the scan and stay ms-exact at block boundaries") {
    // Same three-regime fixture as the count test: skip, whole-block,
    // and boundary seconds all contribute candidates, and the exact
    // extremes land strictly INSIDE boundary seconds (2000500 head-of-
    // range, 2015200 tail) so a header-only [base, base+999] bound would
    // get both wrong — the per-line ms walk is what's being pinned.
    val d = Files.createTempDirectory("aggms").toString
    val lines = for (s <- 0 until 20; i <- 0 until 10) yield
      graft.core.LogLine(2000000L + s * 1000L + i * 100L, s"line $s $i", 0, 0L, 0L, 1L)
    Ingest.reboom(lines.toDF().coalesce(1), d)
    val b = spark.read.format("boom").load(d)
    val q = b.where(col("timestamp") >= 2000500L && col("timestamp") < 2015300L)
      .agg(min("timestamp"), max("timestamp"), count(lit(1)))
    val scan = boomScanOf(q)
    assert(scan.aggsPushed.toSet === Set("min", "max", "count"),
      s"expected min/max/count pushed, got ${scan.aggsPushed}")
    val r = q.head()
    assert(r.getLong(0) === 2000500L)
    assert(r.getLong(1) === 2015200L)
    assert(r.getLong(2) === 148L)
    // Bit-equality against the unpushed row-level scan.
    assert(reference(b, 2000500L, 2015300L) === ((148L, Some(2000500L), Some(2015200L))))
    // Empty range: pushed MIN/MAX must come back null, count 0.
    val z = b.where(col("timestamp") >= 9000000L)
      .agg(min("timestamp"), max("timestamp"), count(lit(1))).head()
    assert(z.isNullAt(0) && z.isNullAt(1) && z.getLong(2) === 0L)
  }

  test("MIN(timestamp) with a term clause does NOT push (messages must decode)") {
    val q = bm.where(col("message").contains("msg 1 ")).agg(min("timestamp"))
    assert(boomScanOf(q).aggsPushed.isEmpty)
    assert(q.head().getLong(0) === 1000001L)
  }

  test("count-only scan is exact across whole-second and boundary blocks") {
    // Multi-second fixture: 10 lines per second over 20 seconds, so a
    // range cutting mid-second exercises all three count regimes (skip,
    // whole-block credit, boundary per-line ms test) in one query.
    val d = Files.createTempDirectory("countms").toString
    val lines = for (s <- 0 until 20; i <- 0 until 10) yield
      graft.core.LogLine(2000000L + s * 1000L + i * 100L, s"line $s $i", 0, 0L, 0L, 1L)
    Ingest.reboom(lines.toDF().coalesce(1), d)
    val b = spark.read.format("boom").load(d)
    // [2000500, 2015300): tail of second 0 (5 lines), seconds 1..14 whole
    // (140), head of second 15 (3 lines) = 148.
    val q = b.where(col("timestamp") >= 2000500L && col("timestamp") < 2015300L)
      .groupBy().count()
    assert(boomScanOf(q).aggsPushed == Seq("count"))
    assert(q.head().getLong(0) === 148L)
    // Unfiltered count() pushes too.
    assert(b.count() === 200L)

    // Fixed-seed random corpora straddling the epoch: graft-written
    // (floored) blocks plus a reference-style file whose second <= 0
    // blocks carry negative ms, queried over ranges that mostly cut
    // mid-second. COUNT alone and MIN/MAX/COUNT must both equal the
    // row-level reference.
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(seed)
      val rd = Files.createTempDirectory(s"countrand$seed").toString
      val ours = Seq.fill(300)(rnd.between(-6000L, 6000L)).sorted
      Ingest.reboom(ours.map(t =>
        graft.core.LogLine(t, s"line $t", 0, 0L, 0L, 1L)).toDF().coalesce(1), rd)
      writeTruncating(rd, Seq.fill(200)(rnd.between(-6000L, 6000L)))
      val rb = spark.read.format("boom").load(rd)
      val ranges = Seq.fill(6) {
        val lo = rnd.between(-7000L, 6000L)
        (lo, lo + rnd.between(1L, 5000L))
      } ++ Seq((-3000L, 2000L), (-9000L, 9000L))
      ranges.foreach { case (lo, hi) =>
        val in = rb.where(col("timestamp") >= lo && col("timestamp") < hi)
        val (n, mn, mx) = reference(rb, lo, hi)
        val cq = in.groupBy().count()
        assert(boomScanOf(cq).aggsPushed == Seq("count"))
        assert(cq.head().getLong(0) === n, s"seed $seed count [$lo, $hi)")
        val aq = in.agg(min("timestamp"), max("timestamp"), count(lit(1)))
        assert(boomScanOf(aq).aggsPushed.toSet === Set("min", "max", "count"))
        val r = aq.head()
        assert((r.getLong(2), Option(r.get(0)), Option(r.get(1))) === ((n, mn, mx)),
          s"seed $seed min/max/count [$lo, $hi)")
      }
    }
  }

  test("ci prescan never skips a block whose Unicode uppercase would match") {
    // "straße".toUpperCase = "STRASSE": the ASCII byte-wise prescan cannot
    // see the expansion, so a non-ASCII block must decode instead of skip.
    val d = Files.createTempDirectory("pushdown-ci").toString
    val lines = Seq(
      graft.core.LogLine(1000000L, "connect stra\u00dfe 7 failed", 0, 0L, 0L, 1L),
      graft.core.LogLine(1000001L, "plain ascii line", 0, 0L, 0L, 2L))
    Ingest.reboom(lines.toDF().coalesce(1), d)
    val hits = spark.read.format("boom").load(d)
      .where(graft.engine.Search("strasse", caseInsensitive = true)
        .toColumn(col("message")))
      .collect()
    assert(hits.length === 1 && hits(0).getAs[String]("message")
      .contains("stra\u00dfe"))
  }

  test("timestamp bound at Long.MaxValue stays a residual filter, not a wrapped absorb") {
    assert(bm.where(col("timestamp") <= Long.MaxValue).count() === 100)
    assert(bm.where(col("timestamp") > Long.MaxValue).count() === 0)
    assert(bm.where(col("timestamp") === Long.MaxValue).count() === 0)
  }

  test("COUNT(*) over an empty/none-visible directory is 0, not NULL") {
    val d = Files.createTempDirectory("pushdown-empty").toString
    java.nio.file.Files.createFile(java.nio.file.Paths.get(d, "_READY"))
    val r = spark.read.format("boom").load(d).selectExpr("count(*)").head()
    assert(!r.isNullAt(0) && r.getLong(0) === 0L)
  }

  test("reference-style pre-epoch block (truncating ms) is not mis-skipped or mis-counted") {
    // The reference writer derives (second, ms) with truncating / and %
    // (BoomWriter.java:73-74): ts=-500 lands in block second=0 with
    // ms=-500. Build such a block directly and check skip + count paths.
    val d = Files.createTempDirectory("pushdown-preepoch").toString
    writeTruncating(d, Seq(-500L, 500L))
    val pre = spark.read.format("boom").load(d)
    // Range covering only the negative-ms line: block skip must not fire.
    assert(pre.where(col("timestamp") >= -600L && col("timestamp") < -400L)
      .count() === 1)
    // Pushed COUNT over [0, 1000) must not credit the ms=-500 line via the
    // wholly-inside fast path.
    val n = pre.where(col("timestamp") >= 0L && col("timestamp") < 1000L)
      .selectExpr("count(*)").head().getLong(0)
    assert(n === 1L)
    assert(pre.count() === 2)
  }
}
