package graft.boom

import java.nio.file.{Files, Paths}

import scala.io.Source
import scala.util.Using

import graft.SparkTestBase
import graft.engine.{Ingest, LogQuery, MatchAll}

import org.apache.spark.sql.functions._

/** Ingest → Boom write → Boom read round trips, validated against the
  * reference's golden logcat output (the fixture .bm was produced from the
  * same 18-line text file by the reference's own ingest).
  */
class BoomRoundTripSpec extends SparkTestBase {

  private val refBase = "/root/reference/testcases/logsearch"

  test("text → boom → logcat matches the reference logcat golden") {
    val out = Files.createTempDirectory("boom-roundtrip").toString
    Ingest.textToBoom(spark, s"$refBase/logsearch-test-file.txt", out)

    val formatted = LogQuery(paths = Seq(out)).where(MatchAll).formatted(spark).collect().toSeq
    val golden = Using.resource(
      Source.fromFile(s"$refBase/reference-files/logcat-reference.txt")("UTF-8"))(_.getLines().toSeq)
    assert(formatted === golden)
  }

  test("pre-decode block scan skips blocks without term hits; ci + OR clauses match") {
    import org.apache.spark.unsafe.types.UTF8String
    import spark.implicits._
    // Blocks are rolled per (second, block meta); distinct seconds far apart
    // land in distinct logBlocks, and the writer's sync interval puts each
    // container block around 2 MiB — write enough per second to force
    // multiple container blocks.
    val mk = (sec: Int, tag: String) => (1 to 6000).map(i =>
      graft.core.LogLine(sec * 1000L, s"$tag line $i " + ("x" * 400), 0, 0L, sec.toLong, 0L))
    val lines = mk(1, "alpha") ++ mk(2, "bravo") ++ mk(3, "charlie")
    val out = Files.createTempDirectory("boom-prescan").toString
    Ingest.write(lines.toDF().coalesce(1), out)
    val bm = new java.io.File(out).listFiles().filter(_.getName.endsWith(".bm")).head

    def scan(pushdown: BoomPushdown): (Long, Long, Long) = {
      val it = new BoomFileRangeIterator(
        new org.apache.avro.mapred.FsInput(
          new org.apache.hadoop.fs.Path(bm.getAbsolutePath),
          spark.sessionState.newHadoopConf()),
        pushdown, 0L, Long.MaxValue)
      var n = 0L
      while (it.hasNext) { it.next(); n += 1 }
      val r = (n, it.blocksDecoded, it.blocksSkipped)
      it.close()
      r
    }

    val all = scan(BoomPushdown())
    assert(all._1 === 18000 && all._3 === 0)
    assert(all._2 >= 3, "expected multiple container blocks in the fixture")

    // Selective term: only 'charlie' blocks decode; the rest skip pre-decode.
    val sel = scan(BoomPushdown(clauses = Seq(Seq(BoomTerm(
      UTF8String.fromString("charlie"), onUpper = false)))))
    assert(sel._1 === 6000)
    assert(sel._3 > 0, "blocks without the term must skip Avro decode")
    assert(sel._2 < all._2)

    // ci clause: ASCII-upper block scan + per-line upper verify.
    val ci = scan(BoomPushdown(clauses = Seq(Seq(BoomTerm(
      UTF8String.fromString("CHARLIE"), onUpper = true)))))
    assert(ci._1 === 6000 && ci._3 > 0)

    // OR clause across two tags decodes both but skips the third.
    val or = scan(BoomPushdown(clauses = Seq(Seq(
      BoomTerm(UTF8String.fromString("alpha"), onUpper = false),
      BoomTerm(UTF8String.fromString("bravo"), onUpper = false)))))
    assert(or._1 === 12000 && or._3 > 0)
  }

  test("raw reader fails cleanly on corrupt input (no hangs, no partial garbage)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("boom-corrupt").toString
    val lines = (0 until 500).map(i =>
      graft.core.LogLine(1000000L, s"line $i " + ("z" * 100), 0, 0L, 0L, 1L))
    Ingest.reboom(lines.toDF().coalesce(1), dir)
    val bm = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".bm")).head
    val hconf = spark.sessionState.newHadoopConf()

    def readAll(path: String): Long = {
      val it = new BoomFileRangeIterator(
        new org.apache.avro.mapred.FsInput(new org.apache.hadoop.fs.Path(path), hconf),
        BoomPushdown(), 0L, Long.MaxValue)
      try { var n = 0L; while (it.hasNext) { it.next(); n += 1 }; n }
      finally it.close()
    }

    // Not an Avro container at all.
    val junk = Files.createTempFile("junk", ".bm")
    Files.write(junk, Array.fill[Byte](256)(42))
    intercept[java.io.IOException](readAll(junk.toString))

    // Truncated mid-block: the reader must throw, not silently return less.
    val bytes = Files.readAllBytes(bm.toPath)
    val cut = Files.createTempFile("cut", ".bm")
    Files.write(cut, java.util.Arrays.copyOf(bytes, bytes.length - 37))
    intercept[java.io.IOException](readAll(cut.toString))

    // Intact file still reads fully.
    assert(readAll(bm.getAbsolutePath) === 500)
  }

  test("corrupt block count/size varints fail with the file and offset, never short or OOM") {
    import spark.implicits._
    val dir = Files.createTempDirectory("boom-varint").toString
    val lines = (0 until 500).map(i =>
      graft.core.LogLine(1000000L + i * 1000L, s"line $i " + ("z" * 100), 0, 0L, 0L, 1L))
    Ingest.reboom(lines.toDF().coalesce(1), dir)
    val bm = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".bm")).head
    val bytes = Files.readAllBytes(bm.toPath)
    val hconf = spark.sessionState.newHadoopConf()

    def zigzag(v: Long): Array[Byte] = {
      var z = (v << 1) ^ (v >> 63)
      val out = scala.collection.mutable.ArrayBuffer[Byte]()
      while ((z & ~0x7FL) != 0) { out += ((z & 0x7F) | 0x80).toByte; z >>>= 7 }
      out += z.toByte
      out.toArray
    }
    def varintAt(at: Int): (Long, Int) = { // (value, encoded length)
      var acc = 0L; var shift = 0; var i = at
      while ((bytes(i) & 0x80) != 0) { acc |= (bytes(i) & 0x7FL) << shift; shift += 7; i += 1 }
      acc |= (bytes(i) & 0x7FL) << shift
      ((acc >>> 1) ^ -(acc & 1L), i + 1 - at)
    }
    // Every frame ends with the file's sync marker, and so does the header:
    // the first frame starts right after its first occurrence.
    val headerEnd = bytes.indexOfSlice(bytes.takeRight(16)) + 16
    val (_, countLen) = varintAt(headerEnd)
    val sizeAt = headerEnd + countLen
    val (size, sizeLen) = varintAt(sizeAt)
    val payloadAt = sizeAt + sizeLen

    def variant(name: String, content: Array[Byte]): String = {
      val f = Files.createTempFile(name, ".bm")
      Files.write(f, content)
      f.toString
    }
    def withSize(v: Long): Array[Byte] =
      bytes.take(sizeAt) ++ zigzag(v) ++ bytes.drop(payloadAt)
    def withCount(v: Long): Array[Byte] =
      bytes.take(headerEnd) ++ zigzag(v) ++ bytes.drop(sizeAt)
    def readAll(path: String): Long = {
      val it = new BoomFileRangeIterator(
        new org.apache.avro.mapred.FsInput(new org.apache.hadoop.fs.Path(path), hconf),
        BoomPushdown(), 0L, Long.MaxValue, path)
      try { var n = 0L; while (it.hasNext) { it.next(); n += 1 }; n }
      finally it.close()
    }

    Seq(
      variant("negsize", withSize(-5L)) -> sizeAt,
      variant("hugesize", withSize(1L << 30)) -> sizeAt,
      variant("cutpayload", bytes.take(payloadAt + (size / 2).toInt)) -> sizeAt,
      variant("negcount", withCount(-1L)) -> headerEnd,
      variant("hugecount", withCount(1L << 30)) -> headerEnd
    ).foreach { case (f, at) =>
      val e = intercept[java.io.IOException](readAll(f))
      assert(e.getMessage.contains(f) && e.getMessage.contains(s"at byte $at"),
        e.getMessage)
      // The task read path names the file too, for rows and pushed counts.
      val name = java.nio.file.Paths.get(f).getFileName.toString
      Seq[() => Any](
        () => spark.read.format("boom").load(f).collect(),
        () => spark.read.format("boom").load(f).count()).foreach { run =>
        val se = intercept[org.apache.spark.SparkException](run())
        assert(se.getMessage.contains(name), se.getMessage)
      }
    }
    assert(readAll(bm.getAbsolutePath) === 500)
  }

  test("paths option and stream offsets round-trip control characters in file names") {
    import spark.implicits._
    val ps = Seq("/logs/a\tb", "/logs/c\u0001d", "/logs/q\"uote\\")
    val json = new com.fasterxml.jackson.databind.ObjectMapper().writeValueAsString(ps.toArray)
    assert(BoomDataSource.extractPaths(java.util.Map.of("paths", json)) === ps)
    assert(BoomOffset.fromJson(BoomOffset(ps).json).files === ps.sorted)
    // Through DataFrameReader, which sends several paths as that JSON.
    val base = Files.createTempDirectory("boom-paths")
    val dirs = Seq("tab\there", "plain").map(n => base.resolve(n).toString)
    dirs.foreach(d => Ingest.reboom(
      Seq(graft.core.LogLine(1000L, d, 0, 0L, 0L, 1L)).toDF().coalesce(1), d))
    assert(spark.read.format("boom").load(dirs: _*).select("message").as[String]
      .collect().toSet === dirs.toSet)
  }

  test("two-phase commit: task commit stages, job commit promotes, abort cleans all hours") {
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    import org.apache.spark.unsafe.types.UTF8String

    def row(ts: Long) = new GenericInternalRow(
      Array[Any](ts, UTF8String.fromString("m"), 0, 0L, 0L, 1L))
    def ls(dir: String, suffix: String): Seq[java.io.File] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      val root = new java.io.File(dir)
      if (root.exists()) walk(root).filter(_.getName.endsWith(suffix)) else Seq.empty
    }

    val hconf = spark.sessionState.newHadoopConf()
    val dir = Files.createTempDirectory("boom-2pc").toString
    val w = new BoomHourlyDataWriter(dir, "ingest", "", 0, 0L, hconf)
    w.write(row(0L)); w.write(row(3600000L)) // two hours → one mid-task roll
    val msg = w.commit().asInstanceOf[BoomCommitMessage]
    assert(msg.staged.size === 2)
    // Task commit must leave NOTHING visible (a task retry would duplicate
    // any hour already promoted here).
    assert(ls(dir, ".bm").isEmpty)
    assert(ls(dir, ".bm.tmp").size === 2)
    // Job commit promotes every staged file.
    new BoomBatchWrite(dir, "ingest", true, "", false, hconf).commit(Array(msg))
    assert(ls(dir, ".bm").size === 2)
    assert(ls(dir, ".bm.tmp").isEmpty)

    // Abort after a roll removes earlier hours' staged files too.
    val dir2 = Files.createTempDirectory("boom-2pc-abort").toString
    val w2 = new BoomHourlyDataWriter(dir2, "ingest", "", 0, 0L, hconf)
    w2.write(row(0L)); w2.write(row(3600000L))
    w2.abort()
    assert(ls(dir2, ".bm").isEmpty && ls(dir2, ".bm.tmp").isEmpty)
  }

  test("written boom files honor block invariants (one second, ≤1000 lines per block)") {
    import spark.implicits._
    // 2500 lines in the same second + 5 in the next → blocks of 1000/1000/500/5
    val lines = (1 to 2500).map(i => graft.core.LogLine(1000000L, s"m$i", 0, 0L, 0L, 0L)) ++
      (1 to 5).map(i => graft.core.LogLine(1001000L, s"n$i", 0, 0L, 0L, 0L))
    val out = Files.createTempDirectory("boom-inv").toString
    Ingest.write(lines.toDF().coalesce(1), out)

    // Read back raw blocks with the plain Avro reader and check invariants.
    val dir = new java.io.File(out)
    val bmFiles = dir.listFiles().filter(_.getName.endsWith(".bm"))
    assert(bmFiles.nonEmpty)
    // Pin the reference writer constants (BoomWriter.java:40-42) so our .bm
    // output stays readable by reference tooling: deflate-6 codec, 2 MiB
    // Avro sync interval, ≤1000-line single-second blocks.
    assert(BoomSchemas.DeflateLevel === 6)
    assert(BoomSchemas.AvroSyncInterval === 2 * 1024 * 1024)
    assert(BoomSchemas.MaxLinesPerBlock === 1000)
    val reader = new org.apache.avro.generic.GenericDatumReader[org.apache.avro.generic.GenericRecord]()
    var blocks = 0
    bmFiles.foreach { f =>
      val dfr = new org.apache.avro.file.DataFileReader(f, reader)
      // Container header records the codec by name; deflate level is a
      // write-time knob the reader doesn't see, pinned via the constant above.
      assert(dfr.getMetaString("avro.codec") === "deflate")
      assert(dfr.getSchema === BoomSchemas.logBlockSchema)
      while (dfr.hasNext) {
        val rec = dfr.next()
        val lines = rec.get("logLines").asInstanceOf[java.util.Collection[_]]
        assert(lines.size <= 1000)
        // One wall-clock second per block: every line's full timestamp
        // reconstructs from the block's single `second` field.
        val sec = rec.get("second").asInstanceOf[Long]
        assert(sec === 1000L || sec === 1001L)
        lines.forEach { l =>
          val ms = l.asInstanceOf[org.apache.avro.generic.GenericRecord]
            .get("ms").asInstanceOf[Long]
          assert(ms >= 0 && ms < 1000, s"ms offset $ms escapes the block second")
        }
        blocks += 1
      }
      dfr.close()
    }
    assert(blocks === 4)

    // And the full table reads back complete.
    val back = spark.read.format("boom").load(out)
    assert(back.count() === 2505)
    assert(back.where($"timestamp" === 1001000L).count() === 5)
  }

  test("reboom preserves block metadata") {
    import spark.implicits._
    val lines = Seq(
      graft.core.LogLine(5000L, "a", 0, 42L, 7L, 1L),
      graft.core.LogLine(5001L, "b", 0, 42L, 7L, 2L),
      graft.core.LogLine(6000L, "c", 3, 43L, 8L, 1L))
    val out = Files.createTempDirectory("boom-reboom").toString
    Ingest.reboom(lines.toDF().coalesce(1), out)
    val back = spark.read.format("boom").load(out)
      .orderBy("timestamp", "lineNumber")
      .as[graft.core.LogLine].collect().toSeq
    assert(back === lines)
  }

  test("pushdown: time range and contains filters prune correctly") {
    import spark.implicits._
    val out = Files.createTempDirectory("boom-push").toString
    val lines = (0 until 100).map { i =>
      graft.core.LogLine(i * 1000L, s"msg $i ${if (i % 10 == 0) "NEEDLE" else "hay"}", 0, 1L, i / 10L, i % 10 + 1L)
    }
    Ingest.reboom(lines.toDF().coalesce(1), out)

    val df = spark.read.format("boom").load(out)
      .where($"timestamp" >= 20000L && $"timestamp" < 70000L)
      .where($"message".contains("NEEDLE"))
    val got = df.select("timestamp").as[Long].collect().sorted
    assert(got === Array(20000L, 30000L, 40000L, 50000L, 60000L))

    // The pushed filters must appear in the physical plan's scan node.
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("boom"))
  }

  test("column pruning: reading only timestamps skips message decode") {
    import spark.implicits._
    val out = Files.createTempDirectory("boom-prune").toString
    val lines = (0 until 50).map(i => graft.core.LogLine(i * 100L, s"m$i", 0, 1L, 0L, i + 1L))
    Ingest.reboom(lines.toDF().coalesce(1), out)
    val sum = spark.read.format("boom").load(out).agg(sum_distinct($"timestamp")).as[Long].head()
    assert(sum === (0 until 50).map(_ * 100L).sum)
  }
}
