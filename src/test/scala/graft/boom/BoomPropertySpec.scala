package graft.boom

import java.nio.file.Files

import graft.SparkTestBase
import graft.core.{LogDateFormat, LogLine, Rfc5424TimestampParser}
import graft.engine.Ingest

import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property tests: container round-trips over arbitrary content and the
  * parse/format inverse pair. (Drives scalacheck `Gen` directly with fixed
  * seeds — the scalatest bridge isn't on the classpath.)
  */
class BoomPropertySpec extends SparkTestBase {
  import spark.implicits._

  private def samples[T](gen: Gen[T], n: Int): Seq[T] =
    (0 until n).map(i => gen.apply(Gen.Parameters.default, Seed(42L + i)).get)

  // Messages: printable-ish unicode, no newlines (line-oriented format).
  private val genMessage: Gen[String] =
    Gen.listOf(Gen.frequency(
      8 -> Gen.asciiPrintableChar,
      2 -> Gen.oneOf('ä', 'Ä', 'ê', 'ч', 'ر', 'α', '中', '€', '\t')))
      .map(_.mkString)

  private val genLine: Gen[LogLine] = for {
    ts <- Gen.chooseNum(0L, 4102444800000L) // 1970..2100
    msg <- genMessage
    eventId <- Gen.chooseNum(0, 3)
    createTime <- Gen.chooseNum(0L, 4102444800000L)
    blockNo <- Gen.chooseNum(0L, 100L)
  } yield LogLine(ts, msg, eventId, createTime, blockNo, 1L)

  test("property: boom write/read round-trips arbitrary lines (reboom)") {
    samples(Gen.listOfN(60, genLine), 5).foreach { lines =>
      val dir = Files.createTempDirectory("prop-boom").toString
      Ingest.reboom(lines.toDF().coalesce(1), dir)
      val back = spark.read.format("boom").load(dir)
        .as[LogLine].collect()
      // lineNumber is synthesized by the reader; compare the stored fields
      // as multisets.
      def key(l: LogLine) = (l.timestamp, l.message, l.eventId, l.createTime, l.blockNumber)
      assert(back.map(key).sorted.toSeq === lines.map(key).sorted)
    }
  }

  test("property: random slice boundaries partition blocks exactly-once; raw reader ≡ DataFileStream") {
    // Big enough for several container blocks (sync interval 2 MiB).
    val lines = (0 until 30000).map(i =>
      LogLine(1000000L + i / 100, s"line $i " + ("y" * 150), 0, 0L, (i / 1000).toLong, 1L))
    val dir = Files.createTempDirectory("prop-slice").toString
    Ingest.reboom(lines.toDF().coalesce(1), dir)
    val bm = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".bm")).head
    val fileLen = bm.length()
    val hconf = spark.sessionState.newHadoopConf()

    /** (timestamp, message, eventId, createTime, blockNumber) per line. */
    type Fields = (Long, String, Int, Long, Long)
    def readRange(s: Long, e: Long): Seq[Fields] = {
      val it = new BoomFileRangeIterator(
        new org.apache.avro.mapred.FsInput(new org.apache.hadoop.fs.Path(bm.getAbsolutePath), hconf),
        BoomPushdown(), s, e)
      val out = scala.collection.mutable.ArrayBuffer[Fields]()
      while (it.hasNext) {
        val l = it.next()
        out += ((l.timestamp, l.message.toString, l.eventId, l.createTime, l.blockNumber))
      }
      it.close()
      out.toSeq
    }

    // Whole-file raw read ≡ Avro's own DataFileReader (a DataFileStream),
    // read field by field: a reference that shares no code with graft's.
    val whole = readRange(0L, Long.MaxValue)
    val viaAvro = {
      val dfr = new org.apache.avro.file.DataFileReader(bm,
        new org.apache.avro.generic.GenericDatumReader[org.apache.avro.generic.GenericRecord]())
      val out = scala.collection.mutable.ArrayBuffer[Fields]()
      while (dfr.hasNext) {
        val rec = dfr.next()
        def long(f: String) = rec.get(f).asInstanceOf[Long]
        rec.get("logLines").asInstanceOf[java.util.Collection[_]].forEach { item =>
          val l = item.asInstanceOf[org.apache.avro.generic.GenericRecord]
          out += ((long("second") * 1000L + l.get("ms").asInstanceOf[Long], l.get("message").toString,
            l.get("eventId").asInstanceOf[Int], long("createTime"), long("blockNumber")))
        }
      }
      dfr.close()
      out.toSeq
    }
    assert(whole === viaAvro)
    assert(whole.size === 30000)

    // Random cut points (fixed seeds): concatenated slices ≡ whole file.
    samples(Gen.listOfN(4, Gen.chooseNum(1L, fileLen - 1)), 6).foreach { cutsRaw =>
      val cuts = (Seq(0L) ++ cutsRaw.distinct.sorted ++ Seq(fileLen)).distinct
      val sliced = cuts.sliding(2).flatMap { case Seq(s, e) => readRange(s, e) }.toSeq
      assert(sliced === whole, s"cuts=$cuts must partition blocks exactly-once")
    }
  }

  test("property: rfc5424 format∘parse is identity on the millisecond range") {
    val parser = new Rfc5424TimestampParser
    val fmt = LogDateFormat("yyyy-MM-dd'T'HH:mm:ss.SSS'Z'")
    samples(Gen.chooseNum(0L, 4102444800000L), 200).foreach { ts =>
      assert(parser.parseTimestamp(fmt.format(ts)) === ts)
    }
  }

  test("property: ingest preserves message content through the full pipeline") {
    samples(Gen.listOfN(30, genMessage), 5).foreach { msgs =>
      val clean = msgs.map(_.replaceAll("[\\r\\n]", " "))
      val f = Files.createTempFile("prop-ingest", ".log")
      val text = clean.zipWithIndex
        .map { case (m, i) => f"2024-01-01T00:00:${i % 60}%02d.${i / 60}%03dZ $m" }
        .mkString("", "\n", "\n")
      Files.write(f, text.getBytes("UTF-8"))
      val out = Files.createTempDirectory("prop-out").toString
      Ingest.textToBoom(spark, f.toString, out)
      val back = spark.read.format("boom").load(out)
        .select("message").as[String].collect().sorted.toSeq
      assert(back === clean.sorted)
    }
  }
}
