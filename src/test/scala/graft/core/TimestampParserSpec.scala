package graft.core

import java.nio.charset.StandardCharsets.UTF_8
import java.time.format.DateTimeFormatter
import java.time.{Instant, LocalDateTime, ZoneId, ZoneOffset}
import java.util.Locale

import scala.util.Random

import graft.functions.FormatLogDate

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.types.LongType
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

class TimestampParserSpec extends AnyFunSuite {

  private def utcMs(y: Int, mo: Int, d: Int, h: Int, mi: Int, s: Int, ms: Int = 0): Long =
    LocalDateTime.of(y, mo, d, h, mi, s).toEpochSecond(ZoneOffset.UTC) * 1000L + ms

  // ---- RFC5424 ----
  private val p5424 = new Rfc5424TimestampParser

  test("rfc5424 basic Z") {
    assert(p5424.parseTimestamp("2012-02-28T10:00:01Z") === utcMs(2012, 2, 28, 10, 0, 1))
  }

  test("rfc5424 fractional seconds: 1, 2, 3 and >3 digits") {
    assert(p5424.parseTimestamp("2012-02-28T10:00:01.5Z") === utcMs(2012, 2, 28, 10, 0, 1, 500))
    assert(p5424.parseTimestamp("2012-02-28T10:00:01.55Z") === utcMs(2012, 2, 28, 10, 0, 1, 550))
    assert(p5424.parseTimestamp("2012-02-28T10:00:01.557Z") === utcMs(2012, 2, 28, 10, 0, 1, 557))
    // >3 digits are consumed and truncated, not rounded
    assert(p5424.parseTimestamp("2012-02-28T10:00:01.5579999Z") === utcMs(2012, 2, 28, 10, 0, 1, 557))
  }

  test("rfc5424 offsets") {
    assert(p5424.parseTimestamp("2012-02-28T10:00:01+02:00") === utcMs(2012, 2, 28, 8, 0, 1))
    assert(p5424.parseTimestamp("2012-02-28T10:00:01-05:30") === utcMs(2012, 2, 28, 15, 30, 1))
    assert(p5424.parseTimestamp("2012-02-28T10:00:01.250-01:00") === utcMs(2012, 2, 28, 11, 0, 1, 250))
  }

  test("rfc5424 malformed") {
    intercept[IllegalArgumentException](p5424.parseTimestamp("2012-02-28T10:00:01X"))
    intercept[IllegalArgumentException](p5424.parseTimestamp("2012-02-28T10:00:01+0200"))
    intercept[IllegalArgumentException](p5424.parseTimestamp("not a date"))
    // no offset at all → malformed (reference reads past end of string)
    intercept[IllegalArgumentException](p5424.parseTimestamp("2012-02-28T10:00:01"))
  }

  test("rfc5424 splitLine") {
    assert(p5424.splitLine("2012-02-28T10:00:01Z hello world") ===
      ("2012-02-28T10:00:01Z", "hello world"))
    assert(p5424.splitLine("nospace") === (null, "nospace"))
  }

  // ---- RFC3164 ----
  private def p3164At(now: Long) = new Rfc3164TimestampParser(() => now)

  test("rfc3164 basic with injected year") {
    val now = utcMs(2013, 6, 15, 0, 0, 0)
    assert(p3164At(now).parseTimestamp("Feb 28 10:00:01") === utcMs(2013, 2, 28, 10, 0, 1))
  }

  test("rfc3164 space-padded day") {
    val now = utcMs(2013, 6, 15, 0, 0, 0)
    assert(p3164At(now).parseTimestamp("Feb  8 10:00:01") === utcMs(2013, 2, 8, 10, 0, 1))
  }

  test("rfc3164 Dec 31 log seen on Jan 1 rolls back a year") {
    val now = utcMs(2014, 1, 1, 0, 5, 0)
    assert(p3164At(now).parseTimestamp("Dec 31 23:59:58") === utcMs(2013, 12, 31, 23, 59, 58))
  }

  test("rfc3164 Jan 1 log seen on Dec 31 rolls forward a year") {
    val now = utcMs(2013, 12, 31, 23, 58, 0)
    assert(p3164At(now).parseTimestamp("Jan 01 00:00:02") === utcMs(2014, 1, 1, 0, 0, 2))
  }

  test("rfc3164 lenient day overflow like SimpleDateFormat") {
    val now = utcMs(2013, 6, 15, 0, 0, 0) // 2013: not a leap year
    assert(p3164At(now).parseTimestamp("Feb 29 10:00:00") === utcMs(2013, 3, 1, 10, 0, 0))
  }

  test("rfc3164 splitLine drops char 15 unconditionally") {
    val now = utcMs(2013, 6, 15, 0, 0, 0)
    assert(p3164At(now).splitLine("Feb 28 10:00:01 message here") ===
      ("Feb 28 10:00:01", "message here"))
    assert(p3164At(now).splitLine("short") === (null, "short"))
  }

  // ---- detection ----
  test("parser auto-detection") {
    assert(TimestampParsers.detect("2012-02-28T10:00:01Z hi").get.isInstanceOf[Rfc5424TimestampParser])
    assert(TimestampParsers.detect("Feb 28 10:00:01 hi").get.isInstanceOf[Rfc3164TimestampParser])
    assert(TimestampParsers.detect("no timestamp here at all").isEmpty)
  }
}

class LogDateFormatSpec extends AnyFunSuite {
  private val ts = 1330423201000L // 2012-02-28T10:00:01Z

  test("named formats match FastDateFormat output") {
    assert(LogDateFormat("RFC5424").format(ts) === "2012-02-28T10:00:01.000+00:00")
    assert(LogDateFormat("RFC822").format(ts) === "2012-02-28T10:00:01.000+0000")
    assert(LogDateFormat("RFC822_SEC_UTC").format(ts) === "2012-02-28T10:00:01Z")
    assert(LogDateFormat("RFC3164").format(ts) === "Feb 28 10:00:01")
  }

  test("names are case-insensitive; unknown strings are raw patterns") {
    assert(LogDateFormat("rfc5424").format(ts) === "2012-02-28T10:00:01.000+00:00")
    assert(LogDateFormat("yyyy/MM/dd HH:mm").format(ts) === "2012/02/28 10:00")
  }

  test("non-UTC zone") {
    assert(LogDateFormat("RFC5424", "America/New_York").format(ts) ===
      "2012-02-28T05:00:01.000-05:00")
  }

  test("millisecond rendering") {
    assert(LogDateFormat("RFC5424").format(ts + 557) === "2012-02-28T10:00:01.557+00:00")
  }

  test("patterns format per second, around SSS, or per call") {
    def plan(f: String) =
      LogDateFormat.secondPattern(LogDateFormat.translatePattern(LogDateFormat.resolvePattern(f)))
    assert(plan("RFC5424") === Some(("yyyy-MM-dd'T'HH:mm:ss.\uFFFFxxx", true)))
    assert(plan("'SSS' ss.SSS") === Some(("'SSS' ss.\uFFFF", true)))
    assert(plan("RFC3164") === Some(("MMM dd HH:mm:ss", false)))
    assert(plan("RFC822_SEC_UTC").map(_._2) === Some(false))
    Seq("ss.SS", "ss.SSSSSS", "ss.SSS SSS", "HH:mm:ss.n", "A", "N", "ppss.SSS",
      "HH:mm:ss[.SSS]")
      .foreach(f => assert(plan(f) === None, f))
  }

  test("the per-second memo formats like java.time, in time order and shuffled") {
    val formats = Seq("RFC822", "RFC822_SEC_UTC", "RFC3164", "RFC5424", "yyyy/MM/dd HH:mm",
      "MMM dd HH:mm:ss.SSS", "HH:mm:ss.SSS'Z'", "'SSS' ss.SSS", "ss.SS", "ss.SSSSSS",
      "HH:mm:ss.n")
    val zones = Seq("UTC", "America/New_York", "Asia/Kolkata", "Australia/Lord_Howe")
    val anchors = Seq(
      "2021-03-14T07:00:00Z", "2021-11-07T06:00:00Z", // New York: spring forward, fall back
      "2021-04-03T15:00:00Z", "2021-10-02T15:30:00Z", // Lord Howe: 30 minutes back, forward
      "1970-01-01T00:00:00Z", "1942-05-14T18:30:00Z", "1969-07-20T20:17:40Z")
      .map(Instant.parse(_).toEpochMilli)
    // A walk from up to an hour before an anchor: mostly steps within a
    // second (the memo's hit path), some across seconds, a few of hours.
    val genWalk: Gen[Seq[Long]] = for {
      anchor <- Gen.oneOf(anchors)
      back <- Gen.choose(0L, 3600000L)
      steps <- Gen.listOfN(300, Gen.frequency(
        6 -> Gen.choose(0L, 40L), 3 -> Gen.choose(0L, 1500L), 1 -> Gen.choose(0L, 3600000L)))
    } yield steps.scanLeft(anchor - back)(_ + _)

    var seed = 7L
    for (f <- formats; z <- zones) {
      seed += 1
      val inOrder = genWalk.apply(Gen.Parameters.default, Seed(seed)).get
      val values = inOrder ++ new Random(seed).shuffle(inOrder)
      val fresh = DateTimeFormatter.ofPattern(
        LogDateFormat.translatePattern(LogDateFormat.resolvePattern(f)), Locale.ROOT)
        .withZone(ZoneId.of(z))
      val fmt = LogDateFormat(f, z)
      val expr = FormatLogDate(BoundReference(0, LongType, nullable = false), f, z)
      val compiled = GenerateUnsafeProjection.generate(
        Seq(FormatLogDate(BoundReference(0, LongType, nullable = false), f, z)))
      values.foreach { ms =>
        val want = fresh.format(Instant.ofEpochMilli(ms))
        val clue = s"$f @ $z, $ms"
        assert(fmt.format(ms) === want, clue)
        assert(fmt.formatUtf8(ms).getBytes.sameElements(want.getBytes(UTF_8)), clue)
        assert(expr.eval(InternalRow(ms)).toString === want, s"interpreted $clue")
        assert(compiled(InternalRow(ms)).getUTF8String(0).toString === want, s"codegen $clue")
      }
    }
  }
}
