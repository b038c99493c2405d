package graftbench

import java.io.OutputStream
import java.nio.charset.StandardCharsets.UTF_8
import java.time.format.DateTimeFormatter
import java.time.{Instant, ZoneOffset}

/** The benchmark's own RFC5424 rendering, independent of graft's formatter.
  * Input lines carry a `Z` offset; the tools print `+00:00`, so an output
  * line can only match if the program really reformatted the timestamp.
  */
object Rfc5424 {
  private val inFmt =
    DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss").withZone(ZoneOffset.UTC)

  /** Per-second prefix cache: corpora are time-sorted, so consecutive lines
    * share their second and formatting stays off the generator's hot path.
    */
  final class Renderer(suffix: String) {
    private var second = Long.MinValue
    private var prefix = ""
    def apply(ts: Long): String = {
      val s = Math.floorDiv(ts, 1000L)
      if (s != second) {
        second = s
        prefix = inFmt.format(Instant.ofEpochSecond(s)) + "."
      }
      val ms = Math.floorMod(ts, 1000L).toInt
      val sb = new java.lang.StringBuilder(prefix.length + 3 + suffix.length)
      sb.append(prefix)
      if (ms < 100) sb.append('0')
      if (ms < 10) sb.append('0')
      sb.append(ms).append(suffix).toString
    }
  }

  def inputRenderer(): Renderer = new Renderer("Z")
  def outputRenderer(): Renderer = new Renderer("+00:00")
}

/** Result digest: order-sensitive across timestamps, order-insensitive
  * within one timestamp. Lines are grouped into runs of equal leading
  * token (the printed timestamp); a run contributes the wrapping sum of its
  * line hashes, and runs are chained in arrival order. Lines of one
  * millisecond may come out in any order, but a millisecond that is split
  * into two runs, or runs that arrive out of order, change the digest.
  */
final class Digest {
  private var key = new Array[Byte](64)
  private var keyLen = -1
  private var runSum = 0L
  private var runCount = 0L
  private var chain = 0x243F6A8885A308D3L
  var lines = 0L

  def add(s: String): Unit = { val b = s.getBytes(UTF_8); add(b, b.length) }

  def add(b: Array[Byte], len: Int): Unit = {
    var k = 0
    while (k < len && b(k) != ' ') k += 1
    if (k != keyLen || !java.util.Arrays.equals(b, 0, k, key, 0, k)) {
      flush()
      if (key.length < k) key = new Array[Byte](k)
      System.arraycopy(b, 0, key, 0, k)
      keyLen = k
    }
    runSum += Digest.hash(b, 0, len)
    runCount += 1
    lines += 1
  }

  private def flush(): Unit = if (runCount > 0) {
    chain = Digest.mix(chain ^ Digest.mix(Digest.hash(key, 0, keyLen) + runSum + runCount))
    runSum = 0L
    runCount = 0L
  }

  def value: Long = { flush(); chain }
}

object Digest {
  def hash(b: Array[Byte], off: Int, len: Int): Long = {
    var h = 0xCBF29CE484222325L
    var i = off
    while (i < off + len) { h = (h ^ (b(i) & 0xFF)) * 0x100000001B3L; i += 1 }
    mix(h)
  }

  /** SplitMix64 finalizer. */
  def mix(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def of(lines: Iterable[String]): (Long, Long) = {
    val d = new Digest
    lines.foreach(d.add)
    (d.lines, d.value)
  }
}

/** What one query must print. */
final case class Expected(count: Long, digest: Long)

/** Terminal stand-in for a CLI run: receives the bytes the tool writes to
  * stdout, digests the lines between the two `;#### DATA RESULTS ####`
  * markers and notes when the first data line arrived.
  */
final class OutputChecker extends OutputStream {
  private val Marker = ";#### DATA RESULTS ####".getBytes(UTF_8)
  private var buf = new Array[Byte](8192)
  private var len = 0
  private var digest = new Digest
  var markers = 0
  var firstLineNanos = 0L

  def reset(): Unit = { len = 0; digest = new Digest; markers = 0; firstLineNanos = 0L }

  override def write(b: Int): Unit = {
    if (b == '\n') endLine()
    else {
      if (len == buf.length) buf = java.util.Arrays.copyOf(buf, len * 2)
      buf(len) = b.toByte
      len += 1
    }
  }

  override def write(b: Array[Byte], off: Int, n: Int): Unit = {
    var i = off
    while (i < off + n) { write(b(i).toInt); i += 1 }
  }

  private def endLine(): Unit = {
    if (len == Marker.length && java.util.Arrays.equals(buf, 0, len, Marker, 0, len)) markers += 1
    else if (markers == 1) {
      if (digest.lines == 0) firstLineNanos = System.nanoTime()
      digest.add(buf, len)
    }
    len = 0
  }

  def lines: Long = digest.lines

  /** None when the output is exactly what the generator predicted. */
  def mismatch(exp: Expected): Option[String] =
    if (len != 0) Some("output does not end with a newline")
    else if (markers != 2) Some(s"expected 2 result markers, saw $markers")
    else {
      val got = Expected(digest.lines, digest.value)
      if (got == exp) None
      else Some(f"expected ${exp.count} lines digest ${exp.digest}%016x, " +
        f"got ${got.count} lines digest ${got.digest}%016x")
    }
}

object Stats {
  /** Linear-interpolated percentile of an ascending array, p in [0, 1]. */
  def percentile(sorted: Array[Double], p: Double): Double = {
    require(sorted.nonEmpty, "percentile of no samples")
    val x = p * (sorted.length - 1)
    val lo = math.floor(x).toInt
    val hi = math.min(lo + 1, sorted.length - 1)
    sorted(lo) + (sorted(hi) - sorted(lo)) * (x - lo)
  }

  def median(xs: Seq[Double]): Double = percentile(xs.sorted.toArray, 0.5)

  /** The highest percentile with at least `beyond` samples above it: the
    * sample at ascending index n-1-beyond, as (value, percentile 0-100).
    * None when there are not more than `beyond` samples.
    */
  def tail(xs: Seq[Double], beyond: Int = 10): Option[(Double, Double)] = {
    val s = xs.sorted.toArray
    val i = s.length - 1 - beyond
    if (i < 0) None
    else Some((s(i), if (s.length == 1) 100.0 else 100.0 * i / (s.length - 1)))
  }
}
