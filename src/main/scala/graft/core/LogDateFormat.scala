package graft.core

import java.nio.charset.StandardCharsets.UTF_8
import java.time.format.DateTimeFormatter
import java.time.{Instant, ZoneId}
import java.util.Locale

import org.apache.spark.unsafe.types.UTF8String

/** Epoch-millis → formatted-string, with the reference's named formats.
  *
  * Reference: src/com/blackberry/logdriver/pig/DateFormatter.java:30-51 (which
  * uses commons-lang `FastDateFormat`). Pattern compatibility notes:
  *   - FastDateFormat `ZZ` (colon offset, `+00:00`) → java.time `xxx`
  *   - FastDateFormat `Z`  (`+0000`)               → java.time `xx`
  * both rewritten here outside quoted literal sections; the remaining pattern
  * letters used by the reference (y M d H m s S) are identical in java.time.
  *
  * Date work happens once per epoch second where the pattern allows it,
  * which is what FastDateFormat's cache bought the reference: log lines
  * arrive in time order, many to a second. A pattern with no sub-second
  * field caches its whole text per second; one whose only sub-second field
  * is a single `SSS` caches the text around it and appends three digits per
  * call. Any other sub-second field (`S` runs other than 3, `n`, `N`, `A`)
  * formats every call.
  *
  * Serializable wrapper because [[DateTimeFormatter]] itself is not.
  */
final class LogDateFormat(val pattern: String, val zoneId: String) extends Serializable {
  import LogDateFormat._

  @transient private lazy val plan: Plan = Plan(translatePattern(pattern), ZoneId.of(zoneId))

  // The last second formatted. A `Second` is immutable (final fields), so
  // tasks sharing this instance may race on the reference but never see a
  // torn memo: a stale read only costs one more format.
  @transient private var memo: Second = _

  def format(epochMs: Long): String = formatUtf8(epochMs).toString

  def formatUtf8(epochMs: Long): UTF8String = {
    val p = plan
    if (p.perSecond == null)
      return UTF8String.fromString(p.perCall.format(Instant.ofEpochMilli(epochMs)))
    val sec = Math.floorDiv(epochMs, 1000L)
    var m = memo
    if (m == null || m.epochSecond != sec) { m = p.second(sec); memo = m }
    if (m.tail == null) return UTF8String.fromBytes(m.head)
    val h = m.head.length
    val out = new Array[Byte](h + 3 + m.tail.length)
    System.arraycopy(m.head, 0, out, 0, h)
    val ms = Math.floorMod(epochMs, 1000L).toInt
    out(h) = ('0' + ms / 100).toByte
    out(h + 1) = ('0' + ms / 10 % 10).toByte
    out(h + 2) = ('0' + ms % 10).toByte
    System.arraycopy(m.tail, 0, out, h + 3, m.tail.length)
    UTF8String.fromBytes(out)
  }
}

object LogDateFormat {
  // DateFormatter.java:30-34
  val Rfc822Pattern = "yyyy-MM-dd'T'HH:mm:ss.SSSZ"
  val Rfc822SecUtcPattern = "yyyy-MM-dd'T'HH:mm:ss'Z'"
  val Rfc3164Pattern = "MMM dd HH:mm:ss" // day zero-padded, like the reference
  val Rfc5424Pattern = "yyyy-MM-dd'T'HH:mm:ss.SSSZZ"

  /** Resolve a format name (RFC822 | RFC822_SEC_UTC | RFC3164 | RFC5424,
    * case-insensitive) or treat the string as a raw pattern
    * (DateFormatter.java:38-51).
    */
  def resolvePattern(nameOrPattern: String): String =
    nameOrPattern.toUpperCase(Locale.ROOT) match {
      case "RFC822" => Rfc822Pattern
      case "RFC822_SEC_UTC" => Rfc822SecUtcPattern
      case "RFC3164" => Rfc3164Pattern
      case "RFC5424" => Rfc5424Pattern
      case _ => nameOrPattern
    }

  def apply(nameOrPattern: String, zoneId: String = "UTC"): LogDateFormat =
    new LogDateFormat(resolvePattern(nameOrPattern), zoneId)

  /** Rewrite FastDateFormat zone tokens to java.time equivalents, leaving
    * single-quoted literal sections untouched.
    */
  private[core] def translatePattern(p: String): String = {
    val sb = new StringBuilder
    var i = 0
    var inQuote = false
    while (i < p.length) {
      val c = p.charAt(i)
      if (c == '\'') { inQuote = !inQuote; sb.append(c); i += 1 }
      else if (!inQuote && c == 'Z') {
        var n = 0
        while (i < p.length && p.charAt(i) == 'Z') { n += 1; i += 1 }
        sb.append(if (n >= 2) "xxx" else "xx")
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** Stands in for the milliseconds in a per-second pattern. A Unicode
    * noncharacter: no field prints it, and a pattern that contains it
    * formats every call.
    */
  private val Sentinel = '\uFFFF'

  /** One epoch second's text as UTF-8: `head` + three millisecond digits +
    * `tail`, or the whole text in `head` when `tail` is null.
    */
  private final class Second(val epochSecond: Long, val head: Array[Byte], val tail: Array[Byte])

  /** `perCall` formats an instant; `perSecond`, when not null, formats a
    * whole second with the sentinel where the `SSS` digits go, or without
    * them when `millis` is false.
    */
  private final class Plan(val perCall: DateTimeFormatter, val perSecond: DateTimeFormatter,
      millis: Boolean) {
    def second(sec: Long): Second = {
      val s = perSecond.format(Instant.ofEpochSecond(sec))
      if (!millis) new Second(sec, s.getBytes(UTF_8), null)
      else {
        val at = s.indexOf(Sentinel)
        new Second(sec, s.substring(0, at).getBytes(UTF_8), s.substring(at + 1).getBytes(UTF_8))
      }
    }
  }

  private object Plan {
    def apply(translated: String, zone: ZoneId): Plan = {
      def formatter(p: String) = DateTimeFormatter.ofPattern(p, Locale.ROOT).withZone(zone)
      val perCall = formatter(translated)
      secondPattern(translated) match {
        case Some((p, millis)) => new Plan(perCall, formatter(p), millis)
        case None => new Plan(perCall, null, millis = false)
      }
    }
  }

  /** The pattern that formats a whole second of `p` (a java.time pattern),
    * and whether the `SSS` milliseconds follow per call at the sentinel;
    * None when `p` has another sub-second field (`S` runs other than one of
    * length 3, `n`, `N`, `A`), a padding modifier `p`, an optional section
    * `[`, or the sentinel itself. Quoted sections are literals, so the
    * sentinel prints exactly once.
    */
  private[core] def secondPattern(p: String): Option[(String, Boolean)] = {
    if (p.indexOf(Sentinel) >= 0) return None
    var sRuns = List.empty[(Int, Int)]
    var inQuote = false
    var i = 0
    while (i < p.length) {
      val c = p.charAt(i)
      if (c == '\'') { inQuote = !inQuote; i += 1 }
      else if (inQuote) i += 1
      else {
        var j = i + 1
        while (j < p.length && p.charAt(j) == c) j += 1
        c match {
          case 'n' | 'N' | 'A' | 'p' | '[' => return None
          case 'S' => sRuns ::= ((i, j - i))
          case _ =>
        }
        i = j
      }
    }
    sRuns match {
      case Nil => Some((p, false))
      case List((at, 3)) => Some((p.substring(0, at) + Sentinel + p.substring(at + 3), true))
      case _ => None
    }
  }
}
