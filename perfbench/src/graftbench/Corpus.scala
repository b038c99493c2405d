package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.SplittableRandom
import java.util.regex.Pattern

import scala.collection.mutable.ArrayBuffer

/** An incident: a few seconds of ERROR lines that carry rare terms. */
final case class Burst(startMs: Long, terms: Seq[String], hazard: Option[String])

/** One service's generated log lines, time-sorted. `rest` is the line after
  * its timestamp, which is what the tools print after the reformatted time.
  */
final class ServiceLog(val name: String, val startMs: Long, val hours: Int,
    val ts: Array[Long], val rest: Array[String], val bursts: Seq[Burst]) {
  def endMs: Long = startMs + hours * 3600000L
  def size: Int = ts.length

  /** Index of the first line at or after `t`. */
  def lowerBound(t: Long): Int = {
    var lo = 0
    var hi = ts.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (ts(mid) < t) lo = mid + 1 else hi = mid
    }
    lo
  }

  def linesIn(start: Long, end: Long): Int = lowerBound(end) - lowerBound(start)

  /** Writes the RFC5424 text an uploader would ship: one file per hour and
    * host parity, each time-sorted.
    */
  def writeText(dir: Path): Unit = {
    Files.createDirectories(dir)
    val render = Rfc5424.inputRenderer()
    var i = 0
    for (h <- 0 until hours) {
      val hourEnd = startMs + (h + 1) * 3600000L
      val outs = Array.tabulate(2) { p =>
        new java.io.BufferedOutputStream(
          Files.newOutputStream(dir.resolve(f"$name-h$h%02d-$p.log")), 1 << 16)
      }
      var k = 0
      while (i < ts.length && ts(i) < hourEnd) {
        outs(k & 1).write((render(ts(i)) + " " + rest(i) + "\n").getBytes(UTF_8))
        k += 1
        i += 1
      }
      outs.foreach(_.close())
    }
  }
}

/** Seeded generator of RFC5424 log text. Everything the benchmark checks is
  * derived from these lines with the benchmark's own code: java.time
  * rendering, `String.contains`, `toUpperCase(Locale.ROOT)` and
  * `java.util.regex`, never graft's reader, parser or formatter.
  */
object Corpus {
  val Dc = "bench"
  val Component = "app"

  /** Terms that occur only inside incident bursts. */
  val RareTerms: Vector[String] = Vector(
    "QX7-DISKFULL", "ERR_QUOTA_917", "KPANIC-Z3", "OOMKILL-55",
    "TLS-HANDSHAKE-XZ", "RAFT-SPLITBRAIN", "CERT-EXPIRED-9", "FD-EXHAUST-4",
    "SEGV-AT-0XDEAD", "DEADLOCK-TX88", "REPLICA-LAG-7K", "THROTTLE-HARD-3",
    "CORRUPT-PAGE-61", "LEAK-HANDLES-2", "CLOCK-SKEW-500", "NXDOMAIN-STORM")

  /** (ASCII query term, spelling in the data). The data spellings use ß, ſ
    * and ﬀ, whose full uppercase is ASCII, so only a case-insensitive
    * search finds them and the block prescan must not skip their blocks.
    */
  val HazardTerms: Vector[(String, String)] = Vector(
    "strasse-gate" -> "straße-gate",
    "status-sink" -> "ſtatus-ſink",
    "buffer-offload" -> "buﬀer-oﬀload")

  /** Non-ASCII that is not a case-mapping hazard, on a fixed share of lines. */
  private val NonAscii = Vector(" user=José", " city=Zürich", " note=naïve café",
    " 名前=日本語", " Ω=ok", " ville=Montréal", " emoji=✓")
  val NonAsciiShare = 0.03

  private val Apps = Vector("nginx", "api", "auth", "billing", "search", "queue")
  private val Methods = Vector("GET", "GET", "GET", "POST", "PUT", "DELETE")
  private val Paths = Vector("/api/v2/users/", "/api/v2/orders/", "/api/v2/items/",
    "/static/app.", "/health", "/search?q=")
  private val Statuses = Array(200, 200, 200, 200, 200, 200, 200, 200, 200, 200,
    200, 200, 201, 204, 301, 304, 400, 404, 500, 503, 504)

  private def hex(r: SplittableRandom, n: Int): String = {
    val s = java.lang.Long.toHexString(r.nextLong() | Long.MinValue)
    s.substring(s.length - n)
  }

  private def level(r: SplittableRandom): String = {
    val x = r.nextInt(100)
    if (x < 70) "INFO" else if (x < 85) "DEBUG" else if (x < 95) "WARN" else "ERROR"
  }

  private def header(r: SplittableRandom): String = {
    val host = r.nextInt(24)
    s"web-${if (host < 10) "0" else ""}$host ${Apps(r.nextInt(Apps.size))}[${1000 + r.nextInt(9000)}]:"
  }

  private def plainLine(r: SplittableRandom): String = {
    val sb = new java.lang.StringBuilder(160)
    sb.append(header(r)).append(' ').append(level(r)).append(' ')
      .append(Methods(r.nextInt(Methods.size))).append(' ')
    val p = Paths(r.nextInt(Paths.size))
    sb.append(p)
    if (p.endsWith("/")) sb.append(r.nextInt(100000))
    else if (p.endsWith(".")) sb.append(hex(r, 8)).append(".js")
    else if (p.endsWith("=")) sb.append("w").append(r.nextInt(5000))
    val took = (math.pow(r.nextDouble(), 3) * 10000).toInt
    sb.append(" status=").append(Statuses(r.nextInt(Statuses.length)))
      .append(" took=").append(took).append("ms req=").append(hex(r, 16))
    if (r.nextDouble() < 0.10) sb.append(" ua=Mozilla/5.0 (X11; Linux x86_64)")
    if (r.nextDouble() < NonAsciiShare) sb.append(NonAscii(r.nextInt(NonAscii.size)))
    sb.toString
  }

  /** Generates `hours` hours of `linesPerHour` plain lines plus one incident
    * burst per hour on average; every third burst carries a hazard spelling.
    */
  def service(name: String, seed: Long, startMs: Long, hours: Int,
      linesPerHour: Int): ServiceLog = {
    val r = new SplittableRandom(seed)
    val tsB = ArrayBuffer[Long]()
    val restB = ArrayBuffer[String]()
    for (h <- 0 until hours; _ <- 0 until linesPerHour) {
      tsB += startMs + h * 3600000L + r.nextLong(3600000L)
      restB += plainLine(r)
    }
    // Multi-hour corpora keep bursts where the search windows can reach them.
    val (lead, trail) = if (hours > 2) (30 * 60000L, 45 * 60000L) else (0L, 10000L)
    val bursts = (0 until hours).map { b =>
      val start = startMs + lead + r.nextLong(hours * 3600000L - lead - trail)
      val k = 2 + r.nextInt(2)
      val terms = r.ints(0, RareTerms.size).distinct().limit(k).toArray.toSeq.map(RareTerms)
      val hazard = if (b % 3 == 1) Some(HazardTerms(r.nextInt(HazardTerms.size))._2) else None
      val n = 20 + r.nextInt(40)
      for (j <- 0 until n) {
        tsB += start + r.nextLong(4000L)
        // Every line has the first term; later terms on a subset, so OR and
        // AND over one burst's terms select different lines.
        val ts = terms.zipWithIndex.collect { case (t, i) if i == 0 || (j + i) % 3 != 0 => t }
        restB += s"${header(r)} ERROR incident ${ts.mkString(" ")}" +
          hazard.map(h => s" route=$h").getOrElse("") + s" req=${hex(r, 16)}"
      }
      Burst(start, terms, hazard)
    }
    // Sort by time: (offset from start << 24 | line index) orders like the
    // timestamps and keeps the index.
    val keys = Array.tabulate(tsB.size)(i => ((tsB(i) - startMs) << 24) | i)
    java.util.Arrays.sort(keys)
    val order = keys.map(k => (k & 0xFFFFFF).toInt)
    new ServiceLog(name, startMs, hours, order.map(tsB(_)), order.map(restB(_)), bursts)
  }
}

/** One CLI invocation and the line filter that predicts its output. */
final case class Query(id: String, tool: String, service: ServiceLog,
    startMs: Long, endMs: Long, string: String = null, regex: String = null,
    terms: Seq[String] = Nil, caseInsensitive: Boolean = false, matchAll: Boolean = false) {

  def argv(root: String, termsFile: String): Array[String] = {
    val base = Seq(s"--root=$root", s"-dc=${Corpus.Dc}", s"-svc=${service.name}",
      s"-comp=${Corpus.Component}", s"-start=$startMs", s"-end=$endMs", "--silent")
    val extra = tool match {
      case "logcat" => Nil
      case "loggrep" => Seq(s"-regex=$regex")
      case "logsearch" => Seq(s"-string=$string")
      case "logmultisearch" => Seq(s"-strings=$termsFile")
    }
    val flags = (if (caseInsensitive) Seq("--i") else Nil) ++ (if (matchAll) Seq("--a") else Nil)
    (base ++ extra ++ flags).toArray
  }

  private def up(s: String): String = s.toUpperCase(java.util.Locale.ROOT)

  /** The tools' documented line semantics, restated with JDK calls. */
  def matcher: String => Boolean = tool match {
    case "logcat" => _ => true
    case "loggrep" =>
      val p = Pattern.compile((if (caseInsensitive) "(?i)" else "") + regex)
      s => p.matcher(s).find()
    case "logsearch" =>
      if (caseInsensitive) { val t = up(string); s => up(s).contains(t) }
      else s => s.contains(string)
    case "logmultisearch" =>
      val ts = if (caseInsensitive) terms.map(up) else terms
      val norm: String => String = if (caseInsensitive) up else identity
      if (matchAll) s => { val m = norm(s); ts.forall(m.contains) }
      else s => { val m = norm(s); ts.exists(m.contains) }
  }

  def linesInRange: Int = service.linesIn(startMs, endMs)

  def expected: Expected = {
    val m = matcher
    val render = Rfc5424.outputRenderer()
    val d = new Digest
    var i = service.lowerBound(startMs)
    val hi = service.lowerBound(endMs)
    while (i < hi) {
      if (m(service.rest(i))) d.add(render(service.ts(i)) + " " + service.rest(i))
      i += 1
    }
    Expected(d.lines, d.value)
  }
}

/** Seeded query rotations. A round holds a fixed mix of window lengths and
  * tool kinds, and runs make whole rounds, so every run measures the same
  * mix and only positions and terms depend on the seed.
  */
object Workloads {
  private val Minute = 60000L

  val Names: Seq[String] = Seq("cat_window", "search_selective", "grep_scan")

  def build(name: String, services: Seq[ServiceLog], seed: Long): Seq[Query] = name match {
    case "cat_window" => catWindow(services, seed)
    case "search_selective" => searchSelective(services, seed)
    case "grep_scan" => grepScan(services, seed)
  }

  /** A window of `minutes` starting `offset` minutes into a random hour of
    * the service. Fixing the offset per query slot fixes how many hour
    * directories the window touches, so seeds move windows and content but
    * not the shape of the plan.
    */
  private def window(r: SplittableRandom, s: ServiceLog, minutes: Int, offset: Int): (Long, Long) = {
    val start = s.startMs + (r.nextInt((s.hours * 60 - offset - minutes) / 60 + 1) * 60 + offset) * Minute
    (start, start + minutes * Minute)
  }

  /** Like [[window]], but the window must contain burst `b`; None if no
    * start hour gives one.
    */
  private def around(r: SplittableRandom, s: ServiceLog, b: Burst, minutes: Int,
      offset: Int): Option[(Long, Long)] = {
    val fits = (0 to (s.hours * 60 - offset - minutes) / 60).map { h =>
      val start = s.startMs + (h * 60 + offset) * Minute
      (start, start + minutes * Minute)
    }.filter { case (a, e) => a <= b.startMs && b.startMs + 5000L <= e }
    if (fits.isEmpty) None else Some(fits(r.nextInt(fits.size)))
  }

  def catWindow(services: Seq[ServiceLog], seed: Long): Seq[Query] = {
    val r = new SplittableRandom(seed ^ 0x1CA7L)
    TwoHourSlots.zipWithIndex.map { case ((len, offset), i) =>
      val s = services(i % services.size)
      val (a, b) = window(r, s, len, offset)
      Query(s"cat$i", "logcat", s, a, b)
    }
  }

  /** (minutes, offset) of 1-2 hour windows that all touch exactly two hour
    * directories. Costs then grow smoothly with length, and a round's median
    * does not sit on the gap between a cheap and a dear group of queries.
    */
  val TwoHourSlots: Seq[(Int, Int)] = Seq(60 -> 30, 72 -> 24, 84 -> 18, 96 -> 12, 108 -> 6, 120 -> 0)

  val SearchMinutes = 150
  val SearchOffset = 10

  def searchSelective(services: Seq[ServiceLog], seed: Long): Seq[Query] = {
    val r = new SplittableRandom(seed ^ 0x5EA7L)
    val kinds = Seq("search", "search_i", "multi_or", "multi_and",
      "search", "search_hazard", "multi_or_i", "multi_and")
    kinds.zipWithIndex.map { case (kind, i) =>
      val s = services(i % services.size)
      val pool = if (kind == "search_hazard") s.bursts.filter(_.hazard.nonEmpty) else s.bursts
      val (b, (a, e)) = Iterator.continually(pool(r.nextInt(pool.size)))
        .take(1000).flatMap(b => around(r, s, b, SearchMinutes, SearchOffset).map(b -> _))
        .nextOption().getOrElse(throw new IllegalStateException(s"no burst of ${s.name} fits a window"))
      val id = s"$kind$i"
      kind match {
        case "search" => Query(id, "logsearch", s, a, e, string = b.terms(r.nextInt(b.terms.size)))
        case "search_i" =>
          Query(id, "logsearch", s, a, e, string = b.terms.head.toLowerCase, caseInsensitive = true)
        case "search_hazard" =>
          val ascii = Corpus.HazardTerms.find(_._2 == b.hazard.get).get._1
          Query(id, "logsearch", s, a, e, string = ascii, caseInsensitive = true)
        case "multi_or" | "multi_or_i" =>
          val others = r.ints(0, Corpus.RareTerms.size).distinct().limit(6).toArray.toSeq
            .map(Corpus.RareTerms).filterNot(b.terms.contains).take(8 - b.terms.size)
          val ci = kind == "multi_or_i"
          val ts = (b.terms ++ others).map(t => if (ci) t.toLowerCase else t)
          Query(id, "logmultisearch", s, a, e, terms = ts, caseInsensitive = ci)
        case "multi_and" =>
          Query(id, "logmultisearch", s, a, e, terms = b.terms.take(2), matchAll = true)
      }
    }
  }

  /** Regexes that match tens of lines per hour; none of them is a literal
    * the scan could push. The flag is `--i`. The last two match only burst
    * terms (4 of the 16 each), so their windows are placed around a burst
    * that carries one.
    */
  val Regexes: Seq[(String, Boolean)] = Seq(
    "status=50[34] took=9\\d{3}ms" -> false,
    "req=[0-9a-f]{14}00$" -> false,
    "(?:KPANIC|OOMKILL|SEGV|RAFT)-\\w+" -> false,
    "deadlock-tx\\d+|clock-skew-\\d+|fd-exhaust-\\d|leak-handles-\\d" -> true)

  private val BurstRegexes = 2

  def grepScan(services: Seq[ServiceLog], seed: Long): Seq[Query] = {
    val r = new SplittableRandom(seed ^ 0x6E3L)
    TwoHourSlots.zipWithIndex.map { case ((len, offset), i) =>
      val (re, ci) = Regexes(i % Regexes.size)
      def query(s: ServiceLog, w: (Long, Long)) =
        Query(s"grep$i", "loggrep", s, w._1, w._2, regex = re, caseInsensitive = ci)
      if (i % Regexes.size < BurstRegexes) {
        val s = services(i % services.size)
        query(s, window(r, s, len, offset))
      } else {
        // The slot's own service first, then the others, so a seed whose
        // service has no matching burst still gets a query that prints.
        val m = query(services.head, (0L, 0L)).matcher
        services.indices.iterator.map(k => services((i + k) % services.size)).flatMap { s =>
          val hits = s.bursts.filter(_.terms.exists(m))
          if (hits.isEmpty) None
          else around(r, s, hits(r.nextInt(hits.size)), len, offset).map(query(s, _))
        }.nextOption().getOrElse(throw new IllegalStateException(s"no burst matches /$re/"))
      }
    }
  }
}
