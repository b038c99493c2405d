package graft.cli

import java.io.BufferedOutputStream
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.time.format.DateTimeFormatter
import java.time.{LocalDate, LocalDateTime, ZoneOffset}
import java.util.Locale

import graft.Tuning
import graft.engine._

import org.apache.spark.SparkConf
import org.apache.spark.sql.SparkSession

/** Argument-compatible command-line front-ends for the reference's four query
  * tools (logtools/logcat.java, loggrep.java, logsearch.java,
  * logmultisearch.java):
  *
  * {{{
  *   logcat         -dc=99 -svc=svc -comp=comp -start='Feb 28, 2012 10:00' -end=...
  *   loggrep        ... -regex=R [--i]
  *   logsearch      ... -string=S [--i]
  *   logmultisearch ... -strings=FILE [--i] [--a]
  * }}}
  *
  * Shared conventions replicated (LogTools.java): argument order independent;
  * stdout by default with results between `;#### DATA RESULTS ####` markers,
  * `;`-prefixed status lines on stderr; `--out=DIR` writes files instead;
  * `--dateFormat=` (RFC822 | RFC822_SEC_UTC | RFC3164 | RFC5424 | pattern);
  * times accepted as 13-digit epoch millis or common date strings
  * (LogTools.parseDate shelled out to date(1); we parse with java.time);
  * `--silent` suppresses status; exit 1 on failure. `--v --r --l --log`
  * are accepted no-ops (sort-mode selection is meaningless under Spark —
  * SURVEY.md §2.5 O3).
  *
  * The catalog root defaults to `/` (i.e. paths like `/service/<dc>/...`) and
  * can be overridden with `--root=` or `GRAFT_LOG_ROOT` ([[logRoot]]). The
  * tools run on the launcher's master (`spark-submit --master`) unless
  * `GRAFT_SPARK_MASTER` names another ([[master]]).
  *
  * Stdout carries the result lines as raw UTF-8 bytes whatever the locale,
  * as the reference copied its UTF-8 output files to the terminal.
  *
  * NOTE: on hosts with a POSIX locale, still run under `LANG=C.UTF-8` (or
  * any UTF-8 locale) — JVM argv decoding (`sun.jnu.encoding`) is fixed
  * before `-D` flags apply, and non-ASCII search terms arrive mangled
  * otherwise.
  */
object LogToolCli {

  case class Args(
      dc: String = null, svc: String = null, comp: String = null,
      startMs: Long = Long.MinValue, endMs: Long = Long.MaxValue,
      string: String = null, regex: String = null, strings: String = null,
      caseInsensitive: Boolean = false, matchAll: Boolean = false,
      out: String = null, dateFormat: String = "RFC5424",
      root: String = logRoot(),
      silent: Boolean = false)

  def parseArgs(argv: Array[String], tool: String): Args = {
    var a = Args()
    argv.foreach {
      case "--i" => a = a.copy(caseInsensitive = true)
      case "--a" => a = a.copy(matchAll = true)
      case "--silent" => a = a.copy(silent = true)
      case "--v" | "--r" | "--l" | "--log" => () // accepted no-ops
      // Separator for the reference's INTERMEDIATE text files
      // (logcat.java:171-172, default U+001F; config LogTools.java:210).
      // Spark has no intermediate file, so the flag is an accepted no-op —
      // kept so reference invocations remain drop-in valid.
      case s if s.startsWith("--fieldSeparator=") => ()
      case s if s.startsWith("-dc=") => a = a.copy(dc = s.drop(4))
      case s if s.startsWith("-svc=") => a = a.copy(svc = s.drop(5))
      case s if s.startsWith("-comp=") => a = a.copy(comp = s.drop(6))
      case s if s.startsWith("-start=") => a = a.copy(startMs = parseDate(s.drop(7)))
      case s if s.startsWith("-end=") => a = a.copy(endMs = parseDate(s.drop(5)))
      case s if s.startsWith("-string=") => a = a.copy(string = s.drop(8))
      case s if s.startsWith("-regex=") => a = a.copy(regex = s.drop(7))
      case s if s.startsWith("-strings=") => a = a.copy(strings = s.drop(9))
      case s if s.startsWith("--out=") => a = a.copy(out = s.drop(6))
      case s if s.startsWith("--dateFormat=") => a = a.copy(dateFormat = s.drop(13))
      case s if s.startsWith("--root=") => a = a.copy(root = s.drop(7))
      case s if s.startsWith("-D") => () // hadoop-style conf passthrough: ignored
      case other => usageError(s"$tool: unrecognized argument: $other")
    }
    if (a.dc == null || a.svc == null || a.comp == null) {
      usageError(s"$tool: -dc, -svc and -comp are required")
    }
    if (a.startMs == Long.MinValue || a.endMs == Long.MaxValue) {
      usageError(s"$tool: -start and -end are required")
    }
    if (a.startMs >= a.endMs) usageError(s"$tool: start must be before end")
    a
  }

  /** 13-digit epoch ms, epoch seconds, ISO datetime/date, the
    * `MMM d, yyyy HH:mm` style the reference's test scripts use, or the
    * common GNU `date -d` relative forms. The reference accepts any
    * non-numeric time by shelling to `date -d '<time>' +%s`
    * (LogTools.java:112-131), so `-start=yesterday` and
    * `-start='2 hours ago'` work there; we parse those natively with
    * java.time (matching date(1): `yesterday` = now − 1 day at the same
    * time of day, not midnight). `nowMs` is injectable for deterministic
    * tests and defaults to the wall clock.
    */
  def parseDate(s: String, nowMs: Long = System.currentTimeMillis()): Long = {
    val trimmed = s.trim
    if (trimmed.matches("\\d{13}")) return trimmed.toLong
    if (trimmed.matches("\\d{10}")) return trimmed.toLong * 1000L
    val patterns = Seq(
      "yyyy-MM-dd'T'HH:mm:ss", "yyyy-MM-dd HH:mm:ss", "yyyy-MM-dd HH:mm",
      "MMM d, yyyy HH:mm", "MMM d yyyy HH:mm")
    patterns.foreach { p =>
      try {
        return LocalDateTime.parse(trimmed, DateTimeFormatter.ofPattern(p, Locale.ROOT))
          .toEpochSecond(ZoneOffset.UTC) * 1000L
      } catch { case _: Exception => () }
    }
    try {
      return LocalDate.parse(trimmed, DateTimeFormatter.ofPattern("yyyy-MM-dd"))
        .atStartOfDay.toEpochSecond(ZoneOffset.UTC) * 1000L
    } catch { case _: Exception => () }
    parseRelativeDate(trimmed, nowMs).getOrElse(usageError(s"cannot parse date: $s"))
  }

  /** GNU date(1) relative expressions: now / today / yesterday / tomorrow,
    * `N <unit>s ago`, `last <unit>`, and future `N <unit>s` (seconds through
    * years; month/year via calendar arithmetic at UTC, like date(1) in TZ=UTC).
    */
  private[cli] def parseRelativeDate(s: String, nowMs: Long): Option[Long] = {
    val lower = s.toLowerCase(Locale.ROOT).trim
    def shift(n: Long, unit: String, sign: Int): Long = {
      val now = java.time.Instant.ofEpochMilli(nowMs).atOffset(ZoneOffset.UTC)
      val shifted = unit match {
        case "second" | "sec" => now.plusSeconds(sign * n)
        case "minute" | "min" => now.plusMinutes(sign * n)
        case "hour" => now.plusHours(sign * n)
        case "day" => now.plusDays(sign * n)
        case "week" => now.plusWeeks(sign * n)
        case "fortnight" => now.plusWeeks(sign * 2 * n)
        case "month" => now.plusMonths(sign * n)
        case "year" => now.plusYears(sign * n)
      }
      shifted.toInstant.toEpochMilli
    }
    val unitRe = "second|sec|minute|min|hour|day|week|fortnight|month|year"
    val ago = s"(\\d+)\\s+($unitRe)s?\\s+ago".r
    val last = s"last\\s+($unitRe)".r
    val next = s"next\\s+($unitRe)".r
    val ahead = s"(\\d+)\\s+($unitRe)s?".r
    lower match {
      case "now" | "today" => Some(nowMs)
      case "yesterday" => Some(shift(1, "day", -1))
      case "tomorrow" => Some(shift(1, "day", +1))
      case ago(n, u) => Some(shift(n.toLong, u, -1))
      case last(u) => Some(shift(1, u, -1))
      case next(u) => Some(shift(1, u, +1))
      case ahead(n, u) => Some(shift(n.toLong, u, +1))
      case _ => None
    }
  }

  /** A bad command line. [[run]] prints its message as the `;`-prefixed
    * status line, with no `failed:` prefix, and exits 1.
    */
  final class UsageError(msg: String) extends IllegalArgumentException(msg)

  private[cli] def usageError(msg: String): Nothing = throw new UsageError(msg)

  /** The log tools' session, built by [[graft.Tuning.build]] on [[master]]:
    * UTC, UI off, 32 shuffle partitions for `--out`'s range sort; log
    * level ERROR.
    */
  def session(): SparkSession = Tuning.build(Map(
    "spark.master" -> master(sys.env, new SparkConf()),
    "spark.app.name" -> "graft-logtool",
    "spark.sql.shuffle.partitions" -> "32",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false"), "ERROR")

  /** `GRAFT_SPARK_MASTER` if `env` sets it, else the master the launcher
    * set in `launcher` (`spark-submit --master` arrives as the
    * `spark.master` system property, which a new `SparkConf` reads), else
    * `local[*]`.
    */
  private[cli] def master(env: Map[String, String], launcher: SparkConf): String =
    env.get("GRAFT_SPARK_MASTER")
      .orElse(launcher.getOption("spark.master"))
      .getOrElse("local[*]")

  /** The directory that holds the catalog's `service/` tree:
    * `GRAFT_LOG_ROOT`, or `""` (the filesystem root) when `env` does not
    * set it. Every tool defaults its root from here.
    */
  def logRoot(env: Map[String, String] = sys.env): String =
    env.getOrElse("GRAFT_LOG_ROOT", "")

  def run(tool: String, argv: Array[String], predicate: Args => LogPredicate): Unit = {
    def fail(e: Exception): Nothing = {
      System.err.println(failureLine(tool, e))
      sys.exit(1)
    }
    // Fail fast on argv problems BEFORE paying SparkSession startup.
    try { predicate(parseArgs(argv, tool)); () }
    catch { case e: Exception => fail(e) }
    val spark = session()
    try runWith(spark, tool, argv, predicate)
    catch { case e: Exception => fail(e) }
    finally spark.stop()
  }

  /** The `;`-prefixed stderr line [[run]] prints before exiting 1. */
  private[cli] def failureLine(tool: String, e: Exception): String = e match {
    case u: UsageError => s";${u.getMessage}"
    case _ => s";$tool failed: ${translateError(e)}"
  }

  private val DataMarker = ";#### DATA RESULTS ####\n".getBytes(UTF_8)

  /** [[run]] minus session lifecycle and exit-code handling — callable on
    * an existing session (tests, embedding); errors propagate, a bad
    * command line as a [[UsageError]].
    */
  def runWith(spark: SparkSession, tool: String, argv: Array[String],
      predicate: Args => LogPredicate): Unit = {
    val a = parseArgs(argv, tool)
    val q = LogQuery(root = a.root, dc = a.dc, service = a.svc, component = a.comp,
      dateFormat = a.dateFormat)
      .range(a.startMs, a.endMs)
      .where(predicate(a))
    if (!a.silent) System.err.println(s";Running $tool against ${q.resolvePaths(spark).size} files")
    if (a.out != null) {
      q.formatted(spark).write.mode("overwrite").text(a.out)
      if (!a.silent) System.err.println(s";Results written to ${a.out}")
    } else {
      // One buffered stream, flushed once: an autoflushing stdout would
      // otherwise take one write per line.
      val out = new BufferedOutputStream(Console.out, 1 << 16)
      val n = try {
        out.write(DataMarker)
        val lines = q.writeTo(spark, out)
        out.write(DataMarker)
        lines
      } finally out.flush()
      if (!a.silent) System.err.println(s";$n results")
    }
  }

  /** User-facing translation of infrastructure failures — the reference's
    * operator-UX shim (logtools/LogTools.java:219-236 classifies the
    * MapReduce job's IOException by message text into Kerberos / permission
    * / quota buckets before the general fallback). Same classification,
    * over the whole cause chain (Spark wraps FS exceptions several levels
    * deep), minus the reference's internal ticket-form URL.
    */
  def translateError(e: Throwable): String = {
    val chain = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .take(10).map(t => s"${t.getClass.getName}: ${t.getMessage}")
      .mkString("\n")
    if (chain.contains("Failed to find any Kerberos"))
      "No/bad Kerberos ticket - please authenticate."
    else if (chain.contains("Permission denied") ||
        chain.contains("AccessControlException") ||
        chain.contains("AccessDeniedException"))
      "Permission denied. Please request access to the data and include " +
        s"this error with the request:\n$chain"
    else if (chain.toLowerCase.contains("quota") &&
        chain.toLowerCase.contains("exceeded"))
      "Disk quota Exceeded."
    else Option(e.getMessage).getOrElse(e.toString)
  }

  /** Multisearch terms: inline string, file, or directory of files, CRLF
    * tolerated (logmultisearch.java:239-283 + dos2unix LogTools.java:576-586).
    */
  def loadTerms(spec: String): Seq[String] = {
    val p = Paths.get(spec)
    if (Files.isDirectory(p)) {
      import scala.jdk.CollectionConverters._
      Files.list(p).iterator().asScala.toSeq.sortBy(_.toString).flatMap { f =>
        LogPredicate.termsFromText(new String(Files.readAllBytes(f), "UTF-8"))
      }
    } else if (Files.exists(p)) {
      LogPredicate.termsFromText(new String(Files.readAllBytes(p), "UTF-8"))
    } else {
      LogPredicate.termsFromText(spec)
    }
  }
}

object logcat {
  def main(argv: Array[String]): Unit =
    LogToolCli.run("logcat", argv, _ => MatchAll)
}

object loggrep {
  def main(argv: Array[String]): Unit =
    LogToolCli.run("loggrep", argv, a => {
      if (a.regex == null) LogToolCli.usageError("loggrep: -regex is required")
      Grep(a.regex, a.caseInsensitive)
    })
}

object logsearch {
  def main(argv: Array[String]): Unit =
    LogToolCli.run("logsearch", argv, a => {
      if (a.string == null) LogToolCli.usageError("logsearch: -string is required")
      Search(a.string, a.caseInsensitive)
    })
}

object logmultisearch {
  def main(argv: Array[String]): Unit =
    LogToolCli.run("logmultisearch", argv, a => {
      if (a.strings == null) LogToolCli.usageError("logmultisearch: -strings is required")
      MultiSearch(LogToolCli.loadTerms(a.strings), a.matchAll, a.caseInsensitive)
    })
}
