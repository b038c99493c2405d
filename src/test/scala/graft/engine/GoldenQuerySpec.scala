package graft.engine

import java.nio.file.{Files, LinkOption, Paths}

import scala.io.Source
import scala.util.Using

import graft.SparkTestBase

/** End-to-end golden tests replaying the reference's own test matrix
  * (testcases/logsearch/logsearch.test.script.sh) against its shipped Boom
  * fixture and golden output files — the complete pipeline: catalog
  * resolution → boom scan → predicate → date format → global sort.
  */
class GoldenQuerySpec extends SparkTestBase {

  private val refBase = "/root/reference/testcases/logsearch"
  private val startMs = 1330423200000L // Feb 28, 2012 10:00 UTC
  private val endMs = 1330426800000L   // Feb 28, 2012 11:00 UTC

  /** `rel` under [[refBase]]. Every test here replays the reference's
    * files, so when that directory is absent the test fails naming it.
    */
  private def ref(rel: String): String = {
    if (!Files.isDirectory(Paths.get(refBase)))
      fail(s"the reference test fixture $refBase is absent: " +
        "GoldenQuerySpec replays its Boom tree and golden files")
    s"$refBase/$rel"
  }

  /** The fixture tree lacks the /service/<dc> prefix the catalog expects
    * (the reference's test script uploads it to /service/99/...); recreate
    * that layout with a symlink under target/.
    */
  private lazy val fixtureRoot: String = {
    val target = Paths.get(ref("logsearch-testservice"))
    val root = Paths.get("target/golden-fixture").toAbsolutePath
    val dcDir = root.resolve("service/99")
    Files.createDirectories(dcDir)
    val link = dcDir.resolve("logsearch-testservice")
    if (!Files.exists(link, LinkOption.NOFOLLOW_LINKS)) {
      Files.createSymbolicLink(link, target)
    }
    root.toString
  }

  private def golden(name: String): Seq[String] =
    Using.resource(Source.fromFile(ref(s"reference-files/$name"))("UTF-8"))(_.getLines().toSeq)

  private def run(p: LogPredicate): Seq[String] =
    LogQuery(root = fixtureRoot, dc = "99", service = "logsearch-testservice",
      component = "logsearch-test")
      .range(startMs, endMs)
      .where(p)
      .formatted(spark)
      .collect()
      .toSeq

  test("logcat golden") {
    assert(run(MatchAll) === golden("logcat-reference.txt"))
  }

  test("sub-hour time ranges select exactly the covered seconds") {
    // Fixture lines are at 10:00:01..10:00:18; [10:00:05, 10:00:08) → 05,06,07
    val q = LogQuery(root = fixtureRoot, dc = "99", service = "logsearch-testservice",
      component = "logsearch-test")
      .range(startMs + 5000, startMs + 8000)
    val got = q.formatted(spark).collect()
    assert(got.length === 3)
    assert(got.forall(_.matches("^2012-02-28T10:00:0[567].*")))
    // empty sub-range inside the hour
    assert(q.range(startMs + 30000, startMs + 31000).formatted(spark).count() === 0)
  }

  // Direct SELECT-from-path SQL is v1-FileFormat-only in Spark; the supported
  // SQL route for a DSv2 source is a registered view.
  test("SQL over the boom source via temp view") {
    spark.read.format("boom")
      .load(ref("logsearch-testservice/logs/20120228/10/logsearch-test/data"))
      .createOrReplaceTempView("logs")
    assert(spark.sql("SELECT count(*) AS n FROM logs").head().getLong(0) === 17)
    assert(spark.sql("SELECT message FROM logs WHERE message LIKE '%fenêtre%'").count() === 1)
    // seconds 05..09 of the fixture — second 09 has no line, so 4 rows
    assert(spark.sql(
      "SELECT count(*) AS n FROM logs WHERE timestamp >= 1330423205000 AND timestamp < 1330423210000")
      .head().getLong(0) === 4)
  }

  test("logsearch golden (25 searches, logsearch.test.script.sh:48-72)") {
    val searches = Seq(
      ("test", false), ("TEST", false),
      ("ä", false), ("Ä", false), ("ä", true),
      ("fenêtre", false), ("FENÊTRE", false), ("feNêtRe", true),
      ("человек", false), ("ЧЕЛОВЕК", false), ("ЧЕЛовЕК", true),
      ("رجل", false), ("رجل", true),
      ("αβγδε", false), ("ΑΒΓΔΕ", false), ("αβγΔΕ", true),
      ("#!A", false), ("#!a", true),
      ("^X", false), ("^x", true),
      ("3.14159265358979", false), ("1.602E-19", false),
      ("1.602x10^-19", false), ("123,456,789.00", false),
      ("2012-02-28T10:00:01Z", false))
    val out = searches.flatMap { case (term, ci) => run(Search(term, ci)) }
    assert(out === golden("logsearch-reference.txt"))
  }

  test("loggrep golden (5 regexes, logsearch.test.script.sh:100-104)") {
    val greps = Seq(
      ("^THIS IS A TEST MESSAGE", true),
      ("^This", false),
      ("c?n", false),
      ("c*n", false),
      ("αβγδε|человек|fenêtre|ä|رجل", false))
    val out = greps.flatMap { case (re, ci) => run(Grep(re, ci)) }
    assert(out === golden("loggrep-reference.txt"))
  }

  test("CLI matrix byte-identical under local vs remote-sort flags " +
      "(logsearch.test.script.sh:139-228 runs its matrix twice)") {
    // The reference proves local-sort and remote-sort (`--r`) output
    // identical by running its whole matrix both ways. Our sort-mode
    // flags are accepted no-ops by design (SURVEY §2.5 O2/O3 — one
    // engine, one sort), so the parity obligation inverts: prove the
    // flag PLUMBING is inert by driving representative invocations of
    // every tool through the real CLI path under each flag set and
    // byte-comparing the written output. (Content-vs-golden is covered
    // per-predicate by the engine tests above.)
    import graft.cli.LogToolCli
    val base = Seq(s"--root=$fixtureRoot", "-dc=99",
      "-svc=logsearch-testservice", "-comp=logsearch-test",
      s"-start=$startMs", s"-end=$endMs", "--silent")
    val matrix: Seq[(String, Seq[String], LogToolCli.Args => LogPredicate)] =
      Seq(
        ("logcat", Seq(), _ => MatchAll),
        ("logsearch", Seq("-string=test"),
          a => Search(a.string, a.caseInsensitive)),
        ("logsearch", Seq("-string=feNêtRe", "--i"),
          a => Search(a.string, a.caseInsensitive)),
        ("logsearch", Seq("-string=ЧЕЛовЕК", "--i"),
          a => Search(a.string, a.caseInsensitive)),
        ("loggrep", Seq("-regex=^This"),
          a => Grep(a.regex, a.caseInsensitive)),
        ("loggrep", Seq("-regex=αβγδε|человек|fenêtre|ä|رجل"),
          a => Grep(a.regex, a.caseInsensitive)),
        ("logmultisearch",
          Seq(s"-strings=${ref("logmultisearch-strings-OR.txt")}"),
          a => MultiSearch(LogToolCli.loadTerms(a.strings), a.matchAll,
            a.caseInsensitive)),
        ("logmultisearch",
          Seq(s"-strings=${ref("logmultisearch-strings-AND.txt")}", "--a",
            "--i"),
          a => MultiSearch(LogToolCli.loadTerms(a.strings), a.matchAll,
            a.caseInsensitive)))
    val flagPasses = Seq(
      Seq.empty[String],             // default (local-sort side)
      Seq("--r"),                    // the reference's remote-sort pass
      Seq("--l", "--v", "--log"))    // the rest of the accepted no-ops
    def readOut(dir: java.nio.file.Path): Seq[String] = {
      import scala.jdk.CollectionConverters._
      Using.resource(Files.list(dir)) { stream =>
        stream.iterator().asScala.toSeq
          .filter(_.getFileName.toString.startsWith("part-"))
          .sortBy(_.getFileName.toString)
          .flatMap(p => new String(Files.readAllBytes(p), "UTF-8")
            .split("\n", -1).toSeq.dropRight(1))
      }
    }
    matrix.zipWithIndex.foreach { case ((tool, args, pred), i) =>
      val outs = flagPasses.zipWithIndex.map { case (flags, j) =>
        val out = Files.createTempDirectory(s"cli-matrix-$i-$j")
        LogToolCli.runWith(spark, tool,
          (base ++ args ++ flags :+ s"--out=$out").toArray, pred)
        readOut(out)
      }
      // Every matrix row's terms hit the fixture — empty output would be
      // an arg-plumbing regression the byte-compare alone can't catch
      // (empty == empty passes vacuously).
      assert(outs(0).nonEmpty, s"$tool $args produced no output")
      assert(outs(1) === outs(0),
        s"$tool $args: --r pass differs from local pass")
      assert(outs(2) === outs(0),
        s"$tool $args: --l/--v/--log pass differs from local pass")
    }
  }

  test("logmultisearch golden (OR/AND × case, logsearch.test.script.sh:116-119)") {
    def terms(f: String): Seq[String] =
      LogPredicate.termsFromText(Files.readString(Paths.get(ref(f))))
    val or = terms("logmultisearch-strings-OR.txt")
    val and = terms("logmultisearch-strings-AND.txt")
    val out =
      run(MultiSearch(or, matchAll = false, caseInsensitive = false)) ++
      run(MultiSearch(or, matchAll = false, caseInsensitive = true)) ++
      run(MultiSearch(and, matchAll = true, caseInsensitive = false)) ++
      run(MultiSearch(and, matchAll = true, caseInsensitive = true))
    assert(out === golden("logmultisearch-reference.txt"))
  }
}
