package graft.cli

import java.nio.file.{Files, Paths}

import graft.SparkTestBase
import graft.engine.{MatchAll, Reporting}

import org.apache.spark.SparkConf

class LogToolCliSpec extends SparkTestBase {
  private val ok = Seq("-dc=99", "-svc=svc", "-comp=comp",
    "-start=1330423200000", "-end=1330426800000")

  test("runWith throws on a bad command line instead of exiting the JVM") {
    val cases = Seq(
      ok.filterNot(_.startsWith("-dc=")) -> "logcat: -dc, -svc and -comp are required",
      ok.filterNot(_.startsWith("-svc=")) -> "logcat: -dc, -svc and -comp are required",
      ok.filterNot(_.startsWith("-comp=")) -> "logcat: -dc, -svc and -comp are required",
      ok.filterNot(_.startsWith("-end=")) -> "logcat: -start and -end are required",
      (ok :+ "-end=1330423200000") -> "logcat: start must be before end",
      (ok :+ "-start=Feb 30th, sometime") -> "cannot parse date: Feb 30th, sometime",
      (ok :+ "--bogus") -> "logcat: unrecognized argument: --bogus")
    cases.foreach { case (argv, msg) =>
      val e = intercept[IllegalArgumentException] {
        LogToolCli.runWith(spark, "logcat", argv.toArray, _ => MatchAll)
      }
      assert(e.getMessage === msg)
      // `run` prints the same `;`-prefixed line it always has.
      assert(LogToolCli.failureLine("logcat", e) === s";$msg")
    }
    assert(LogToolCli.failureLine("logcat", new RuntimeException("boom")) ===
      ";logcat failed: boom")
  }

  test("master: GRAFT_SPARK_MASTER wins, then the launcher's, then local[*]") {
    val env = Map("GRAFT_SPARK_MASTER" -> "local[3]")
    val launched = new SparkConf(false).set("spark.master", "local[2]")
    val bare = new SparkConf(false)
    assert(LogToolCli.master(env, launched) === "local[3]")
    assert(LogToolCli.master(env, bare) === "local[3]")
    assert(LogToolCli.master(Map.empty, launched) === "local[2]")
    assert(LogToolCli.master(Map.empty, bare) === "local[*]")
    // spark-submit --master reaches the JVM as the spark.master system
    // property, which a new SparkConf reads.
    val prev = Option(System.getProperty("spark.master"))
    System.setProperty("spark.master", "local[2]")
    try assert(LogToolCli.master(Map.empty, new SparkConf()) === "local[2]")
    finally prev match {
      case Some(v) => System.setProperty("spark.master", v)
      case None => System.clearProperty("spark.master")
    }
  }

  test("GRAFT_LOG_ROOT names the directory that holds service/, for every tool") {
    assert(LogToolCli.logRoot(Map.empty) === "")
    val root = Files.createTempDirectory("log-root").toString
    val hour = Paths.get(root, "service/99/svc/logs/20240101/00/web/data")
    Files.createDirectories(hour)
    Files.write(hour.resolve("f.bm"), Array[Byte](1, 2, 3))
    val env = Map("GRAFT_LOG_ROOT" -> root)
    assert(LogToolCli.logRoot(env) === root)
    // The reporting tools default to logcat's root, and --root= wins.
    assert(ReportingCli.root(Array.empty, env) === root)
    assert(ReportingCli.root(Array("--root=/elsewhere"), env) === "/elsewhere")
    assert(ReportingCli.root(Array.empty, Map.empty) === "")
    val listing = Reporting.fileListing(spark, ReportingCli.root(Array.empty, env))
    assert(listing.select("dc", "service", "component", "size").collect().map(_.toSeq.toList)
      .toList === List(List("99", "svc", "web", 3L)))
  }
}
