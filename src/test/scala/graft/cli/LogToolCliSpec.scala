package graft.cli

import graft.SparkTestBase
import graft.engine.MatchAll

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
}
