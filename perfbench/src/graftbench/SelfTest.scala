package graftbench

import java.io.PrintStream
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.time.format.DateTimeFormatter
import java.time.{Instant, ZoneOffset}

import graft.cli.LogToolCli
import graft.engine.{Ingest, LogQuery}

/** Checks on the benchmark's own checker. `pure` runs at the start of every
  * benchmark run; `crossCheck` (`run.py --selftest`) also drives graft on a
  * tiny corpus.
  */
object SelfTest {
  private def check(cond: Boolean, what: String): Unit =
    if (!cond) throw new AssertionError(s"self-test failed: $what")

  def pure(): Unit = {
    val a = Seq("2024-03-10T00:00:00.001+00:00 x", "2024-03-10T00:00:00.001+00:00 y",
      "2024-03-10T00:00:00.002+00:00 z")
    val (n, d) = Digest.of(a)
    check(n == 3, "digest counts lines")
    check(Digest.of(Seq(a(1), a(0), a(2)))._2 == d, "order within one millisecond is free")
    check(Digest.of(Seq(a(2), a(0), a(1)))._2 != d, "order across milliseconds is checked")
    check(Digest.of(Seq(a(0), a(2), a(1)))._2 != d, "a millisecond split in two runs is caught")
    check(Digest.of(a.take(2))._2 != d, "a missing line is caught")
    check(Digest.of(a :+ a(2))._2 != Digest.of(a)._2, "a duplicated line is caught")

    val xs = (1 to 5).map(_.toDouble).toArray
    check(Stats.percentile(xs, 0.5) == 3.0, "median of 1..5")
    check(Stats.percentile(xs, 0.25) == 2.0, "p25 of 1..5")
    check(Stats.percentile(Array(1.0, 2.0), 0.5) == 1.5, "interpolated median")
    check(Stats.tail((1 to 10).map(_.toDouble)).isEmpty, "no tail from ten samples")
    val Some((v, p)) = Stats.tail((1 to 31).map(_.toDouble).reverse)
    check(v == 21.0 && p == 200.0 / 3, s"tail of 1..31 is p66.7 = 21, got p$p = $v")

    val ref = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSSxxx").withZone(ZoneOffset.UTC)
    val render = Rfc5424.outputRenderer()
    Seq(1710028800000L, 1710028800007L, 1710028800070L, 1710032399999L).foreach { t =>
      check(render(t) == ref.format(Instant.ofEpochMilli(t)), s"RFC5424 rendering of $t")
    }
  }

  /** A tiny corpus through `LogQuery.printTo` and through the CLI entry
    * point, for every workload's query kinds; both must equal the
    * generator's expectation.
    */
  def crossCheck(work: Path): Int = {
    Main.deleteTree(work)
    Files.createDirectories(work)
    System.setProperty("spark.local.dir", work.resolve("spark-local").toString)
    System.setProperty("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
    val spark = LogToolCli.session()
    var bad = 0
    try {
      val root = work.resolve("catalog").toString
      val services = (0 until 2).map { i =>
        val s = Corpus.service(s"tiny$i", 42L + i, Main.startMs(42L), Main.Hours, 300)
        val text = work.resolve("text").resolve(s.name)
        s.writeText(text)
        Ingest.textToCatalog(spark, text.toString, root, Corpus.Dc, s.name, Corpus.Component)
        s
      }
      val queries = Seq("cat_window", "search_selective", "grep_scan").flatMap { w =>
        Workloads.build(w, services, 42L)
      }
      queries.foreach { q =>
        val exp = q.expected
        val terms = work.resolve(q.id + ".txt")
        Files.write(terms, q.terms.mkString("", "\n", "\n").getBytes(UTF_8))
        val viaQuery = new Digest
        val pred = Cli.predicate(q.tool)(LogToolCli.parseArgs(q.argv(root, terms.toString), q.tool))
        LogQuery(root = root, dc = Corpus.Dc, service = q.service.name, component = Corpus.Component)
          .range(q.startMs, q.endMs).where(pred).printTo(spark, viaQuery.add(_))
        val checker = new OutputChecker
        Cli.run(spark, q.argv(root, terms.toString), q.tool, new PrintStream(checker, false, UTF_8))
        val got = Expected(viaQuery.lines, viaQuery.value)
        val cli = checker.mismatch(exp)
        check(checker.mismatch(exp.copy(digest = exp.digest + 1)).nonEmpty, "a wrong digest is reported")
        val ok = got == exp && cli.isEmpty
        if (!ok) bad += 1
        println(f"${if (ok) "PASS" else "FAIL"} ${q.id}%-16s ${q.tool}%-15s expected ${exp.count}%5d lines, " +
          s"printTo ${got.count}" + cli.map(m => s", CLI: $m").getOrElse(""))
      }
      check(queries.exists(q => q.expected.count > 0), "the tiny corpus yields results")
      println(s"${queries.size - bad}/${queries.size} cross-checks passed")
    } finally {
      spark.stop()
      Main.deleteTree(work)
    }
    if (bad == 0) 0 else 1
  }
}
