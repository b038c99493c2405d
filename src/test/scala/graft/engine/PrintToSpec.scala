package graft.engine

import java.io.{ByteArrayOutputStream, PrintStream}
import java.nio.file.Files

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.Random

import graft.SparkTestBase
import graft.cli.LogToolCli

import org.apache.spark.graft.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions.countDistinct

/** `LogQuery.printTo` — parallel sorted runs merged on the driver — against
  * the range-partitioned global sort, through the CLI entry point and
  * through forced wave budgets, on catalogs with several files per hour.
  */
class PrintToSpec extends SparkTestBase {
  import spark.implicits._

  private val Dc = "7"
  private val Svc = "websvc"
  private val Comp = "app"
  private val t0 = java.time.Instant.parse("2024-03-01T10:00:00Z").toEpochMilli
  private val words = Seq("disk", "DISK", "Disk", "net", "cpu", "Straße", "fenêtre", "req", "ok")

  /** `runs` ingest runs into one catalog, each spread over `hours` hours of
    * `perHour` lines (the last hour `lastHourScale` times as dense), each
    * message ending in a random hex token of `tokenChars` characters.
    * Timestamps sit on a 100 ms grid, so many are equal across files. The
    * writer sets a file's createTime from its first line, so each run opens
    * every hour on its own millisecond, before the grid: createTime then
    * differs between files and the full sort key stays unique.
    */
  private def catalog(seed: Long, runs: Int, hours: Int, lastHourScale: Int = 1,
      perHour: Int = 60, tokenChars: Int = 0): String = {
    val rnd = new Random(seed)
    val root = Files.createTempDirectory(s"printto-$seed").toString
    val fmt = java.time.format.DateTimeFormatter.ISO_INSTANT
    (0 until runs).foreach { r =>
      val lines = ArrayBuffer[String]()
      (0 until hours).foreach { h =>
        lines += s"${fmt.format(java.time.Instant.ofEpochMilli(t0 + h * 3600000L + r))} r$r opens"
        val n = if (h == hours - 1) perHour * lastHourScale else perHour
        (0 until n).foreach { _ =>
          val ts = t0 + h * 3600000L + 100L * (1 + rnd.nextInt(300))
          val ws = Seq.fill(1 + rnd.nextInt(3))(words(rnd.nextInt(words.size)))
          val token = Seq.fill(tokenChars)(rnd.nextInt(16).toHexString).mkString
          val msg = (ws ++ Option.when(tokenChars > 0)(token)).mkString(" ")
          lines += s"${fmt.format(java.time.Instant.ofEpochMilli(ts))} r$r $msg"
        }
      }
      val text = Files.createTempFile("printto", ".log")
      Files.write(text, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
      Ingest.textToCatalog(spark, text.toString, root, Dc, Svc, Comp, runId = s"run$r")
    }
    root
  }

  private def query(root: String, hours: Int) =
    LogQuery(root = root, dc = Dc, service = Svc, component = Comp)
      .range(t0, t0 + hours * 3600000L)

  /** The reference order: the range-partitioned global sort over the same lines. */
  private def globalSort(q: LogQuery): Seq[String] = {
    val ls = q.lines(spark)
    assert(ls.select(LogQuery.SortCols.head, LogQuery.SortCols.tail: _*).distinct().count() ===
      ls.count(), "fixture must keep the full sort key unique")
    LogQuery.formatAndSort(ls.toDF()).as[String].collect().toSeq
  }

  private def printed(q: LogQuery, budget: Long): Seq[String] = {
    val out = ArrayBuffer[String]()
    val n = q.printInWaves(spark, out += _, budget)
    assert(n === out.size)
    out.toSeq
  }

  test("CLI stdout equals the global sort on multi-file hours with equal timestamps") {
    val root = catalog(seed = 11, runs = 3, hours = 2)
    val q = query(root, 2)
    val groups = LogCatalog.resolveByHourWithSizes(spark.sessionState.newHadoopConf(),
      root, Dc, Svc, Comp, q.startMs, q.endMs)
    assert(groups.size === 2 && groups.forall(_.size >= 2), groups)
    assert(q.lines(spark).groupBy("timestamp").agg(countDistinct("createTime").as("files"))
      .where($"files" > 1).count() > 10, "the fixture must repeat timestamps across files")
    val terms = Files.createTempFile("terms", ".txt")
    Files.write(terms, "disk\nnet\n".getBytes("UTF-8"))

    val cases: Seq[(String, Seq[String], LogToolCli.Args => LogPredicate)] = Seq(
      ("logcat", Nil, _ => MatchAll),
      ("loggrep", Seq("-regex=d[i]sk (net|cpu)"), a => Grep(a.regex, a.caseInsensitive)),
      ("logsearch", Seq("-string=FENÊTRE", "--i"), a => Search(a.string, a.caseInsensitive)),
      ("logsearch", Seq("-string=disk", "--i"), a => Search(a.string, a.caseInsensitive)),
      ("logmultisearch", Seq(s"-strings=$terms"),
        a => MultiSearch(LogToolCli.loadTerms(a.strings), a.matchAll, a.caseInsensitive)),
      ("logmultisearch", Seq(s"-strings=$terms", "--a"),
        a => MultiSearch(LogToolCli.loadTerms(a.strings), a.matchAll, a.caseInsensitive)))
    cases.foreach { case (tool, args, pred) =>
      val argv = Seq(s"--root=$root", s"-dc=$Dc", s"-svc=$Svc", s"-comp=$Comp",
        s"-start=${q.startMs}", s"-end=${q.endMs}", "--silent") ++ args
      val buf = new ByteArrayOutputStream()
      Console.withOut(new PrintStream(buf, true, "UTF-8")) {
        LogToolCli.runWith(spark, tool, argv.toArray, pred)
      }
      val stdout = new String(buf.toByteArray, "UTF-8").split("\n").toSeq
      assert(stdout.head === ";#### DATA RESULTS ####" && stdout.last === ";#### DATA RESULTS ####")
      val expected = globalSort(q.where(pred(LogToolCli.parseArgs(argv.toArray, tool))))
      assert(expected.nonEmpty, s"$tool $args matches nothing")
      assert(stdout.slice(1, stdout.size - 1) === expected, s"$tool $args")
    }
  }

  test("forced wave splits and over-budget hours keep the global order") {
    val root = catalog(seed = 23, runs = 2, hours = 3, lastHourScale = 8)
    val q = query(root, 3)
    val groups = LogCatalog.resolveByHourWithSizes(spark.sessionState.newHadoopConf(),
      root, Dc, Svc, Comp, q.startMs, q.endMs)
    val bytes = groups.map(_.map(_._2).sum)
    assert(groups.size === 3 && bytes(2) > bytes(0) + bytes(1), bytes)
    val expected = globalSort(q)
    val searched = q.where(Search("disk", caseInsensitive = true))
    val expectedSearch = globalSort(searched)

    val budgets = Seq(
      // one wave over every hour
      LogQuery.DefaultHourSortMaxBytes -> Seq(6),
      // hours 10+11 merged, hour 12 alone and over budget
      (bytes(0) + bytes(1)) -> Seq(4, 2),
      // one wave per hour, the last over budget
      math.max(bytes(0), bytes(1)) -> Seq(2, 2, 2),
      // every hour over budget: range sort throughout
      1L -> Seq(2, 2, 2))
    budgets.foreach { case (budget, waveFiles) =>
      assert(LogQuery.waves(groups, budget).map(_.size) === waveFiles, s"budget $budget")
      assert(printed(q, budget) === expected, s"budget $budget")
      assert(printed(searched, budget) === expectedSearch, s"budget $budget, search")
    }
  }

  test("a 2-hour printTo runs one job with one task per scan partition") {
    val root = catalog(seed = 5, runs = 2, hours = 2)
    val q = query(root, 2)
    assert(q.resolvePaths(spark).size >= 3)
    val inputPartitions = q.lines(spark).queryExecution.executedPlan
      .collect { case b: BatchScanExec => b.inputPartitions.size }.sum
    assert(inputPartitions >= 2, "the fixture must plan several scan partitions")

    val key = "graft.test.printto"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val tasks = new java.util.concurrent.atomic.AtomicInteger
    val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(key) != null)) {
          jobs.incrementAndGet()
          e.stageIds.foreach(stages.add(_))
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (stages.contains(e.stageId)) tasks.incrementAndGet()
    }
    val sc = spark.sparkContext
    ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    sc.setLocalProperty(key, "1")
    val n = try q.printTo(spark, _ => ())
      finally {
        sc.setLocalProperty(key, null)
        ListenerBusDrain(sc)
        sc.removeSparkListener(listener)
      }
    assert(n > 0)
    assert(jobs.get === 1)
    assert(tasks.get === inputPartitions)
  }

  test("the wave budget derived from maxResultSize keeps every job's results under it") {
    val maxResultSize = 1L << 20
    val root = catalog(seed = 31, runs = 2, hours = 6, perHour = 1000, tokenChars = 48)
    val q = query(root, 6)
    val budget = LogQuery.waveBudget(maxResultSize)
    assert(budget === maxResultSize / graft.boom.BoomSchemas.InflationBound)
    assert(LogQuery.waveBudget(0L) === LogQuery.DefaultHourSortMaxBytes)
    assert(LogQuery.waveBudget(16L << 30) === LogQuery.DefaultHourSortMaxBytes)

    val key = "graft.test.resultsize"
    val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    val resultBytes = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(key) != null))
          e.stageIds.foreach(stageJob.put(_, e.jobId))
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Option(stageJob.get(e.stageId)).foreach { job =>
          resultBytes.merge(job, e.taskMetrics.resultSize, _ + _)
        }
    }
    /** Lines printed with `budget`, and each job's summed task result bytes. */
    def run(budget: Long): (Seq[String], Seq[Long]) = {
      val sc = spark.sparkContext
      ListenerBusDrain(sc)
      stageJob.clear(); resultBytes.clear()
      sc.addSparkListener(listener)
      sc.setLocalProperty(key, "1")
      val out = try printed(q, budget)
        finally {
          sc.setLocalProperty(key, null)
          ListenerBusDrain(sc)
          sc.removeSparkListener(listener)
        }
      (out, resultBytes.values().asScala.toSeq)
    }

    val (whole, wholeJobs) = run(LogQuery.DefaultHourSortMaxBytes)
    assert(wholeJobs.size === 1)
    assert(wholeJobs.head > maxResultSize,
      s"one wave over the catalog must return more than $maxResultSize B")
    val (waved, jobs) = run(budget)
    assert(jobs.size > 1)
    assert(jobs.forall(_ <= maxResultSize), jobs)
    assert(waved === whole)
    assert(whole === globalSort(q))
  }
}
