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
      perHour: Int = 60, tokenChars: Int = 0, vocab: Seq[String] = words): String = {
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
          val ws = Seq.fill(1 + rnd.nextInt(3))(vocab(rnd.nextInt(vocab.size)))
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
    val n = q.printInWaves(spark, (b, off, len) => out += new String(b, off, len, "UTF-8"), budget)
    assert(n === out.size)
    out.toSeq
  }

  /** Three files per hour over two hours, shared by the CLI tests. */
  private lazy val threeRuns = catalog(seed = 11, runs = 3, hours = 2)

  /** Two files per hour over two hours, shared by the one-job tests. */
  private lazy val twoRuns = catalog(seed = 5, runs = 2, hours = 2)

  /** The six CLI tool cases: tool, its own arguments, its predicate. */
  private lazy val toolCases: Seq[(String, Seq[String], LogToolCli.Args => LogPredicate)] = {
    val terms = Files.createTempFile("terms", ".txt")
    Files.write(terms, "disk\nnet\n".getBytes("UTF-8"))
    Seq(
      ("logcat", Nil, _ => MatchAll),
      ("loggrep", Seq("-regex=d[i]sk (net|cpu)"), a => Grep(a.regex, a.caseInsensitive)),
      ("logsearch", Seq("-string=FENÊTRE", "--i"), a => Search(a.string, a.caseInsensitive)),
      ("logsearch", Seq("-string=disk", "--i"), a => Search(a.string, a.caseInsensitive)),
      ("logmultisearch", Seq(s"-strings=$terms"),
        a => MultiSearch(LogToolCli.loadTerms(a.strings), a.matchAll, a.caseInsensitive)),
      ("logmultisearch", Seq(s"-strings=$terms", "--a"),
        a => MultiSearch(LogToolCli.loadTerms(a.strings), a.matchAll, a.caseInsensitive)))
  }

  private def toolArgv(root: String, q: LogQuery, args: Seq[String]): Array[String] =
    (Seq(s"--root=$root", s"-dc=$Dc", s"-svc=$Svc", s"-comp=$Comp",
      s"-start=${q.startMs}", s"-end=${q.endMs}", "--silent") ++ args).toArray

  /** The CLI's stdout lines between the two data markers. */
  private def cliStdout(tool: String, argv: Array[String],
      pred: LogToolCli.Args => LogPredicate): Seq[String] = {
    val buf = new ByteArrayOutputStream()
    Console.withOut(new PrintStream(buf, true, "UTF-8")) {
      LogToolCli.runWith(spark, tool, argv, pred)
    }
    val stdout = new String(buf.toByteArray, "UTF-8").split("\n").toSeq
    assert(stdout.head === ";#### DATA RESULTS ####" && stdout.last === ";#### DATA RESULTS ####")
    stdout.slice(1, stdout.size - 1)
  }

  /** Runs `body` with a listener on the jobs it starts. Returns its result,
    * the number of jobs, and for each stage that ran: whether it reads no
    * shuffle (a scan stage), and its task count.
    */
  private def observed[T](body: => T): (T, Int, Seq[(Boolean, Int)]) = {
    val key = "graft.test.observed"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val rootStage = new java.util.concurrent.ConcurrentHashMap[Int, Boolean]()
    val tasks = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(key) != null)) {
          jobs.incrementAndGet()
          e.stageInfos.foreach(s => rootStage.put(s.stageId, s.parentIds.isEmpty))
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (rootStage.containsKey(e.stageId)) tasks.merge(e.stageId, 1, _ + _)
    }
    val sc = spark.sparkContext
    ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    sc.setLocalProperty(key, "1")
    val result = try body
      finally {
        sc.setLocalProperty(key, null)
        ListenerBusDrain(sc)
        sc.removeSparkListener(listener)
      }
    (result, jobs.get, tasks.asScala.toSeq.map { case (s, n) => (rootStage.get(s), n) })
  }

  private def inputPartitions(q: LogQuery): Int =
    q.lines(spark).queryExecution.executedPlan
      .collect { case b: BatchScanExec => b.inputPartitions.size }.sum

  test("CLI stdout equals the global sort on multi-file hours with equal timestamps") {
    val root = threeRuns
    val q = query(root, 2)
    val groups = LogCatalog.resolveByHourWithSizes(spark.sessionState.newHadoopConf(),
      root, Dc, Svc, Comp, q.startMs, q.endMs)
    assert(groups.size === 2 && groups.forall(_.size >= 2), groups)
    assert(q.lines(spark).groupBy("timestamp").agg(countDistinct("createTime").as("files"))
      .where($"files" > 1).count() > 10, "the fixture must repeat timestamps across files")
    toolCases.foreach { case (tool, args, pred) =>
      val argv = toolArgv(root, q, args)
      val expected = globalSort(q.where(pred(LogToolCli.parseArgs(argv, tool))))
      assert(expected.nonEmpty, s"$tool $args matches nothing")
      assert(cliStdout(tool, argv, pred) === expected, s"$tool $args")
    }
  }

  test("CLI --out part files, read in name order, equal stdout; the write scans in parallel") {
    val root = threeRuns
    val q = query(root, 2)
    toolCases.foreach { case (tool, args, pred) =>
      val dir = Files.createTempDirectory("printto-out").resolve("out")
      val (_, _, stages) = observed {
        LogToolCli.runWith(spark, tool, toolArgv(root, q, args :+ s"--out=$dir"), pred)
      }
      val parts = Files.list(dir).iterator().asScala
        .filter(_.getFileName.toString.startsWith("part-")).toSeq.sortBy(_.getFileName.toString)
      val written = parts.flatMap(p => Files.readAllLines(p, java.nio.charset.StandardCharsets.UTF_8).asScala)
      assert(written === cliStdout(tool, toolArgv(root, q, args), pred), s"$tool $args")
      if (tool == "logcat") {
        val scans = stages.filter(_._1).map(_._2)
        assert(scans.nonEmpty && scans.forall(_ > 1), s"scan stage task counts $scans")
      }
    }
  }

  test("stdout carries each line's UTF-8 bytes exactly, whatever the stream's charset") {
    // 2-, 3- and 4-byte characters, each also a line's last word.
    val vocab = words ++ Seq("é", "日本語", "✓", "😀", "x😀y")
    val root = catalog(seed = 41, runs = 2, hours = 2, vocab = vocab)
    val q = query(root, 2)
    val expected = globalSort(q)
    Seq("é", "日本語", "✓", "😀").foreach { c =>
      assert(expected.exists(_.endsWith(c)), s"the fixture must end a line with $c")
    }
    val argv = Array(s"--root=$root", s"-dc=$Dc", s"-svc=$Svc", s"-comp=$Comp",
      s"-start=${q.startMs}", s"-end=${q.endMs}", "--silent")
    val buf = new ByteArrayOutputStream()
    // A Latin-1 stream would turn every character above into '?' if the
    // lines went through it as text.
    Console.withOut(new PrintStream(buf, true, "ISO-8859-1")) {
      LogToolCli.runWith(spark, "logcat", argv, _ => MatchAll)
    }
    val marker = ";#### DATA RESULTS ####"
    val want = (marker +: expected :+ marker).mkString("", "\n", "\n").getBytes("UTF-8")
    assert(buf.toByteArray.sameElements(want))

    val decoded = ArrayBuffer[String]()
    assert(q.printTo(spark, decoded += _) === expected.size)
    assert(decoded.toSeq === expected)
  }

  test("stdout takes one write per buffer, not one per line, on an autoflushing stream") {
    val root = catalog(seed = 43, runs = 2, hours = 2, perHour = 5000)
    val q = query(root, 2)
    var writes = 0
    var bytes = 0L
    val counting = new java.io.OutputStream {
      override def write(b: Int): Unit = { writes += 1; bytes += 1 }
      override def write(b: Array[Byte], off: Int, len: Int): Unit = { writes += 1; bytes += len }
    }
    val argv = Array(s"--root=$root", s"-dc=$Dc", s"-svc=$Svc", s"-comp=$Comp",
      s"-start=${q.startMs}", s"-end=${q.endMs}", "--silent")
    Console.withOut(new PrintStream(counting, true, "UTF-8")) {
      LogToolCli.runWith(spark, "logcat", argv, _ => MatchAll)
    }
    assert(q.lines(spark).count() >= 20000)
    assert(writes <= bytes / 8192 + 4, s"$writes writes for $bytes bytes")
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
      LogQuery.MaxWaveBytes -> Seq(6),
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

  test("a sorted run holds its lines in primitive arrays, not strings") {
    val fields = classOf[LogQuery.SortedRun].getDeclaredFields.map(_.getType)
    assert(fields.toSet === Set[Class[_]](classOf[Array[Long]], classOf[Array[Byte]],
      classOf[Array[Int]]))
  }

  test("a 2-hour printTo runs one job with one task per scan partition") {
    val q = query(twoRuns, 2)
    assert(q.resolvePaths(spark).size >= 3)
    val partitions = inputPartitions(q)
    assert(partitions >= 2, "the fixture must plan several scan partitions")

    val (n, jobs, stages) = observed(q.printTo(spark, _ => ()))
    assert(n > 0)
    assert(jobs === 1)
    assert(stages.map(_._2).sum === partitions)
  }

  test("explicit paths print as one wave: one job, or the range sort over budget") {
    val q = LogQuery(paths = Seq(twoRuns))
    val partitions = inputPartitions(q)
    assert(partitions >= 2, "the fixture must plan several scan partitions")
    val expected = globalSort(q)

    val (merged, jobs, stages) = observed(printed(q, LogQuery.MaxWaveBytes))
    assert(merged === expected)
    assert(jobs === 1)
    assert(stages.map(_._2).sum === partitions)
    assert(printed(q, 1L) === expected)
    val searched = q.where(Search("disk", caseInsensitive = true))
    assert(printed(searched, 1L) === globalSort(searched))
  }

  test("the wave budget derived from maxResultSize keeps every job's results under it") {
    val maxResultSize = 1L << 20
    val root = catalog(seed = 31, runs = 2, hours = 6, perHour = 1000, tokenChars = 48)
    val q = query(root, 6)
    val budget = LogQuery.waveBudget(maxResultSize)
    assert(budget === maxResultSize / graft.boom.BoomSchemas.InflationBound)
    assert(LogQuery.waveBudget(0L) === LogQuery.MaxWaveBytes)
    assert(LogQuery.waveBudget(16L << 30) === LogQuery.MaxWaveBytes)

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

    val (whole, wholeJobs) = run(LogQuery.MaxWaveBytes)
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
