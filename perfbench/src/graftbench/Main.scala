package graftbench

import java.io.PrintStream
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.time.{LocalDate, ZoneOffset}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import graft.cli.LogToolCli
import graft.engine.Ingest

import org.apache.spark.ListenerDrain
import org.apache.spark.sql.SparkSession

/** One timed CLI query. */
final case class Sample(latencyS: Double, firstLineS: Double, linesPerS: Double)

/** Harness entry point; see perfbench/README.md for the workloads and metrics. */
object Main {
  // Corpus size: 3 services x 6 hours x 25k lines (+ bursts) = ~450k lines,
  // ~60 MB of text, ingested once per service in set-up.
  val Services = 3
  val Hours = 6
  val LinesPerHour = 25000
  /** Samples needed before the tail percentile has ten samples beyond it. */
  val MinSamples = 21
  /** Warm-up after set-up: concurrent clients, for this long. */
  val WarmClients = 3
  val WarmSeconds = 11

  final case class Opts(workload: String = null, seed: Long = 1L, seconds: Int = 10,
      trace: Boolean = false, work: Path = null, traceOut: Path = null, selftest: Boolean = false)

  def parse(argv: Array[String]): Opts = {
    var o = Opts()
    val it = argv.iterator
    while (it.hasNext) it.next() match {
      case "--workload" => o = o.copy(workload = it.next())
      case "--seed" => o = o.copy(seed = it.next().toLong)
      case "--seconds" => o = o.copy(seconds = it.next().toInt)
      case "--trace" => o = o.copy(trace = it.next() == "1")
      case "--work" => o = o.copy(work = Path.of(it.next()))
      case "--trace-out" => o = o.copy(traceOut = Path.of(it.next()))
      case "--selftest" => o = o.copy(selftest = true)
      case other => throw new IllegalArgumentException(s"unknown argument $other")
    }
    require(o.work != null, "--work is required")
    require(o.selftest || Workloads.Names.contains(o.workload),
      s"--workload must be one of ${Workloads.Names.mkString(", ")}")
    o
  }

  def main(argv: Array[String]): Unit = {
    val code =
      try {
        val o = parse(argv)
        SelfTest.pure()
        if (o.selftest) SelfTest.crossCheck(o.work) else new Bench(o).run()
      } catch {
        case e: Throwable => e.printStackTrace(); 1
      }
    System.out.flush()
    sys.exit(code)
  }

  def startMs(seed: Long): Long =
    LocalDate.of(2024, 3, 10).plusDays(Math.floorMod(seed, 97L))
      .atStartOfDay(ZoneOffset.UTC).toInstant.toEpochMilli

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
    finally s.close()
  }

  def num(v: Double): String = {
    require(!v.isNaN && !v.isInfinite, s"metric value $v is not finite")
    java.lang.Double.toString(v)
  }
}

final class Bench(o: Main.Opts) {
  import Main._

  private val work = o.work.toAbsolutePath
  private val root = work.resolve("catalog").toString
  private val tracer = new Tracer
  private val client = new Client
  private var attempted = 0L
  private var failed = 0L
  private val perQuery = mutable.LinkedHashMap[String, Map[String, Double]]()
  private val notes = mutable.LinkedHashMap[String, String]()
  private var spark: SparkSession = _

  private def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  def run(): Int = {
    deleteTree(work)
    Files.createDirectories(work)
    System.setProperty("spark.local.dir", work.resolve("spark-local").toString)
    System.setProperty("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
    try {
      val t0 = System.nanoTime()
      spark = LogToolCli.session()
      val sessionS = secondsSince(t0)
      val metrics = queries(sessionS)
      val json = metrics.map { case (k, (v, unit)) => s""""$k": {"value": ${num(v)}, "unit": "$unit"}""" }
        .mkString("{", ", ", "}")
      if (o.trace && o.traceOut != null) writeTrace(metrics)
      notes.foreach { case (k, v) => println(s"# $k: $v") }
      println(s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, "metrics": $json}""")
      0
    } finally {
      if (spark != null) spark.stop()
      deleteTree(work)
    }
  }

  // ---- one operation --------------------------------------------------------

  /** One client's stdout: the checker that digests what the tool prints. */
  private final class Client {
    val checker = new OutputChecker
    val out = new PrintStream(checker, false, UTF_8)
  }

  private def count(ok: Boolean): Unit = synchronized {
    attempted += 1
    if (!ok) failed += 1
  }

  /** Runs one query through the CLI entry point and checks its output; None
    * when it failed or printed anything other than the predicted lines.
    */
  private def runQuery(q: Query, exp: Expected, label: String, c: Client = client): Option[Sample] = {
    c.checker.reset()
    val t0 = System.nanoTime()
    val ok =
      try { Cli.run(spark, q.argv(root, termsFile(q)), q.tool, c.out); true }
      catch { case e: Exception => log(s"$label ${q.id} failed: ${LogToolCli.translateError(e)}"); false }
    val wall = secondsSince(t0)
    val bad = if (ok) c.checker.mismatch(exp) else Some("error")
    bad.foreach(m => log(s"$label ${q.id} mismatch: $m"))
    count(bad.isEmpty)
    if (bad.nonEmpty) None
    else {
      val first = if (c.checker.firstLineNanos == 0L) wall else (c.checker.firstLineNanos - t0) / 1e9
      Some(Sample(wall, first, q.linesInRange / wall))
    }
  }

  /** Warm-up, outside set-up: WarmClients concurrent clients run the round,
    * each from its own offset, until WarmSeconds have passed. A fresh JVM
    * keeps compiling the planner and the reader for tens of seconds of
    * queries, and a query keeps about one core busy, so the spare cores get
    * it there sooner. Outputs are checked like any other. Returns the count.
    */
  private def warmUp(round: Seq[(Query, Expected)]): Int = {
    val t0 = System.nanoTime()
    val ops = new java.util.concurrent.atomic.AtomicInteger
    val clients = (0 until WarmClients).map { k =>
      new Thread(() => {
        val c = new Client
        var i = k * round.size / WarmClients
        while (secondsSince(t0) < WarmSeconds) {
          val (q, e) = round(i % round.size)
          runQuery(q, e, "warm-up", c)
          ops.incrementAndGet()
          i += 1
        }
      }, s"warm-up-$k")
    }
    clients.foreach(_.start())
    clients.foreach(_.join())
    ops.get
  }

  private def termsFile(q: Query): String =
    work.resolve("terms").resolve(q.id + ".txt").toString

  /** Closed loop, one client: the next operation starts when the previous
    * one has returned. Runs whole rounds until `seconds` have passed and the
    * tail percentile has ten samples beyond it. Returns the samples and the
    * peak live heap, sampled between rounds.
    */
  private def timed(roundSize: Int)(op: Int => Option[Sample]): (Seq[Sample], Double) = {
    val samples = ArrayBuffer[Sample]()
    val heap = new HeapWatch
    heap.sample()
    val t0 = System.nanoTime()
    var i = 0
    while (i % roundSize != 0 || secondsSince(t0) < o.seconds || samples.size < MinSamples) {
      op(i).foreach(samples += _)
      i += 1
      if (i % roundSize == 0) {
        heap.sample()
        log(s"timed round ${i / roundSize}: " +
          samples.takeRight(roundSize).map(s => f"${s.latencyS}%.3f").mkString(" "))
      }
      require(samples.nonEmpty || i < 2 * roundSize + 3, "no operation succeeded")
    }
    heap.sample()
    (samples.toSeq, heap.peakMb)
  }

  private def endToEnd(setupS: Double, samples: Seq[Sample], ingestRate: Double,
      storedBytesPerLine: Double, heapMb: Double): Seq[(String, (Double, String))] = {
    val lat = samples.map(_.latencyS)
    val (tail, pct) = Stats.tail(lat).get
    notes("latency_tail_s") = f"p$pct%.1f of ${lat.size} samples"
    Seq("setup_s" -> (setupS -> "s"),
      "latency_p50_s" -> (Stats.median(lat) -> "s"),
      "latency_tail_s" -> (tail -> "s"),
      "first_line_p50_s" -> (Stats.median(samples.map(_.firstLineS)) -> "s"),
      "scan_lines_per_s" -> (Stats.median(samples.map(_.linesPerS)) -> "lines/s"),
      "ingest_lines_per_s" -> (ingestRate -> "lines/s"),
      "stored_bytes_per_line" -> (storedBytesPerLine -> "bytes"),
      "live_heap_mb" -> (heapMb -> "MB"))
  }

  // ---- traced-run helpers -----------------------------------------------------

  /** A listener registered for the duration of `body`; returned once every
    * event it was sent has been delivered.
    */
  private def withListener(body: ExecListener => Unit): ExecListener = {
    val l = new ExecListener
    spark.sparkContext.addSparkListener(l)
    try body(l)
    finally {
      spark.sparkContext.setLocalProperty(l.Key, null)
      ListenerDrain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(l)
    }
    l
  }

  /** The traced run's closed loop: whole rounds alternate between tracing
    * off and tracing on (spans plus the task listener), so both sides see
    * the same JIT state. Records the per-query task totals and returns the
    * run-level values: the mean task GC time per query, and the tracing
    * overhead, the traced minus the untraced median latency.
    */
  private def alternating(round: Seq[(Query, Expected)]): Map[String, Double] = {
    val n = round.size
    val plain, traced = ArrayBuffer[Sample]()
    val rows = ArrayBuffer[(String, ExecCounts, Double)]()
    val t0 = System.nanoTime()
    var i = 0
    while (secondsSince(t0) < 2 * o.seconds || plain.size < MinSamples || traced.size < MinSamples) {
      if ((i / n) % 2 == 0) {
        (0 until n).foreach { _ =>
          val (q, e) = round(i % n)
          runQuery(q, e, "untraced").foreach(plain += _)
          i += 1
        }
      } else {
        val keys = ArrayBuffer[(String, String, Double)]()
        val l = withListener { l =>
          tracer.enabled = true
          try (0 until n).foreach { _ =>
            val (q, e) = round(i % n)
            val key = s"op$i"
            spark.sparkContext.setLocalProperty(l.Key, key)
            tracer("op", key)(runQuery(q, e, "traced"))
              .foreach { s => traced += s; keys += ((q.id, key, s.latencyS)) }
            spark.sparkContext.setLocalProperty(l.Key, null)
            i += 1
          } finally tracer.enabled = false
        }
        keys.foreach { case (id, key, wall) =>
          Option(l.byQuery.get(key)).foreach(c => rows += ((id, c, wall)))
        }
      }
      require(plain.nonEmpty || traced.nonEmpty || i < 2 * n + 3, "no operation succeeded")
    }
    rows.groupBy(_._1).foreach { case (id, rs) =>
      def med(f: ((String, ExecCounts, Double)) => Double) = Stats.median(rs.map(f).toSeq)
      perQuery(id) = perQuery.getOrElse(id, Map.empty) ++ Map(
        "exec.jobs" -> med(_._2.jobs.toDouble),
        "exec.tasks" -> med(_._2.tasks.toDouble),
        "exec.task_s" -> med(_._2.taskMs / 1e3),
        "exec.task_cpu_s" -> med(_._2.cpuNs / 1e9),
        "exec.shuffle_bytes" -> med(_._2.shuffleBytes.toDouble),
        "exec.parallelism" -> med { case (_, c, wall) => c.taskMs / 1e3 / wall })
    }
    val (p, t) = (Stats.median(plain.map(_.latencyS).toSeq), Stats.median(traced.map(_.latencyS).toSeq))
    notes("tracing") = f"untraced p50 $p%.4f s (${plain.size} samples), " +
      f"traced p50 $t%.4f s (${traced.size} samples), rounds alternating"
    // Most queries see no collection inside their task, so a per-query
    // median would read 0; the mean over every traced query does not.
    Map("exec.gc_s" -> rows.map(_._2.gcMs).sum / 1e3 / math.max(rows.size, 1),
      "trace.overhead_s" -> (t - p))
  }

  /** Per-query layer values are reported as their median over the round's
    * queries; `whole` holds the values measured once for the run.
    */
  private def perLayer(whole: Map[String, Double]): Seq[(String, (Double, String))] = {
    def layer(n: String): Double =
      whole.getOrElse(n, {
        val vs = perQuery.values.flatMap(_.get(n)).toSeq
        require(vs.nonEmpty, s"per-layer metric $n was not measured")
        Stats.median(vs)
      })
    PerLayer.Units.map { case (n, u) => n -> (layer(n) -> u) }
  }

  private def writeTrace(metrics: Seq[(String, (Double, String))]): Unit = {
    Files.createDirectories(o.traceOut.toAbsolutePath.getParent)
    def obj(kv: Iterable[(String, Double)]) =
      kv.map { case (k, v) => s""""$k": ${num(v)}""" }.mkString("{", ", ", "}")
    val pq = perQuery.map { case (q, vs) => s""""$q": ${obj(vs)}""" }.mkString("{\n", ",\n", "\n}")
    val ns = notes.map { case (k, v) => s""""$k": "${v.replace("\"", "'")}"""" }.mkString("{", ", ", "}")
    Files.write(o.traceOut, (s"""{"workload": "${o.workload}", "seed": ${o.seed}, "notes": $ns,\n""" +
      s""""metrics": ${obj(metrics.map { case (k, (v, _)) => k -> v })},\n""" +
      s""""per_query": $pq,\n"spans": ${tracer.toJson}}\n""").getBytes(UTF_8))
    log(s"trace written to ${o.traceOut}")
  }

  // ---- query workloads ------------------------------------------------------

  private def queries(sessionS: Double): Seq[(String, (Double, String))] = {
    val base = startMs(o.seed)
    val services = ArrayBuffer[ServiceLog]()
    val setupS = ArrayBuffer[Double]()
    val ingestS = ArrayBuffer[Double]()
    // A first, one-hour ingest pays the ingest path's class loading and
    // part of its JIT, so the service ingests that follow are comparable.
    val tw0 = System.nanoTime()
    val first = Corpus.service("first", o.seed * 1000003L + 999L, base, 1, LinesPerHour)
    first.writeText(work.resolve("text").resolve(first.name))
    Ingest.textToCatalog(spark, work.resolve("text").resolve(first.name).toString,
      work.resolve("first-catalog").toString, Corpus.Dc, first.name, Corpus.Component)
    val firstS = secondsSince(tw0)
    for (i <- 0 until Services) {
      val t0 = System.nanoTime()
      val s = Corpus.service(s"svc$i", o.seed * 1000003L + i, base, Hours, LinesPerHour)
      val text = work.resolve("text").resolve(s.name)
      s.writeText(text)
      val t1 = System.nanoTime()
      Ingest.textToCatalog(spark, text.toString, root, Corpus.Dc, s.name, Corpus.Component)
      ingestS += secondsSince(t1)
      setupS += secondsSince(t0)
      log(f"${s.name}: generated in ${(t1 - t0) / 1e9}%.2f s, ingested in ${secondsSince(t1)}%.2f s")
      services += s
    }
    val lines = services.map(_.size.toLong).sum
    // Three timings are too few for a steady median: the rate is taken over
    // their sum instead.
    val ingestRate = lines / ingestS.sum
    val storedBytes = BoomFiles.under(Path.of(root)).map(Files.size(_)).sum
    notes("corpus") = s"$Services services x $Hours h, $lines lines, " +
      f"${storedBytes / 1048576.0}%.1f MiB of .bm"

    val t0 = System.nanoTime()
    val round = Workloads.build(o.workload, services.toSeq, o.seed).map { q =>
      if (q.terms.nonEmpty) {
        Files.createDirectories(Path.of(termsFile(q)).getParent)
        Files.write(Path.of(termsFile(q)), q.terms.mkString("", "\n", "\n").getBytes(UTF_8))
      }
      q -> q.expected
    }
    notes("expected") = round.map { case (q, e) => f"${q.id}=${e.count}:${e.digest}%016x" }.mkString(" ")
    // A query predicted to print nothing would pass on an empty output.
    round.find(_._2.count == 0).foreach { case (q, _) =>
      throw new IllegalStateException(s"${q.id} is predicted to print no lines")
    }
    log(f"expected results computed in ${secondsSince(t0)}%.2f s: ${notes("expected")}")

    // Set-up: session start, the first ingest, and every service's
    // generation and ingest. The warm-up is left out, as its length is the
    // harness's choice.
    val setup = sessionS + firstS + setupS.sum
    log(f"set-up: session $sessionS%.2f s, first ingest $firstS%.2f s, per service " +
      setupS.map(x => f"$x%.2f").mkString(" ") + " s")
    val warmOps = warmUp(round)
    log(s"warm-up: $warmOps queries on $WarmClients clients in $WarmSeconds s")

    val n = round.size
    if (!o.trace) {
      val (samples, heapMb) = timed(n) { i => val (q, e) = round(i % n); runQuery(q, e, "timed") }
      endToEnd(setup, samples, ingestRate, storedBytes.toDouble / lines, heapMb)
    } else {
      val whole = alternating(round)
      tracer.enabled = true
      val probe = new LayerProbe(spark, tracer, root)
      round.foreach { case (q, _) =>
        perQuery(q.id) = perQuery.getOrElse(q.id, Map.empty) ++ probe.query(q, termsFile(q))
      }
      val ing = probe.ingest(work.resolve("text").resolve(services.head.name).toString,
        work.resolve("ingest-probe").toString, services.head.name)
      perLayer(whole ++ ing)
    }
  }
}

/** Per-layer metric names and units, in report order. */
object PerLayer {
  val Units: Seq[(String, String)] = Seq(
    "catalog.s" -> "s", "catalog.hours" -> "count", "catalog.files" -> "count",
    "catalog.bytes" -> "bytes",
    "plan.s" -> "s", "plan.scans" -> "count", "plan.input_partitions" -> "count",
    "plan.exchanges" -> "count",
    "exec.jobs" -> "count", "exec.tasks" -> "count", "exec.task_s" -> "s",
    "exec.task_cpu_s" -> "s", "exec.gc_s" -> "s", "exec.shuffle_bytes" -> "bytes",
    "exec.parallelism" -> "ratio",
    "scan.inflate_s" -> "s", "scan.iter_s" -> "s", "scan.compressed_mb" -> "MiB",
    "scan.blocks" -> "count", "scan.blocks_decoded" -> "count", "scan.blocks_skipped" -> "count",
    "scan.lines_out" -> "count", "scan.decoded_hit_ratio" -> "ratio",
    "rows.s" -> "s", "predicate.s" -> "s", "format.s" -> "s", "sort.s" -> "s",
    "sink.first_line_s" -> "s", "sink.drain_s" -> "s", "sink.lines" -> "count",
    "ingest.parse_s" -> "s", "ingest.write_s" -> "s", "ingest.files" -> "count",
    "ingest.blocks" -> "count", "ingest.bytes_written" -> "bytes",
    "trace.overhead_s" -> "s")
}
