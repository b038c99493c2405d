package graftbench

import java.io.PrintStream
import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.boom.{BoomFileRangeIterator, BoomPushdown}
import graft.cli.LogToolCli
import graft.engine._
import graft.functions.functions.format_log_date

import org.apache.avro.mapred.FsInput
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions.{col, concat, lit}

/** The production CLI entry point, called the way each tool's main calls it. */
object Cli {
  def predicate(tool: String): LogToolCli.Args => LogPredicate = tool match {
    case "logcat" => _ => MatchAll
    case "loggrep" => a => Grep(a.regex, a.caseInsensitive)
    case "logsearch" => a => Search(a.string, a.caseInsensitive)
    case "logmultisearch" =>
      a => MultiSearch(LogToolCli.loadTerms(a.strings), a.matchAll, a.caseInsensitive)
  }

  def run(spark: SparkSession, argv: Array[String], tool: String, out: PrintStream): Unit = {
    Console.withOut(out)(LogToolCli.runWith(spark, tool, argv, predicate(tool)))
    out.flush()
  }
}

/** Times each layer of one query from outside, by calling that layer's
  * public functions on the query's own inputs. Results are per-query
  * values keyed by per-layer metric name.
  */
final class LayerProbe(spark: SparkSession, tracer: Tracer, root: String) {
  private object Plans extends AdaptiveSparkPlanHelper

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def query(q: Query, termsFile: String): Map[String, Double] = {
    val m = mutable.LinkedHashMap[String, Double]()
    val argv = q.argv(root, termsFile)
    val args = LogToolCli.parseArgs(argv, q.tool)
    val pred = Cli.predicate(q.tool)(args)
    def logQuery = LogQuery(root = root, dc = Corpus.Dc, service = q.service.name,
      component = Corpus.Component).range(q.startMs, q.endMs).where(pred)
    def timed(name: String)(body: => Unit): Double = {
      val t0 = System.nanoTime()
      tracer(name, q.id)(body)
      (System.nanoTime() - t0) / 1e9
    }

    tracer("probe", q.id) {
      var groups: Seq[Seq[(String, Long)]] = Nil
      m("catalog.s") = timed("catalog") {
        groups = LogCatalog.resolveByHourWithSizes(spark.sessionState.newHadoopConf(),
          root, Corpus.Dc, q.service.name, Corpus.Component, q.startMs, q.endMs)
      }
      val files = groups.flatten.map(_._1)
      m("catalog.hours") = groups.size
      m("catalog.files") = files.size
      m("catalog.bytes") = groups.flatten.map(_._2).sum.toDouble

      val lq = logQuery
      lq.resolvePaths(spark) // the catalog pass is timed above; plan alone here
      var plan: org.apache.spark.sql.execution.SparkPlan = null
      m("plan.s") = timed("plan") { plan = lq.formatted(spark).queryExecution.executedPlan }
      val scans = Plans.collect(plan) { case b: BatchScanExec => b }
      m("plan.scans") = scans.size
      m("plan.input_partitions") = scans.map(_.inputPartitions.size).sum.toDouble
      m("plan.exchanges") = Plans.collect(plan) { case e: ShuffleExchangeLike => e }.size
      val pushdown = ScanAdapter.pushdown(scans.head.scan)

      m ++= scan(q.id, files, pushdown)
      m("scan.compressed_mb") = m("catalog.bytes") / (1024.0 * 1024.0)

      def read = spark.read.format("boom").load(files: _*)
        .filter(col("timestamp") >= q.startMs).filter(col("timestamp") < q.endMs)
      val rows = timed("rows")(noop(read))
      val withPred = timed("rows+predicate")(noop(read.filter(pred.toColumn(col("message")))))
      val withFormat = timed("rows+predicate+format")(noop(read
        .filter(pred.toColumn(col("message")))
        .select(concat(format_log_date(col("timestamp"), "RFC5424"), lit(" "), col("message"))
          .as("formatted"), col("timestamp"), col("createTime"), col("blockNumber"),
          col("lineNumber"))))
      val formatted = timed("formatted")(noop(logQuery.formatted(spark).toDF()))
      m("rows.s") = rows
      m("predicate.s") = withPred - rows
      m("format.s") = withFormat - withPred
      m("sort.s") = formatted - withFormat

      var first = 0L
      var n = 0L
      val t0 = System.nanoTime()
      tracer("sink", q.id) {
        logQuery.printTo(spark, _ => { if (n == 0) first = System.nanoTime(); n += 1 })
      }
      val t1 = System.nanoTime()
      m("sink.first_line_s") = (if (n == 0) t1 - t0 else first - t0) / 1e9
      m("sink.drain_s") = (if (n == 0) 0L else t1 - first) / 1e9
      m("sink.lines") = n.toDouble
    }
    m.toMap
  }

  /** One thread drives the reader directly over the query's files. */
  private def scan(id: String, files: Seq[String], pd: BoomPushdown): Map[String, Double] = {
    val hconf = spark.sessionState.newHadoopConf()
    def open(f: String, p: BoomPushdown) =
      new BoomFileRangeIterator(new FsInput(new HPath(f), hconf), p, 0L, Long.MaxValue)
    val t0 = System.nanoTime()
    tracer("scan.inflate", id) {
      files.foreach { f =>
        val it = open(f, pd.copy(clauses = Nil))
        try it.countRemaining() finally it.close()
      }
    }
    val t1 = System.nanoTime()
    var decoded, skipped, hit, lines = 0L
    tracer("scan.iter", id) {
      files.foreach { f =>
        val it = open(f, pd)
        try {
          var lastBlock = -1L
          while (it.hasNext) {
            it.next()
            lines += 1
            val b = ScanAdapter.blocksDecoded(it)
            if (b != lastBlock) { hit += 1; lastBlock = b }
          }
          decoded += ScanAdapter.blocksDecoded(it)
          skipped += ScanAdapter.blocksSkipped(it)
        } finally it.close()
      }
    }
    val t2 = System.nanoTime()
    Map("scan.inflate_s" -> (t1 - t0) / 1e9, "scan.iter_s" -> (t2 - t1) / 1e9,
      "scan.blocks" -> (decoded + skipped).toDouble, "scan.blocks_decoded" -> decoded.toDouble,
      "scan.blocks_skipped" -> skipped.toDouble, "scan.lines_out" -> lines.toDouble,
      "scan.decoded_hit_ratio" -> (if (decoded == 0) 0.0 else hit.toDouble / decoded))
  }

  /** Parse-only pass, then the full catalog ingest into `into`. */
  def ingest(textDir: String, into: String, service: String): Map[String, Double] = {
    val t0 = System.nanoTime()
    tracer("ingest.parse", service)(noop(Ingest.parse(spark.read.textFile(textDir)).toDF()))
    val t1 = System.nanoTime()
    tracer("ingest.textToCatalog", service) {
      Ingest.textToCatalog(spark, textDir, into, Corpus.Dc, service, Corpus.Component)
    }
    val t2 = System.nanoTime()
    val written = BoomFiles.under(Path.of(into))
    val blocks = written.map { f =>
      val it = new BoomFileRangeIterator(new FsInput(new HPath(f.toString),
        spark.sessionState.newHadoopConf()), BoomPushdown(), 0L, Long.MaxValue)
      try { it.countRemaining(); ScanAdapter.blocksDecoded(it) } finally it.close()
    }.sum
    Map("ingest.parse_s" -> (t1 - t0) / 1e9, "ingest.write_s" -> ((t2 - t1) - (t1 - t0)) / 1e9,
      "ingest.files" -> written.size.toDouble, "ingest.blocks" -> blocks.toDouble,
      "ingest.bytes_written" -> written.map(Files.size(_)).sum.toDouble)
  }
}

object BoomFiles {
  def under(dir: Path): Seq[Path] =
    if (!Files.exists(dir)) Nil
    else {
      val s = Files.walk(dir)
      try s.iterator().asScala.filter(p => Files.isRegularFile(p) &&
        p.getFileName.toString.endsWith(".bm")).toSeq
      finally s.close()
    }
}
