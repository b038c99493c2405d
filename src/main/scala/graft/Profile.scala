package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.graft.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Optimization-round tool: per-query execution profile, one JSON line per
  * run on stdout. Each named registered query runs twice on the harness
  * session ([[Tuning.session]]): rep 1 cold, rep 2 warm.
  *
  * A run is split into driver phases — DataFrame construction (the
  * registered builder; streaming-harness queries drain their stream here),
  * analysis+optimization (`optimizedPlan`), physical planning
  * (`executedPlan`) and execution (a `noop` write) — and carries what the
  * listeners saw meanwhile: jobs, stages, tasks, summed task seconds and
  * shuffle megabytes written and read, which separate machinery-bound
  * queries (many tiny jobs, task time << wall) from compute-bound ones,
  * plus per-job wall (`job_detail`), per-stage CPU (`stage_detail`) and
  * every micro-batch's progress (`stream_progress`).
  *
  * Usage: `runMain graft.Profile <sfDir> q_a q_b …`
  */
object Profile {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Profile <sfDir> <query> [query ...]")
    val sfDir = args.head
    val names = args.tail.toSeq
    val queries = SparkEntry.queries
    val unknown = names.filterNot(queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val spark = Tuning.session(sfDir)
    // Absorb the session's one-time costs (codegen compiler, JIT), so rep 1
    // is cold for the query only.
    spark.range(1000000L).selectExpr("sum(id)").collect()
    val profiler = new Profiler(spark)
    try names.foreach { name =>
      (1 to 2).foreach { rep =>
        try println(profiler.record(name, rep)(queries(name)(spark, sfDir)))
        catch { case e: Exception => System.err.println(s"[profile] $name rep$rep: $e") }
      }
    } finally profiler.close()
    spark.stop()
  }

  /** Shuffle bytes (written, read) by the stages `body` runs on `spark` —
    * the engine behind PlanAuditSpec's shuffle-budget regression net.
    */
  def measure(spark: SparkSession)(body: => Unit): (Long, Long) = {
    val profiler = new Profiler(spark)
    try {
      val (_, t) = profiler.observe(body)
      (t.shuffleWrite, t.shuffleRead)
    } finally profiler.close()
  }

  private val mapper = new ObjectMapper()

  /** What the listeners saw during one observed run. Written by the
    * listener-bus threads, read after the bus is drained.
    */
  final class Tally {
    @volatile var jobs, stages, tasks = 0
    @volatile var taskMs, shuffleWrite, shuffleRead = 0L
    val jobDetail, stageDetail, streamProgress = new ConcurrentLinkedQueue[JsonNode]()
  }

  /** One SparkListener and one StreamingQueryListener on `spark`,
    * registered until [[close]].
    */
  final class Profiler(spark: SparkSession) extends SparkListener with AutoCloseable {
    @volatile private var tally = new Tally
    private val jobStarts = new ConcurrentHashMap[Int, (Long, String)]()

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      tally.jobs += 1
      jobStarts.put(e.jobId, (e.time, Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStarts.remove(e.jobId)).foreach { case (start, description) =>
        tally.jobDetail.add(mapper.createObjectNode().put("id", e.jobId)
          .put("start", start).put("wall_s", round((e.time - start) / 1e3))
          .put("description", description))
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val t = tally
      t.stages += 1
      val info = e.stageInfo
      val m = info.taskMetrics
      if (m != null) {
        if (info.failureReason.isEmpty) {
          t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          t.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        }
        t.stageDetail.add(mapper.createObjectNode().put("id", info.stageId)
          .put("tasks", info.numTasks)
          .put("exec_cpu_s", round(m.executorCpuTime / 1e9))
          .put("exec_run_s", round(m.executorRunTime / 1e3))
          .put("name", info.name.takeWhile(_ != '\n').take(140)))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val t = tally
      t.tasks += 1
      if (e.taskInfo != null) t.taskMs += e.taskInfo.duration
    }

    private val streams = new StreamingQueryListener {
      import StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit = {
        tally.streamProgress.add(mapper.readTree(e.progress.json)); ()
      }
    }

    spark.sparkContext.addSparkListener(this)
    spark.streams.addListener(streams)

    /** Runs `body` and returns what the listeners saw while it ran. The bus
      * is drained on both sides, so earlier runs' late events stay out.
      */
    def observe[A](body: => A): (A, Tally) = {
      ListenerBusDrain(spark.sparkContext)
      val t = new Tally
      tally = t
      val a = body
      ListenerBusDrain(spark.sparkContext)
      (a, t)
    }

    /** The JSON record of one run of the query `build` constructs. */
    def record(q: String, rep: Int)(build: => DataFrame): String = {
      val (phases, t) = observe {
        val (df, construct) = timed(build)
        val (_, optimize) = timed(df.queryExecution.optimizedPlan)
        val (_, plan) = timed(df.queryExecution.executedPlan)
        val (_, execute) = timed(df.write.format("noop").mode("overwrite").save())
        Seq("construct_s" -> construct, "optimize_s" -> optimize,
          "plan_s" -> plan, "execute_s" -> execute)
      }
      val r = mapper.createObjectNode().put("q", q).put("rep", rep)
      phases.foreach { case (k, s) => r.put(k, round(s)) }
      r.put("jobs", t.jobs).put("stages", t.stages).put("tasks", t.tasks)
        .put("task_s", round(t.taskMs / 1e3))
        .put("shuffle_write_mb", round(t.shuffleWrite / 1e6))
        .put("shuffle_read_mb", round(t.shuffleRead / 1e6))
      r.putArray("job_detail").addAll(t.jobDetail)
      r.putArray("stage_detail").addAll(t.stageDetail)
      r.putArray("stream_progress").addAll(t.streamProgress)
      r.toString
    }

    def close(): Unit = {
      spark.streams.removeListener(streams)
      spark.sparkContext.removeSparkListener(this)
    }
  }

  private def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  private def round(x: Double): Double = math.rint(x * 1000) / 1000
}
