package graftbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._

/** One timed call into a layer, recorded by the benchmark around the call. */
final case class Span(id: Int, parent: Int, name: String, query: String,
    startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder; written out once, after the run. Records only
  * while enabled.
  */
final class Tracer {
  var enabled = false
  val spans = ArrayBuffer[Span]()
  private var stack = List(-1)

  def apply[T](name: String, query: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = spans.size
      val parent = stack.head
      spans += null
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        spans(id) = Span(id, parent, name, query, t0, System.nanoTime())
        stack = stack.tail
      }
    }

  /** Span duration minus the time its direct children cover. */
  def selfSeconds(s: Span): Double =
    s.seconds - spans.iterator.filter(_.parent == s.id).map(_.seconds).sum

  def toJson: String = {
    val t0 = if (spans.isEmpty) 0L else spans.map(_.startNs).min
    spans.map { s =>
      f"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","query":"${s.query}",""" +
        f""""start_s":${(s.startNs - t0) / 1e9}%.6f,"end_s":${(s.endNs - t0) / 1e9}%.6f,""" +
        f""""self_s":${selfSeconds(s)}%.6f}"""
    }.mkString("[\n", ",\n", "\n]\n")
  }
}

/** Per-query Spark execution totals, keyed by a job-group style local
  * property that the benchmark sets before each CLI call.
  */
final class ExecCounts {
  var jobs = 0L
  var tasks = 0L
  var taskMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleBytes = 0L
}

final class ExecListener extends SparkListener {
  val Key = "graftbench.query"
  private val stageQuery = new ConcurrentHashMap[Int, String]()
  val byQuery = new ConcurrentHashMap[String, ExecCounts]()

  private def counts(q: String): ExecCounts = byQuery.computeIfAbsent(q, _ => new ExecCounts)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val q = Option(e.properties).map(_.getProperty(Key)).orNull
    if (q != null) {
      val c = counts(q)
      c.synchronized(c.jobs += 1)
      e.stageIds.foreach(stageQuery.put(_, q))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val q = stageQuery.get(e.stageId)
    if (q != null && e.taskMetrics != null) {
      val c = counts(q)
      val m = e.taskMetrics
      c.synchronized {
        c.tasks += 1
        c.taskMs += m.executorRunTime
        c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      }
    }
  }
}

/** Peak live heap: heap in use straight after a full collection, sampled
  * between operations, never inside a timed call.
  */
final class HeapWatch {
  private var peakBytes = 0L

  def sample(): Unit = {
    System.gc()
    peakBytes = math.max(peakBytes, ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed)
  }

  def peakMb: Double = peakBytes / (1024.0 * 1024.0)
}
