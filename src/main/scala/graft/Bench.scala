package graft
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Benchmark main: times every SparkEntry query end-to-end at
  * SPARK_GRAFT_SF_DIR. Each query executes against the `noop` sink — a real
  * write of every result row — so Catalyst cannot optimize away sorts or
  * column projections the way it can under `count()` (which prunes to zero
  * columns and drops top-level ordering). The one-line JSON result goes to
  * stdout AND to bench_result.json (override with SPARK_GRAFT_BENCH_JSON) so
  * harnesses don't have to fish it out of build-tool log prefixes.
  *
  * Measurement protocol (contention-hardened):
  *  - Reps are INTERLEAVED round-robin across queries (sweep 1 runs every
  *    query once, then sweep 2, ...) instead of back-to-back per query. A
  *    transient host-load spike then inflates one sweep's samples for many
  *    queries — which the per-query MEDIAN discards — rather than all reps
  *    of whichever single query was unlucky enough to be running (the
  *    failure mode that produced a 12s median for a 0.2s query when the
  *    host was contended during one query's rep block).
  *  - A fixed CPU-bound calibration micro-query runs at the start of every
  *    sweep and its per-sweep times are emitted as "calibration_sec" in the
  *    JSON. On an idle host it is flat (~tens of ms); inflated or erratic
  *    calibration rows tell the reader the host was contended and the sweep
  *    totals are not comparable round-over-round.
  *  - The calibration gate is BINDING (round-9 lesson: a self-diagnosed
  *    contaminated bench shipped as the round's number): if the calibration
  *    median exceeds 1.5× the known idle floor (SPARK_GRAFT_CAL_FLOOR,
  *    default 0.12 s on this host), the whole timed phase re-runs — up to
  *    SPARK_GRAFT_CAL_RETRIES (default 2) extra attempts — and the attempt
  *    with the LOWEST calibration median is the one shipped, with
  *    "cal_attempts" recording how many ran.
  *  - Per-query failure counts are emitted as a "failed" map (omitted when
  *    empty), counting ONLY the shipped attempt's timed runs — failures in
  *    discarded contended attempts or the untimed warmup pass go to stderr
  *    but not the JSON, so the counts always describe the same runs the
  *    durations do. A failed run contributes NO duration sample; a query
  *    whose runs all fail reports -1 so it can never masquerade as "fast".
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Tuning.session(sfDir)
    // Warm up session machinery (parquet reader init, codegen compiler, JIT)
    // so the first timed query doesn't absorb one-time costs.
    spark.range(1000000L).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$sfDir/region.parquet").count()
    // One untimed run per query first (codegen compile, file-listing and
    // shuffle-file warmup), then MEDIAN of `reps` timed runs — a single
    // timed execution leaves sub-second queries ±30% noisy (cold-cache and
    // host-load spikes dominated round-over-round comparisons), and the
    // median is robust to a one-off straggler where the mean is not. The
    // per-query minimum is reported alongside as the load-independent floor.
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    // Variance-prone queries (sub-second, JIT/GC-sensitive — the set whose
    // med/min spread exceeded 1.5x across rounds) get extra reps so the
    // median stops relitigating host noise round over round.
    val extraReps: Set[String] = Set(
      "q_dateformat", "q_repetition", "q_bpe_merges", "q_ann_lsh",
      "q_semantic_dedup", "q_winnow_fingerprints", "q_knn_graph",
      "q_containment", "q_range_join", "q_boilerplate_spans",
      "q_dedup_clusters", "q_sort_global", "q_kcenter_sample",
      "q_knn_graph_sharded")
    // Local-iteration filter: SPARK_GRAFT_BENCH_ONLY=q_a,q_b times just
    // those queries. Unset (the driver's invocation) → the full set.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val queries: Seq[(String, (SparkSession, String) => org.apache.spark.sql.DataFrame)] =
      SparkEntry.queries.toSeq
        .filter { case (name, _) => only.forall(_.contains(name)) }
    val repsFor: String => Int = n => if (extraReps(n)) math.max(reps, 5) else reps
    val maxReps = if (queries.isEmpty) 0 else queries.map(t => repsFor(t._1)).max

    def run(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
        failures: scala.collection.mutable.Map[String, Int]): Boolean =
      try {
        spark.sparkContext.setJobDescription(name) // guide §1.5: label jobs
        fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true
      }
      catch {
        case e: Throwable =>
          System.err.println(s"[bench] $name failed: $e")
          failures(name) += 1
          false
      }
    def newFailMap() =
      scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
    // Untimed warmup pass (codegen compile + file listing), in query order.
    // Warmup failures are stderr-only — the shipped "failed" map pairs with
    // the shipped attempt's durations and nothing else.
    locally { val w = newFailMap(); queries.foreach { case (name, fn) => run(name, fn, w) } }
    // Fixed CPU-bound sentinel: deterministic work, no I/O, no shuffle — its
    // only round-over-round variable is host CPU availability.
    def calibrate(): Double = {
      val t0 = System.nanoTime()
      spark.range(4000000L).selectExpr("bit_xor(xxhash64(id))").collect()
      (System.nanoTime() - t0) / 1e9
    }
    // Streaming sentinel: a trivial 2-batch MemoryStream no-op. The CPU
    // sentinel is blind to the contention mode that actually inflated the
    // r14 official capture — the streaming-law queries are micro-batch-
    // MACHINERY-bound (per-batch planning, offset/commit log writes, task
    // round-trips), which degrades under scheduler latency while pure CPU
    // work stays flat. This measures exactly that machinery and nothing
    // else (no state, no shuffle), so its round-over-round variance is
    // host scheduling, not data.
    def calibrateStream(): Double = {
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      import spark.implicits._
      val in = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[Long]
      val t0 = System.nanoTime()
      val q = in.toDS().writeStream.format("noop").start()
      try {
        in.addData(1L, 2L); q.processAllAvailable()
        in.addData(3L); q.processAllAvailable()
      } finally q.stop()
      (System.nanoTime() - t0) / 1e9
    }
    calibrate() // untimed: absorb sentinel JIT so recorded rows measure host load only
    calibrateStream()
    def timedPhase(): (Map[String, List[Double]], List[Double], List[Double], Map[String, Int]) = {
      val s = scala.collection.mutable.Map.empty[String, List[Double]]
        .withDefaultValue(Nil)
      val fails = newFailMap()
      val cal = scala.collection.mutable.ListBuffer.empty[Double]
      val scal = scala.collection.mutable.ListBuffer.empty[Double]
      for (sweep <- 1 to maxReps) {
        cal += calibrate()
        scal += calibrateStream()
        queries.foreach { case (name, fn) =>
          if (sweep <= repsFor(name)) {
            val t0 = System.nanoTime()
            val ok = run(name, fn, fails)
            val dt = (System.nanoTime() - t0) / 1e9
            if (ok) s(name) = dt :: s(name)
          }
        }
      }
      (s.toMap.withDefaultValue(Nil), cal.toList, scal.toList, fails.toMap)
    }
    def median(xs: List[Double]): Double = {
      val s = xs.sorted; if (s.isEmpty) -1.0 else s(s.length / 2)
    }
    // Binding calibration gate: re-run the timed phase while the sentinel
    // says the host is contended; ship the least-contended attempt.
    // The floor is the pinned IDLE sentinel for this host. History: 0.12
    // (from BENCH_r10's 0.074-0.120 idle range) let round 13 ship a
    // capture whose sentinel median was 0.115 s — DOUBLE round 12's
    // 0.057 s idle reading — under the 1.5x trip-wire, and every
    // untouched query read 1.3-1.8x slower (pure host contention). So:
    // (a) the floor now pins to the MEASURED idle median of the r12
    // capture (0.06 s; trip-wire 1.5x = 0.09 s), and (b) the JSON also
    // carries cal_median plus value_normalized = value / max(1,
    // cal_median/floor) — a sentinel-deflated total that stays
    // cross-round comparable even when every retry is contended and the
    // gate has no clean attempt to choose. Raw value remains the
    // headline; the normalized one is the contention-corrected reading.
    // Override via SPARK_GRAFT_CAL_FLOOR only if the HOST changes.
    val calFloor = sys.env.getOrElse("SPARK_GRAFT_CAL_FLOOR", "0.06").toDouble
    // The streaming sentinel's own idle floor (measured on this host:
    // ~0.25-0.35 s for start + 2 no-op batches + stop). Its trip-wire is
    // the same 1.5x convention; the two sentinels gate INDEPENDENTLY —
    // the r14 blind spot was a capture whose CPU sentinel passed while
    // the micro-batch machinery ran far above replay numbers.
    val streamCalFloor =
      sys.env.getOrElse("SPARK_GRAFT_STREAM_CAL_FLOOR", "0.35").toDouble
    val maxAttempts =
      1 + sys.env.getOrElse("SPARK_GRAFT_CAL_RETRIES", "2").toInt
    var attempts = 0
    var samplesChosen: Map[String, List[Double]] = Map.empty.withDefaultValue(Nil)
    var calibration: List[Double] = Nil
    var streamCalibration: List[Double] = Nil
    var failed: Map[String, Int] = Map.empty
    var bestScore = Double.MaxValue
    def contended = bestScore > 1.0
    while (attempts < maxAttempts && (attempts == 0 || contended)) {
      val (s, cal, scal, f) = timedPhase()
      val m = median(cal)
      val sm = median(scal)
      // Attempt score: the worse of the two sentinels' trip-wire ratios —
      // an attempt is clean only when BOTH families were idle-class.
      val score = math.max(m / (1.5 * calFloor), sm / (1.5 * streamCalFloor))
      if (score < bestScore) {
        bestScore = score; samplesChosen = s
        calibration = cal; streamCalibration = scal; failed = f
      }
      attempts += 1
      if (contended && attempts < maxAttempts)
        System.err.println(f"[bench] sentinel trip: cpu ${m}%.3f s " +
          f"(floor $calFloor%.3f) / stream ${sm}%.3f s " +
          f"(floor $streamCalFloor%.3f) - host contended, re-running")
    }
    val samples = samplesChosen
    val results: Seq[(String, (Double, Double))] = queries.map { case (name, _) =>
      val times = samples(name).sorted
      if (times.isEmpty) name -> ((-1.0, -1.0))
      else name -> ((times(times.length / 2), times.head))
    }
    // Harness-capture contract: the driver keeps only the LAST ~2000
    // characters of stdout, and at ~100 queries even a millisecond-precision
    // single line runs ~2400 chars — it truncates MID-LINE and the captured
    // artifact fails to parse (round 5's BENCH artifact was "parsed": null).
    // So: the full-precision two-map JSON goes to the file; stdout prints
    // the full medians line FIRST (losing its head under truncation is
    // fine), then a LAST line guaranteed to fit the window — totals plus
    // med AND min for as many of the slowest queries as fit a fixed char
    // budget — so a tail capture always ends with one complete, parseable
    // JSON line carrying the headline number.
    def fmt(d: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, d)
    def toJson(sel: ((Double, Double)) => Double, f: Double => String): String =
      results.map { case (k, v) => s"\"" + k + "\":" + f(sel(v)) }.mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.map(_._2._1).filter(_ >= 0).sum else 0.0
    val calJson = calibration.map(fmt).mkString("[", ",", "]")
    val streamCalJson = streamCalibration.map(fmt).mkString("[", ",", "]")
    val streamCalMedian = median(streamCalibration)
    // Contention-corrected total: deflate by how far the shipped
    // attempt's sentinel median sits above the TRIP-WIRE (1.5 × floor),
    // not the floor itself — honest idle jitter inside the wire (the
    // floor-to-wire band is exactly the tolerated idle variance) must
    // not deflate the reading; only captures the gate itself would call
    // contended get corrected. Never inflates. PER-FAMILY: streaming
    // queries deflate by the STREAMING sentinel's ratio and everything
    // else by the CPU sentinel's — the r14 blind spot was precisely a
    // capture where the CPU sentinel was clean while the micro-batch
    // machinery ran 3-6× replay numbers, and a CPU-only normalization
    // would have shipped the inflated streaming family uncorrected.
    val calMedian = median(calibration)
    val cpuDeflate =
      if (calMedian > 0) math.max(1.0, calMedian / (1.5 * calFloor)) else 1.0
    val streamDeflate =
      if (streamCalMedian > 0)
        math.max(1.0, streamCalMedian / (1.5 * streamCalFloor))
      else 1.0
    val normalized = results.map { case (name, (med, _)) =>
      if (med < 0) 0.0
      else med / (if (name.startsWith("q_stream")) streamDeflate else cpuDeflate)
    }.sum
    val failJson =
      if (failed.isEmpty) ""
      else failed.toSeq.sortBy(_._1).map { case (k, v) => "\"" + k + "\":" + v }
        .mkString(""","failed":{""", ",", "}")
    val normJson = s""""value_normalized":${fmt(normalized)},"cal_median":${fmt(calMedian)},"cal_floor":${fmt(calFloor)},"stream_cal_median":${fmt(streamCalMedian)},"stream_cal_floor":${fmt(streamCalFloor)},"stream_calibration_sec":$streamCalJson"""
    val json = s"""{"metric":"total","value":${fmt(total)},"unit":"sec",$normJson,"calibration_sec":$calJson,"cal_attempts":$attempts$failJson,"queries":${toJson(_._1, fmt)},"sf":"$sfDir"}"""
    val fullJson = s"""{"metric":"total","value":$total,"unit":"sec",$normJson,"calibration_sec":$calJson,"cal_attempts":$attempts$failJson,"queries":${toJson(_._1, _.toString)},"queries_min":${toJson(_._2, _.toString)},"sf":"$sfDir"}"""
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_JSON", "bench_result.json")
    Files.writeString(Paths.get(outPath), fullJson + "\n")
    val slowest = results.sortBy(-_._2._1)
    val budget = 1200 // chars for the two top-K maps; line overhead + calibration is ~350
    var used = 0
    val topK = slowest.takeWhile { case (k, (m, mn)) =>
      used += 2 * k.length + fmt(m).length + fmt(mn).length + 8
      used <= budget
    }
    def mapJson(xs: Seq[(String, Double)]): String =
      xs.map { case (k, v) => "\"" + k + "\":" + fmt(v) }.mkString("{", ",", "}")
    val compact = s"""{"metric":"total","value":${fmt(total)},"unit":"sec",$normJson,"n_queries":${results.size},"calibration_sec":$calJson,"cal_attempts":$attempts$failJson,"queries":${mapJson(topK.map(t => t._1 -> t._2._1))},"queries_min":${mapJson(topK.map(t => t._1 -> t._2._2))},"queries_omitted":${results.size - topK.size},"full":"$outPath","sf":"$sfDir"}"""
    println(json)
    println(compact)
    spark.stop()
  }
}
