package graft

import org.apache.spark.sql.SparkSession

/** The harness session and the conf derivations behind it. Bench, Verify,
  * Explain and Profile all build their session with [[session]], so
  * correctness is proven, and plans and shuffle bytes are measured, under
  * exactly the conf the bench times.
  */
object Tuning {

  /** The harness session: [[harnessConf]] on `local[$SPARK_GRAFT_CPUS]`
    * (default 4), log level WARN.
    */
  def session(sfDir: String): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = SparkSession.builder().config(harnessConf(sfDir, cpus)).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The harness conf for `cpus` local cores over the tables in `sfDir`.
    *
    * AQE partition coalescing SIZES post-shuffle partitions instead of
    * maximizing parallelism (guide §2.2): `parallelismFirst=true` (the
    * Spark default) stops coalescing at 1 MB to keep `defaultParallelism`
    * tasks alive, which leaves reduce tasks far below the advisory size —
    * pure scheduling overhead at sf0.1 (graph queries ran 300-1000
    * near-empty tasks), quadratic shuffle-block growth at cluster scale.
    * The advisory size is derived from the input ([[advisoryBytes]]).
    * Cached-plan coalescing lets AQE coalesce the materialization of
    * persisted frames too: nothing here relies on cached partitioning,
    * and without it every persist site materializes at the raw
    * shuffle-partition count. Each knob keeps its env override.
    */
  def harnessConf(sfDir: String, cpus: Int): Map[String, String] = Map(
    "spark.master" -> s"local[$cpus]",
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.parallelismFirst" ->
      sys.env.getOrElse("SPARK_GRAFT_AQE_PARALLELISM_FIRST", "false"),
    "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> advisoryBytes(sfDir, cpus),
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" ->
      sys.env.getOrElse("SPARK_GRAFT_AQE_CACHED_PLAN", "true"),
    "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> objAggFallbackEntries,
    "spark.sql.codegen.cache.maxEntries" -> codegenCacheEntries,
    "spark.ui.enabled" -> "false")

  /** AQE advisory partition size: env-pinned, else DERIVED from the input
    * footprint so the default is scale-safe at both ends (r17; guide §2.2).
    *
    * r16 shipped a constant `1m` default because that won the sf0.1 sweep
    * (1m 19.8 s < 256k 21.6 < 4m 22.7 < 64m 23.5 on the 17-query probe
    * set — larger advisories serialize tiny-byte CPU-heavy reduce stages),
    * but a constant tuned to a 17 MB fixture is exactly the failure mode
    * inverted: a production cluster inheriting it would get 1 MB reduce
    * partitions and quadratic shuffle-block growth. Deriving from the
    * input removes the constant: `totalInputBytes / (8 × cores)` targets
    * ≥8 reduce waves per core over a full-input shuffle, clamped to
    * [1 MB, 128 MB] — the floor reproduces the measured local optimum on
    * the sub-100 MB fixtures (sf0.1 derives ~66 KB → 1 MB, so the bench
    * numbers are unchanged by construction), the ceiling lands in the
    * guide's 100 MB–1 GB band once inputs are cluster-scale (100 TB on
    * 512 cores derives 24 GB → 128 MB). `SPARK_GRAFT_AQE_ADVISORY_BYTES`
    * still overrides for deployments that know better.
    */
  def advisoryBytes(sfDir: String, cpus: Int): String =
    sys.env.getOrElse("SPARK_GRAFT_AQE_ADVISORY_BYTES", {
      val bytes = inputBytes(sfDir)
      val derived = bytes / math.max(1L, 8L * cpus)
      val mb = 1L << 20
      math.max(mb, math.min(128L * mb, derived)).toString
    })

  /** Generated-class cache capacity (`spark.sql.codegen.cache.maxEntries`;
    * Spark's static default is 100 entries per generator). The query
    * surface compiles far more than 100 distinct codegen units per
    * generator (286 queries × several whole-stage/projection/ordering
    * units each), so at the default size the cache thrashes end-to-end
    * and every repetition of every query pays Janino compilation again
    * (~10-50 ms per unit of pure driver time — guide §1.2's "fixed cost
    * the plan shape can't explain"). 8192 holds the whole surface
    * (generated classes are a few KB of bytecode each, so the cap is tens
    * of MB); a driver running a narrower mix just leaves capacity unused.
    * Static conf — must be set at session build, which [[session]] and
    * the test session do. Env-overridable for deployments that want the
    * Spark default.
    */
  def codegenCacheEntries: String =
    sys.env.getOrElse("SPARK_GRAFT_CODEGEN_CACHE", "8192")

  /** In-memory key budget before ObjectHashAggregate falls back to
    * sort-based aggregation
    * (`spark.sql.objectHashAggregate.sortBased.fallbackThreshold`; Spark
    * default 128). The collect_list/top-k style aggregates behind the
    * text/similarity pipelines routinely see 10⁴-10⁵ groups per task, so
    * at the default every such stage degenerates to an external TimSort
    * of the whole input after the first 128 keys — JFR showed the
    * sorter/comparator mass rivaling the queries' real kernels, and an
    * interleaved A/B measured a consistent 1.07-1.13× on the five
    * heaviest aggregate queries from raising it, and a second sweep
    * over the serial census queries (whose 1-task stages hold the
    * WHOLE group domain) picked 524288 over 131072 (q_dup_threshold
    * 1.66 → 1.28, q_ngram_jaccard 1.14 → 0.94, q_minhash_dupes 1.23 →
    * 1.13 interleaved medians; 2M re-regressed minhash — map growth
    * outruns the sort it avoids). 512k keys × the k-bounded/
    * modest-list buffers these operators carry is low hundreds of MB
    * per task worst-case — inside executor budgets at cluster scale,
    * and a task that does exceed it falls back mid-stream exactly as
    * before (the safety valve is kept, just not hair-triggered).
    * Env-overridable.
    */
  def objAggFallbackEntries: String =
    sys.env.getOrElse("SPARK_GRAFT_OBJ_AGG_FALLBACK", "524288")

  /** Total bytes of the data files under `dir` (non-recursive per-file
    * sizes; parquet tables on the harness fixtures are single files,
    * directory tables are walked one level).
    */
  private def inputBytes(dir: String): Long = {
    val root = new java.io.File(dir)
    val top = Option(root.listFiles()).getOrElse(Array.empty)
    top.map { f =>
      if (f.isFile) f.length()
      else Option(f.listFiles()).getOrElse(Array.empty)
        .filter(_.isFile).map(_.length()).sum
    }.sum
  }
}
