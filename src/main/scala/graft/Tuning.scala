package graft

import org.apache.spark.sql.SparkSession

/** Every session graft builds, and the harness conf. [[build]] is the one
  * place that calls `SparkSession.builder()`: the harness mains (Bench,
  * Verify, Explain, Profile) build through [[session]], the test session
  * builds [[harnessConf]] through [[build]], and the log tools build their
  * own small conf through it (`graft.cli.LogToolCli.session`). So
  * correctness is proven, and plans and shuffle bytes are measured, under
  * exactly the conf the bench times.
  *
  * None of this conf reaches the log tools' stdout path. `printTo`'s wave
  * plan is scan → filter → project → local sort, with no exchange, so
  * shuffle partitions, AQE and the aggregate/codegen knobs have nothing to
  * act on; its partitioning comes from the scan (`maxPartitionBytes`, open
  * cost, `defaultParallelism`). The physical plan a 2-hour `logcat` wave
  * (`LogQuery.sortedRuns`) ran on the CLI session, local[4], 20,000 lines:
  * {{{
  *   * Sort [timestamp, createTime, blockNumber, lineNumber ASC NULLS FIRST], global=false
  *   +- * Project [timestamp, createTime, blockNumber, lineNumber,
  *   |             concat(format_log_date(timestamp, RFC5424, UTC), ' ', message) AS formatted]
  *      +- * Filter isnotnull(formatted)
  *         +- BatchScan boom [2 files, pushdown=BoomPushdown(1709287200000,1709294400000,Vector(),true)]
  * }}}
  * The log tools therefore keep their own small conf rather than the
  * harness's; only `--out`'s range sort shuffles, into the CLI's 32
  * partitions.
  */
object Tuning {

  /** The harness session: [[harnessConf]] on `local[$SPARK_GRAFT_CPUS]`
    * (default 4), log level WARN.
    */
  def session(sfDir: String): SparkSession =
    build(harnessConf(sfDir, sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt), "WARN")

  /** The session for `conf`, or the JVM's existing one with `conf`'s
    * runtime keys applied; its log level set to `logLevel`.
    */
  def build(conf: Map[String, String], logLevel: String): SparkSession = {
    val spark = SparkSession.builder().config(conf).getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
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
    * shuffle-partition count.
    *
    * The generated-class cache holds 8192 entries (Spark's static default
    * is 100 per generator). The query surface compiles far more than 100
    * codegen units per generator (286 queries × several whole-stage/
    * projection/ordering units each), so at the default the cache thrashes
    * and every repetition pays Janino compilation again (~10-50 ms per
    * unit of driver time); 8192 holds the whole surface at tens of MB. It
    * is a static conf, so it must be set at session build.
    *
    * ObjectHashAggregate falls back to a sort-based aggregate after 524288
    * in-memory keys (Spark default 128). The collect_list/top-k aggregates
    * behind the text/similarity pipelines see 10⁴-10⁵ groups per task, so
    * at the default every such stage degenerates to an external TimSort of
    * its whole input: an interleaved A/B measured 1.07-1.13× on the five
    * heaviest aggregate queries from raising it, and a sweep over the
    * serial census queries picked 524288 over 131072 (q_dup_threshold
    * 1.66 → 1.28 s, q_ngram_jaccard 1.14 → 0.94 s; 2M re-regressed
    * q_minhash_dupes). A task that exceeds it still falls back mid-stream.
    */
  def harnessConf(sfDir: String, cpus: Int): Map[String, String] = Map(
    "spark.master" -> s"local[$cpus]",
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> advisoryBytes(sfDir, cpus),
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true",
    "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "524288",
    "spark.sql.codegen.cache.maxEntries" -> "8192",
    "spark.ui.enabled" -> "false")

  /** AQE advisory partition size, DERIVED from the input footprint so it is
    * scale-safe at both ends (r17; guide §2.2).
    *
    * r16 shipped a constant `1m` because that won the sf0.1 sweep
    * (1m 19.8 s < 256k 21.6 < 4m 22.7 < 64m 23.5 on the 17-query probe
    * set — larger advisories serialize tiny-byte CPU-heavy reduce stages),
    * but a constant tuned to a 17 MB fixture would give a production
    * cluster 1 MB reduce partitions and quadratic shuffle-block growth.
    * `totalInputBytes / (8 × cores)` targets ≥8 reduce waves per core over
    * a full-input shuffle, clamped to [1 MB, 128 MB]: the floor reproduces
    * the measured local optimum on the sub-100 MB fixtures (sf0.1 derives
    * ~66 KB → 1 MB), the ceiling lands in the guide's 100 MB–1 GB band
    * once inputs are cluster-scale (100 TB on 512 cores derives 24 GB →
    * 128 MB).
    */
  def advisoryBytes(sfDir: String, cpus: Int): String = {
    val derived = inputBytes(sfDir) / math.max(1L, 8L * cpus)
    val mb = 1L << 20
    math.max(mb, math.min(128L * mb, derived)).toString
  }

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
