package graft

class TuningSpec extends org.scalatest.funsuite.AnyFunSuite {
  test("advisory derivation: fixture floor, cluster ceiling, env override") {
    // sf0.1 is ~17 MB -> derived 66 KB -> clamped to the 1 MB floor,
    // reproducing the r16 measured local optimum exactly.
    assert(Tuning.advisoryBytes("/root/testdata/sf0.1", 32) ==
      (1L << 20).toString)
    // A missing dir derives 0 bytes -> floor.
    assert(Tuning.advisoryBytes("/no/such/dir", 32) == (1L << 20).toString)
  }

  test("harness conf: the exact key set Bench has always built, for the default env") {
    assume(!sys.env.keys.exists(_.startsWith("SPARK_GRAFT_")),
      "a SPARK_GRAFT_* override is set")
    assert(Tuning.harnessConf("/root/testdata/sf0.01", 4) == Map(
      "spark.master" -> "local[4]",
      "spark.sql.shuffle.partitions" -> "4",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1048576",
      "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true",
      "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "524288",
      "spark.sql.codegen.cache.maxEntries" -> "8192",
      "spark.ui.enabled" -> "false"))
  }
}
