package graft

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** `Profile` records: the listener counts separate shuffling from narrow
  * queries, streaming progress is complete, and every record is one JSON
  * object carrying every field.
  */
class ProfileSpec extends SparkTestBase {
  private val fields = Seq("q", "rep", "construct_s", "optimize_s", "plan_s",
    "execute_s", "jobs", "stages", "tasks", "task_s", "shuffle_write_mb",
    "shuffle_read_mb", "job_detail", "stage_detail", "stream_progress")

  private def profile(q: String)(build: => org.apache.spark.sql.DataFrame): JsonNode = {
    val profiler = new Profile.Profiler(spark)
    val line = try profiler.record(q, 1)(build) finally profiler.close()
    assert(!line.contains("\n"))
    val r = new ObjectMapper().readTree(line)
    assert(fields.filterNot(r.has) === Nil)
    assert(r.get("q").asText === q)
    r
  }

  test("a repartition reports its exchange; a narrow query reports none") {
    val wide = profile("wide")(spark.range(200000L).repartition(4).toDF())
    assert(wide.get("stages").asInt >= 2)
    assert(wide.get("shuffle_write_mb").asDouble > 0)
    assert(wide.get("shuffle_read_mb").asDouble > 0)
    assert(wide.get("stage_detail").size === wide.get("stages").asInt)
    assert(wide.get("job_detail").size === wide.get("jobs").asInt)

    val narrow = profile("narrow")(spark.range(200000L).selectExpr("id * 2 AS x"))
    assert(narrow.get("jobs").asInt >= 1)
    assert(narrow.get("shuffle_write_mb").asDouble === 0.0)
    assert(narrow.get("shuffle_read_mb").asDouble === 0.0)
    assert(narrow.get("stream_progress").size === 0)
  }

  test("a MemoryStream query's record carries its micro-batch progress") {
    val r = profile("stream") {
      implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
      import spark.implicits._
      val in = MemoryStream[Long]
      val q = in.toDS().writeStream.format("noop").start()
      try {
        in.addData(1L, 2L); q.processAllAvailable()
        in.addData(3L); q.processAllAvailable()
      } finally q.stop()
      spark.range(1).toDF()
    }
    assert(r.get("stream_progress").size >= 1)
    assert(r.get("stream_progress").get(0).has("batchId"))
  }

  test("measure returns the shuffle bytes of the body only") {
    val (w, r) = Profile.measure(spark) {
      spark.range(200000L).repartition(4).write.format("noop").mode("overwrite").save()
    }
    assert(w > 0 && r > 0)
    val (w0, r0) = Profile.measure(spark) {
      spark.range(1000L).write.format("noop").mode("overwrite").save()
    }
    assert((w0, r0) === ((0L, 0L)))
  }
}
