package graft

import org.scalatest.funsuite.AnyFunSuite

/** Standing plan-shape regression net: EVERY registered query's physical
  * plan, built against the sf0.001 slice, must be free of the node types
  * that cannot survive 100 TB — an unconditioned cross product (the
  * intended broadcast-a-1-row-stats joins plan as
  * BroadcastNestedLoopJoin, which stays legal) and any Python/RDD eval
  * bridge (the repo's no-UDF rule, enforced rather than asserted in
  * prose). A regression that drops a join condition or sneaks a UDF into
  * a hot path fails HERE by name, before any benchmark notices.
  */
class PlanInvariantsSpec extends SparkTestBase {

  private val Forbidden = Seq(
    "CartesianProduct",
    "BatchEvalPython",
    "ArrowEvalPython")

  test("no registered query plans a cartesian product or a Python eval node") {
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$dir/documents.parquet").exists())
    val bad = scala.collection.mutable.ListBuffer.empty[String]
    SparkEntry.queries.foreach { case (name, fn) =>
      val plan =
        try fn(spark, dir).queryExecution.executedPlan.toString
        catch {
          case e: Throwable =>
            bad += s"$name: failed to plan: ${e.getMessage}"
            ""
        }
      Forbidden.filter(plan.contains).foreach { node =>
        bad += s"$name: $node"
      }
    }
    assert(bad.isEmpty, s"plan invariants violated:\n${bad.mkString("\n")}")
  }

  // `queries` and `oracleSql` are derived from `cases`, so no query can
  // lack its oracle; a repeated name, though, would silently drop a case
  // from both maps.
  test("every QueryCase name is registered once") {
    val repeated = SparkEntry.cases.groupBy(_.name).collect {
      case (name, cs) if cs.size > 1 => name
    }
    assert(repeated.isEmpty,
      s"names registered more than once: ${repeated.toSeq.sorted.mkString(", ")}")
  }
}
