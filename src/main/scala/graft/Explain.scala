package graft
import java.nio.file.{Files, Paths}

/** Optimization-round tool: dump `.explain("formatted")` for named
  * registered queries to `<outDir>/<query>_<tag>.txt` so plan-shape claims
  * (Exchange count, join strategy, PushedFilters/ReadSchema) are checkable
  * without running Spark.
  *
  * Usage: `runMain graft.Explain <sfDir> <outDir> <tag> [query ...]`
  * (no query names = every registered query). Streaming-harness queries
  * drive a MemoryStream inside the builder, so their batch plan is not
  * capturable this way; they are skipped with a note in the file.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: Explain <sfDir> <outDir> <tag> [query ...]")
    val Array(sfDir, outDir, tag) = args.take(3)
    val queries = SparkEntry.queries
    val names =
      if (args.length > 3) args.drop(3).toSeq
      else queries.keys.toSeq.sorted
    val unknown = names.filterNot(queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val spark = Tuning.session(sfDir)
    Files.createDirectories(Paths.get(outDir))
    names.foreach { name =>
      val out = Paths.get(s"$outDir/${name}_$tag.txt")
      try {
        val df = queries(name)(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.writeString(out, plan)
        System.err.println(s"[explain] $name -> $out")
      } catch {
        case e: Throwable =>
          Files.writeString(out,
            s"(plan capture failed for $name: ${e.getClass.getName}: ${e.getMessage})\n")
          System.err.println(s"[explain] $name FAILED: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
