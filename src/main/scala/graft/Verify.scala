package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: <sfDir> <outDir> [queryName ...] — trailing names (local
    // iteration only; the driver passes two args) restrict the dump.
    val Array(sfDir, outDir) = args.take(2)
    val only: Option[Set[String]] = if (args.length > 2) Some(args.drop(2).toSet) else None
    val spark = Tuning.session(sfDir)
    new java.io.File(outDir).mkdirs()
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // oracle_sql.json is written BEFORE the dumps: a wall-clock/OOM kill
    // mid-dump then leaves a valid oracle file plus the partial dumps
    // already on disk, so the driver's compare reports partial rows
    // instead of the r14 failure mode (empty {} for a green surface).
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Resumable: a query whose dump dir already carries _SUCCESS is
    // skipped (set SPARK_GRAFT_FORCE=1 to redo), so a re-run after a
    // timeout continues where the killed run stopped.
    val force = sys.env.get("SPARK_GRAFT_FORCE").contains("1")
    val queries = SparkEntry.queries
    val names = queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    val t0 = System.nanoTime()
    names.foreach { name =>
      val done = Files.exists(Paths.get(s"$outDir/$name/_SUCCESS"))
      if (done && !force) System.err.println(s"[verify] $name: cached, skip")
      else {
        val tq = System.nanoTime()
        try {
          queries(name)(spark, sfDir).coalesce(1)
            .write.mode("overwrite").parquet(s"$outDir/$name")
          System.err.println(f"[verify] $name: ${(System.nanoTime() - tq) / 1e9}%.1fs" +
            f" (total ${(System.nanoTime() - t0) / 1e9}%.0fs)")
        } catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
      }
    }
    spark.stop()
  }
}
