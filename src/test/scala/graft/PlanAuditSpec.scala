package graft

/** Plan-level audits on representative queries: column pruning reaches
  * the parquet scan, and the heaviest queries stay within their recorded
  * shuffle bytes. The whole-surface check that no registered query plans a
  * CartesianProduct lives in [[PlanInvariantsSpec]], which plans every
  * query once.
  */
class PlanAuditSpec extends SparkTestBase {

  test("column pruning reaches the parquet scan on representative queries") {
    // A scan that reads all columns for a 2-column projection is wrong at
    // any scale; these queries each need only a subset of `documents`.
    val dir = "/root/testdata/sf0.001"
    val expected = Map(
      "q_token_count" -> Set("doc_id", "text"),
      "q_readability" -> Set("doc_id", "text"),
      "q_dedup_exact" -> Set("doc_id", "text"),
      "q_stratified_sample" -> Set("doc_id", "lang"),
      "q_lang_stats" -> Set("lang", "n_chars"),
      "q_script_mix" -> Set("doc_id", "text"),
      "q_self_bleu" -> Set("doc_id", "text"),
      "q_sentence_align" -> Set("doc_id", "text"),
      "q_doremi" -> Set("doc_id", "lang"),
      "q_pav_calibrate" -> Set("doc_id"),
      "q_f1_threshold" -> Set("doc_id"),
      "q_chi2_terms" -> Set("doc_id", "source", "text"),
      "q_pareto_front" -> Set("doc_id", "text"),
      "q_rouge_decontaminate" -> Set("doc_id", "text"),
      "q_shard_plan" -> Set("doc_id", "text"),
      "q_dirichlet_ql" -> Set("doc_id", "text"),
      "q_burstiness" -> Set("doc_id", "text"),
      "q_kl_sources" -> Set("source", "text"),
      "q_retrieval_eval" -> Set("doc_id", "text"),
      "q_hits" -> Set("doc_id"),
      "q_kappa" -> Set("doc_id", "lang"),
      "q_table_profile" -> Set("doc_id", "source", "lang", "n_chars"),
      "q_vocab_coverage" -> Set("text"),
      "q_prf_expand" -> Set("doc_id", "text"),
      "q_length_buckets" -> Set("text"),
      "q_luhn_scan" -> Set("doc_id", "text"),
      "q_ks_test" -> Set("doc_id", "n_chars"),
      "q_auc" -> Set("doc_id"),
      "q_calibration" -> Set("doc_id"),
      "q_dup_threshold_curve" -> Set("doc_id", "text"),
      "q_cluster_agreement" -> Set("doc_id", "lang"),
      "q_rake" -> Set("doc_id", "text"),
      "q_trimmed_mean" -> Set("lang", "n_chars"))
    val bad = expected.toSeq.sortBy(_._1).flatMap { case (name, cols) =>
      val scans = SparkEntry.queries(name)(spark, dir)
        .queryExecution.executedPlan.collect {
          case f: org.apache.spark.sql.execution.FileSourceScanExec =>
            f.requiredSchema.fieldNames.toSet
        }
      scans.filterNot(_.subsetOf(cols))
        .map(extra => s"$name reads ${extra -- cols}")
    }
    assert(bad.isEmpty, s"unpruned scans: ${bad.mkString("; ")}")
  }

  test("shuffle-byte budgets: the heaviest queries stay within 3x recorded bytes (sf0.01)") {
    // Profile measures; this asserts. The map records each query's
    // shuffle WRITE megabytes from the r16 full-surface audit at sf0.01
    // (the 10 heaviest of 284) — the ceiling is a generous 3×, so a plan
    // regression (lost pushdown, new exchange, broadcast fallen back to
    // shuffle) fails the build here instead of surfacing as a mystery in
    // the next decade measurement. Re-record deliberately when a query's
    // plan changes on purpose.
    val recordedWriteMb = Map(
      "q_containment_cap_audit" -> 1.2,
      "q_knn_graph_sharded" -> 0.9,
      "q_quality_probe" -> 0.9,
      "q_range_join" -> 0.9,
      "q_slice_overlap" -> 0.9,
      "q_prefix_containment" -> 0.8,
      "q_prefix_jaccard" -> 0.8,
      "q_rawmerge_roundtrip" -> 0.8,
      "q_self_bleu" -> 0.8,
      "q_bitext_mine_lsh" -> 0.6)
    val dir = "/root/testdata/sf0.01"
    val over = recordedWriteMb.toSeq.sortBy(_._1).flatMap { case (name, mb) =>
      val (w, _) = Profile.measure(spark) {
        SparkEntry.queries(name)(spark, dir)
          .write.format("noop").mode("overwrite").save()
      }
      val capBytes = mb * 3 * 1e6
      if (w > capBytes)
        Some(f"$name: ${w / 1e6}%.1f MB shuffled vs cap ${mb * 3}%.1f MB")
      else None
    }
    assert(over.isEmpty, s"shuffle budgets exceeded: ${over.mkString("; ")}")
  }
}
