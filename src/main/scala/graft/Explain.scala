package graft

/** Dev tool: print the formatted physical plan (and optionally time an
  * action) for one named query — `runMain graft.Explain <name> [sfDir]` —
  * or audit every headline query's *executed* (AQE-final) plan into a
  * markdown artifact: `runMain graft.Explain --audit PLANS.md [sfDir]`. */
object Explain {

  /** The plan-review set: the queries whose physical shape carries the
    * 100-TB argument (joins broadcast vs shuffled, window vs hash agg,
    * pair joins bounded, native kernels codegen'd). */
  val headline: Seq[String] = Seq(
    "s1_scan_filter_agg", "s3_partitioned_scan", "j1_inner_join",
    "j2_left_join_dim", "j10_salted_join", "a0_groupagg_wide",
    "a4_argmin_per_group", "a12_topn_per_group", "o3_topk",
    "dedup_exact", "dedup_ngram_jaccard", "dedup_minhash_lsh",
    "dedup_simhash_neardup", "sim_cosine_topk", "sim_lsh_neardup",
    "text_tf_cosine_neardup", "k1_featurize_condagg", "k2_pelt_agg",
    "j13_merge_upsert", "sim_sq8_topk", "x19_zorder_key",
    "curate_end_to_end", "j14_range_join", "j15_bucketed_join",
    "x20_sessionize", "j16_snapshot_diff", "sim_pq_topk",
    "qc_expectations", "x21_rolling_window", "j17_scd2_history",
    "j18_pit_join", "sim_ivfpq_topk",
    "x22_contiguous_ids", "text_tfidf_top_terms",
    "text_fuzzy_multipass", "text_bm25_topdocs", "text_bigram_nll",
    "x24_group_trend", "text_contamination_score", "x25_robust_scale",
    "x26_ref_percentile", "dedup_cluster_rep", "curate_shard_assign",
    "text_span_crossdup", "text_span_coverage", "curate_mix_weights",
    "a21_mode_per_group", "x27_funnel", "x28_concurrency",
    "j19_asof_forward", "x29_retention", "x30_transitions",
    "text_pmi_bigrams", "dedup_incremental")

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("--audit")) { audit(args); return }
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val spark = Harness.session("graft-explain", Harness.cpus(8))
    val df = SparkEntry.queries(name)(spark, sfDir)
    df.explain("formatted")
    val t0 = System.nanoTime()
    val n = df.count()
    println(f"[explain] $name: $n rows in ${(System.nanoTime() - t0) / 1e9}%.2f s (first run)")
    val t1 = System.nanoTime()
    df.count()
    println(f"[explain] $name: second run ${(System.nanoTime() - t1) / 1e9}%.2f s")
    spark.stop()
  }

  private def audit(args: Array[String]): Unit = {
    val outFile = if (args.length > 1) args(1) else "PLANS.md"
    val sfDir = if (args.length > 2) args(2) else "/root/testdata/sf0.01"
    val spark = Harness.session("graft-explain", Harness.cpus(8))
    val sb = new StringBuilder
    sb ++= "# Physical plan audit (generated by `runMain graft.Explain --audit`)\n\n"
    sb ++= s"Executed (AQE-final) plans for the headline queries at `$sfDir`.\n"
    sb ++= "`*(n)` prefixes mark operators fused into WholeStageCodegen stage n.\n"
    sb ++= "PlanSpec pins the load-bearing properties (broadcasts, pushdown,\n"
    sb ++= "pruning, top-k fusion, native kernels in codegen stages) in CI.\n"
    val written = Harness.eachQuery(spark, Some(headline.toSet)) { (name, fn) =>
      val df = fn(spark, sfDir)
      df.collect() // finalize the adaptive plan
      // elide embedded binary literals (serialized bloom filters print
      // as ~500KB of hex per occurrence — unreadable and megabytes of
      // artifact for zero audit value; the OPERATOR, might_contain,
      // stays visible)
      val plan = df.queryExecution.executedPlan.toString.trim
        .replaceAll("0x[0-9A-Fa-f]{64,}", "0x<binary literal elided>")
      sb ++= s"\n## $name\n\n```\n$plan\n```\n"
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(outFile),
      sb.toString.getBytes("UTF-8"))
    println(s"[explain] wrote ${written.size} plans to $outFile")
    spark.stop()
  }
}
