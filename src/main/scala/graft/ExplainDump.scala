package graft

import java.nio.file.{Files, Paths}

/** Plan-evidence dump (dev tool): writes `explain("formatted")` output
  * for the headline queries and representative extension operators to a
  * markdown file, so the physical-plan properties claimed in SURVEY §8
  * (broadcast dims, single order-key fact shuffle, TakeOrderedAndProject
  * top-k, partial aggregation, pushed filters, pruned scans) are
  * reviewable without running anything. */
object ExplainDump {
  val picks: Seq[String] = Bench.headline ++ Seq(
    "dedup_minhash_lsh", "ann_cosine_topk", "ann_lsh_buckets",
    "ann_lsh_near_dup_pairs_demo", "text_decontamination", "embedding_quantize",
    "asof_click_attribution", "range_join_click_purchase",
    "quantiles_line_total", "corpus_curation", "salted_brand_revenue",
    "ivf_search", "winnow_overlap_pairs", "dedup_simhash_pairs",
    "winnow_decontamination", "ann_lsh_dedup_pairs", "ivf_cells",
    "heavy_hitter_ngrams", "bloom_decontamination",
    "quantiles_tokens_by_lang", "unpivot_daily_measures",
    "cdc_orders_diff", "events_type_transitions", "events_active_users",
    "monitor_drift_psi", "monitor_mad_anomaly", "profile_tables",
    "embedding_drift", "bm25_search", "basket_pairs", "rfm_segments",
    "skew_diagnosis", "equi_depth_histogram", "revenue_concentration",
    "temperature_mix", "lang_confusion", "funnel_time_to_convert",
    "scd2_pit_orders", "pagerank_nation_trade", "token_budget_exact",
    "fuzzy_name_pairs", "pq_search", "pq_search_rerank",
    "monitor_seasonal_anomaly", "k_anonymity_audit",
    "quantiles_doc_length_weighted",
    "pii_pseudonymize", "pii_referential_rollup",
    "stratified_sample_exact",
    // round-11: the dedup-family rollups, the native-dHash pair op, the
    // served BM25, and the round-10 newcomers the ladder now measures
    "ann_dedup_pair_stats", "ann_dedup_cluster_hist",
    "multimodal_phash", "multimodal_phash_pairs",
    "triangle_count_copurchase", "ivf_delta_assign", "hybrid_rrf_search",
    // round-12: the sampled census, the multi-probe semantic dedup, and
    // the containment op that joined the roster
    "triangle_doulion_copurchase", "semantic_dedup_reps",
    "dedup_containment_pairs",
    // round-13: the shortlist rerank, the streaming phash dedup's
    // batch twin, and the BPE merge-pair scoring pass
    "hybrid_rerank_search", "dedup_stream_phash", "bpe_merge_pairs",
    // round-13 second wave: the full BPE trainer + its two apply
    // surfaces, and the ANN-assisted contrastive miner
    "bpe_train_merges", "bpe_token_histogram",
    "bpe_source_token_accounting", "contrastive_triples",
    "length_bucket_batches", "cluster_balanced_sample",
    "dedup_source_matrix", "pack_sequences_bpe")

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val out = if (args.length > 1) args(1) else "docs/PLANS.md"
    // Optional 3rd arg: comma-separated subset of picks — used to dump a
    // handful of plans against a LARGE corpus (plan compilation is cheap,
    // but the measured-size broadcast gate counts its dim at plan-build
    // time, so an all-picks dump against a 100x rung pays ~70 counts).
    // The sentinel ALL dumps EVERY registered query — the wholesale
    // audit surface (the r16 audit covered only the 80 picks and missed
    // the agg_* COUNT(DISTINCT) Expands for exactly that reason).
    val only = if (args.length > 2)
      if (args(2) == "ALL") Some(SparkEntry.queries.keySet)
      else Some(args(2).split(",").map(_.trim).toSet)
    else None
    // 4 partitions, AQE off: static plans are easier to review, and the
    // partition count is part of every dumped plan's text
    val spark = Sessions.local(cores = 4, shufflePartitions = 4)

    val sb = new StringBuilder
    sb.append("# Physical plans (generated by `runMain graft.ExplainDump`)\n\n")
    sb.append(s"Input: `$sfDir`, shuffle.partitions=4, AQE off (static plans are\n")
    sb.append("easier to review; AQE only re-optimizes at runtime).\n")
    // An explicit filter names ANY registered query (not just the
    // default picks) — e.g. fact_sales for the broadcast-gate evidence.
    val (found, missing) =
      only.map(_.toSeq.sorted).getOrElse(picks)
        .partition(SparkEntry.queries.contains)
    found.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      val formatted = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      sb.append(s"\n## $name\n\n```\n$formatted```\n")
    }
    val p = Paths.get(out)
    if (p.getParent != null) Files.createDirectories(p.getParent)
    Files.writeString(p, sb.toString)
    println(s"wrote ${found.length} plans to $out" +
      (if (missing.nonEmpty) s"; MISSING from SparkEntry.queries: ${missing.mkString(", ")}" else ""))
    if (missing.nonEmpty) { spark.stop(); sys.exit(1) }
    spark.stop()
  }
}
