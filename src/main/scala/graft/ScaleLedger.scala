package graft

/** Measured sf0.1 → sf1 scale rows for every HEADLINE query — the
  * machine-readable form of the PLANS.md scale table, so the suite can
  * LINT that no scale-sensitive query ships without a measured 10×
  * row (the r17 verdict's "scale-row discipline as a lint").
  *
  * Measured by the `scale` mode of [[graft.tools.Profile]] (one warm-up
  * + one timed run per sf on a quiet 32-cpu box; sf1 is the
  * [[ScaleSmoke]] workload-shape-preserving synthetic). Rows are (sf0.1 sec, sf1 sec). Ratios near 1 are
  * fixed-cost-dominated; ratios near 10 are linear in the data; the
  * interesting band is what sits far ABOVE 10 (superlinear — a design
  * bug) — nothing does.
  *
  * Rows are STEADY-STATE as of r19: the scale rows warm BOTH scales before
  * timing (the r18 rows folded the first index build / cache fill into
  * the sf1 number — q159_serve read 19.6× when its steady-state serve
  * is flat; the cold first-run number is still printed by that mode as
  * `sf1_cold_sec` so build-cost regressions stay visible, e.g. r19
  * capture: q172_gate cold 26.4 s / steady 3.1 s, q159_serve cold
  * 5.1 s / steady 0.26 s).
  *
  * Known measurement shapes (not regressions):
  *  - q250_power_iteration runs the driver-resident loop at both
  *    scales (collect-bound; the distributed path engages only past
  *    spark.graft.spectral.driverLoopMaxRows);
  *  - the synthetic sf1 documents table carries ~29× sf0.1's TEXT BYTES
  *    (854 vs 297 chars/doc), so text-mass-bound rows (q260) overstate
  *    the 10× ratio by ~3×.
  *
  * Round-18 capture (2026-08-16), rows re-measured r19 where the
  * operator changed (graph ops, quantiles, Rake/stump text kernels,
  * q419 heights, index build/serve splits). Update rows when an
  * operator's plan changes materially; the lint only enforces
  * PRESENCE + sanity, not staleness. */
object ScaleLedger {

  final case class Row(sf01Sec: Double, sf1Sec: Double) {
    def ratio: Double = if (sf01Sec > 0) sf1Sec / sf01Sec else Double.NaN
  }

  val rows: Map[String, Row] = Map(
    "q01_agg_pricing" -> Row(0.474, 0.544),
    "q05_join_broadcast" -> Row(0.488, 0.536),
    "q06_join_multiway" -> Row(0.905, 1.947),
    "q100_span_dedup" -> Row(0.436, 0.435),
    "q101_mixture_resample" -> Row(0.208, 0.202),
    "q102_heavy_hitters" -> Row(0.611, 1.293),
    "q103_knn_ivfpq" -> Row(1.777, 2.867),
    "q104_store_compact" -> Row(1.744, 6.524),
    "q105_store_skipping" -> Row(1.148, 1.892),
    "q106_token_budget_mix" -> Row(1.058, 1.327),
    "q107_embed_pool" -> Row(0.326, 0.373),
    "q10_budget_window" -> Row(0.378, 0.668),
    "q118_streaming_ingest" -> Row(2.203, 3.044),
    "q122_pipeline_e2e" -> Row(0.399, 0.609),
    "q131_bloom_pruned_join" -> Row(0.594, 1.045),
    "q155_pagerank" -> Row(4.316, 7.156),
    "q159_build" -> Row(4.519, 5.193),
    "q159_serve" -> Row(0.257, 0.264),
    "q164_pmi_collocations" -> Row(0.439, 1.342),
    "q172_gate" -> Row(2.268, 3.066),
    "q172_sync" -> Row(8.719, 11.341),
    "q183_audit_pipeline" -> Row(1.261, 2.743),
    "q202_record_linkage" -> Row(0.143, 0.152),
    "q209_entity_groups" -> Row(0.449, 0.819),
    "q226_boilerplate_segments" -> Row(0.161, 0.191),
    "q23_asof_join" -> Row(0.202, 0.292),
    "q24_sessionize" -> Row(0.319, 0.511),
    "q250_power_iteration" -> Row(0.484, 0.512),
    "q425_dsir_selection" -> Row(1.124, 1.566),
    "q260_rake_keywords" -> Row(1.105, 1.072),
    "q263_decision_stump" -> Row(1.734, 1.928),
    "q276_model_pipeline" -> Row(5.034, 6.003),
    "q27_skew_salted_join" -> Row(0.488, 1.011),
    "q299_quantile_regression" -> Row(3.689, 13.119),
    "q30_knn_exact" -> Row(0.225, 0.375),
    "q32_knn_join_agg" -> Row(0.240, 0.261),
    "q33_knn_ivf" -> Row(1.210, 3.958),
    "q35_neardup_embedding" -> Row(0.267, 0.582),
    "q398_chat_turn" -> Row(2.610, 2.629),
    "q41_dedup_ngram_jaccard" -> Row(1.693, 4.465),
    "q42_dedup_minhash_lsh" -> Row(0.448, 1.438),
    "q50_hourly_window_stats" -> Row(0.235, 0.506),
    "q52_tpch_q3_topk" -> Row(0.526, 1.815),
    "q60_rag_retrieval" -> Row(0.858, 0.973),
    "q64_ingest_embed_1536" -> Row(1.773, 6.385),
    "q65_tfidf" -> Row(1.066, 2.065),
    "q67_hybrid_rrf" -> Row(0.632, 0.885),
    "q82_knn_hnsw" -> Row(1.096, 2.985),
    "q85_dedup_clusters" -> Row(1.548, 3.548),
    "q86_pack_sequences" -> Row(0.517, 0.656),
    "q89_knn_quantized" -> Row(0.348, 0.742),
    "q93_dedup_incremental" -> Row(0.822, 1.324),
    "q94_semantic_dedup" -> Row(1.230, 6.412),
    "q95_knn_pq" -> Row(0.438, 0.952),
    "q96_lm_surprisal" -> Row(0.163, 0.186),
    "q97_domain_mix" -> Row(0.745, 1.343),
    // non-headline rows worth carrying (r18 additions)
    "q419_avi_scene_deltas" -> Row(0.238, 0.24),
    "q420_mjpeg_scene_cuts" -> Row(6.712, 20.851),
    "q421_grouped_quantiles" -> Row(0.798, 1.596))
}
