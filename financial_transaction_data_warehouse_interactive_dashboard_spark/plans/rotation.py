"""Rotation ledger — the machine-readable driver-surface history.

The external driver caps its per-round correctness sweep at 50 queries,
so the registry (156 entries, every one oracle-pinned locally by
tests/test_oracle_parity.py) rotates through the surface: each round a
batch of never-driver-checked entries is promoted (``driver=True``) in
place of siblings whose operator family already holds multiple green
CORRECTNESS rows. This module is the single source of truth for that
history (VERDICT r6 ask #8 — it used to live in the ``query()``
docstring); tests/test_rotation.py asserts every current driver entry is
either historically driver-green (a row in some committed
CORRECTNESS_r{N}.json) or a declared first-timer this round, and that
the surface holds exactly ``SURFACE_SIZE`` entries.

ROTATION.md at the repo root is the human-readable rendering of the
same ledger; keep both in sync (the test cross-checks the round
numbers).
"""

from __future__ import annotations

SURFACE_SIZE = 50

#: The round whose rotation is in flight (CORRECTNESS_r{CURRENT_ROUND}
#: does not exist yet when this round's code is committed).
CURRENT_ROUND = 18

#: Per-round promotions/demotions. Rounds 1-4 predate the protocol: the
#: surface was the initial 50 picks with ad-hoc swaps recorded only in
#: the CORRECTNESS files themselves.
ROTATION_HISTORY: dict[int, dict[str, tuple[str, ...]]] = {
    5: {
        "in": (
            "mm_blob_meta", "wh_expectations", "wh_table_profile",
            "tx_pii_scrub", "tx_decontaminate", "st_stream_stream_join",
            "sim_quantize_int8", "a22_brand_pagerank",
        ),
        "out": (
            "dd_simhash_pairs", "st_tumbling_hourly", "ev_props_extract",
            "j7_name_remap", "f4_contains", "c1_timestamp_roundtrip",
            "a8_rollup_region_nation", "w4_surrogate_keys",
        ),
    },
    6: {
        "in": (
            "a23_brand_triangles", "a24_revenue_gini",
            "ev_attribution_last_touch", "j8_fx_convert",
            "mm_wav_features", "wh_scd2_history", "tx_split_by_cluster",
            "wh_zorder_skipping",
        ),
        "out": (
            "q2_top_priorities_q4", "q3_quarter_ranking", "ev_rolling_7d",
            "ev_funnel_vcp", "dd_ngram_jaccard", "sim_topk_bruteforce",
            "mm_features_resize", "st_sessionize_stateful",
        ),
    },
    7: {
        # The evidence-backlog round (VERDICT r6 ask #1, taken to its
        # stated maximum: "retire every entry with >=2 green driver
        # rows"). 41 never-driver-checked promotions + 1 new entry
        # (a24_revenue_gini_scale_safe, the driver-gated two-phase-rank
        # plan claim); the surface keeps the 8 single-green r6
        # first-timers for their second row. Every promotion was
        # verified bit-exact against its oracle at BOTH sf0.01 and
        # sf0.1 from a fresh process this round before the flip.
        "in": (
            # wave 1
            "qa_ks_two_sample", "qa_psi_price_drift", "qa_wilson_ci",
            "dd_incremental_minhash", "dd_segment_dedup", "st_late_data",
            "ev_peak_concurrency", "ev_active_users_hll", "wh_bloom_prune",
            "wh_bucketed_join", "tx_curriculum_order",
            "a32_brand_cheapest_path", "tpch_q5_local_supplier_volume",
            "a24_revenue_gini_scale_safe",
            # wave 2 (maximal backlog burn-down)
            "qa_mann_whitney", "dd_incremental_dedup", "wh_time_travel",
            "wh_incremental_join", "st_daily_actives_hll",
            "ev_time_to_convert", "tx_span_corruption",
            "a34_brand_closeness", "tpch_q1_pricing_summary",
            "ev_cusum_daily", "dd_qgram_edit_join", "a33_segment_skyline",
            "qa_higher_moments", "ev_forecast_backtest", "qa_welch_t",
            "qa_chi_square_segment_status", "ev_autocorr_daily",
            "ev_trend_regression", "ev_seasonal_decompose",
            "a16_rfm_segmentation", "a17_pareto_customers",
            "a30_brand_ppr", "a31_brand_khop", "a26_brand_communities",
            "wh_schema_evolution", "wh_vacuum_retention",
            "wh_orphan_audit", "ev_wau_stickiness",
        ),
        "out": (
            # wave 1
            "a4_kpis", "a6_distinct_dims", "w1_quarter_trend",
            "j5_anti_join", "j6_topk_semi", "o4_group_total_order",
            "a11_pivot_quarter_status", "x2_union_intersect",
            "dd_exact_dedup", "dd_minhash_lsh",
            "dd_embedding_neardup_blocked", "sim_ann_signlsh",
            "tx_tfidf_top_terms", "ev_sliding_1h_15m",
            # wave 2
            "q1_top_segments", "j1_fact_build", "j3_gold_denorm",
            "a12_star_measures", "a13_percentile_sketch",
            "a14_grouping_sets", "dd_neardup_components",
            "sim_ann_ivf_kmeans_iter3", "dd_corpus_clean",
            "tx_hash_split", "w5_rank_functions",
            "a5_unique_customers_approx", "tx_text_profile",
            "ev_asof_purchase", "ev_range_views_before_purchase",
            "wh_gold_maintenance", "st_dedup", "st_sessionize",
            "mm_blob_meta", "st_foreach_batch_sink", "sk_salted_hot_join",
            "wh_table_profile", "wh_expectations", "sim_quantize_int8",
            "tx_decontaminate", "tx_pii_scrub", "st_stream_stream_join",
            "a22_brand_pagerank",
        ),
    },
    8: {
        # Backlog burn-down continues (VERDICT r7 ask #2/#6): the 14
        # pre-cleared NEXT_QUEUE entries + the 5 remaining
        # inference/robust-stats stragglers + 5 strong siblings
        # (attribution first/linear, TPC-H Q16, Benford, cohort
        # retention) = 24 first-timers, plus the qa_wilson_ci
        # re-attempt (oracle HUGEINT CAST fix — its r7 row is red, so
        # it stays on the surface; see RE_PROMOTED). Resolves the
        # second-row convention collision the r7 verdict flagged: 2nd
        # rows are kept ONLY for scale/state-dependent entries
        # (streaming microbatch harnesses, warehouse snapshot
        # lifecycles, the scale_safe plan-shape claim); deterministic
        # closed-form entries retire after one green row + the local
        # bit-exact sweep.
        "in": (
            # the pre-cleared r7 queue (both-scale driver-style
            # compare, 28/28, end of round 7)
            "sim_recall_at_k", "sim_ann_pq_adc", "mm_bmp_pixels",
            "mm_avi_frames", "st_cdc_apply", "st_stream_merge_rollup",
            "tpch_q3_shipping_priority", "tpch_q4_late_orders",
            "a28_customer_kmeans", "a35_survival_km", "ev_ewma_daily",
            "dd_passage_dupes", "tx_stratified_sample",
            "wh_incremental_rollup",
            # inference/robust-stats stragglers (VERDICT r7 ask #6)
            "qa_anova_segments", "a25_spearman_avg_rank",
            "a25_spearman_freq_spend", "ev_mad_outliers",
            "ev_winsorized_stats",
            # strong siblings of driver-green families
            "ev_attribution_first_touch", "ev_attribution_linear",
            "tpch_q16_supplier_cnt", "a19_benford_first_digit",
            "ev_cohort_retention",
            # red-row re-attempt (RE_PROMOTED: oracle CAST fix)
            "qa_wilson_ci",
        ),
        "out": (
            # double-green r6 promotions (2 rows each)
            "a23_brand_triangles", "a24_revenue_gini",
            "ev_attribution_last_touch", "j8_fx_convert",
            "mm_wav_features", "wh_scd2_history", "tx_split_by_cluster",
            "wh_zorder_skipping",
            # single-green deterministic closed forms (policy above)
            "a16_rfm_segmentation", "a17_pareto_customers",
            "a26_brand_communities", "a30_brand_ppr", "a31_brand_khop",
            "a32_brand_cheapest_path", "a33_segment_skyline",
            "a34_brand_closeness", "qa_chi_square_segment_status",
            "qa_higher_moments", "qa_ks_two_sample", "qa_mann_whitney",
            "qa_psi_price_drift", "qa_welch_t",
            "tpch_q1_pricing_summary", "tpch_q5_local_supplier_volume",
        ),
    },
    9: {
        # THE BACKLOG-ZERO ROUND (VERDICT r8 ask #1, taken maximally):
        # every entry that has never had a driver CORRECTNESS row is
        # promoted at once — the 34-entry backlog (pre-validated
        # driver-style at BOTH sf0.01 and sf0.1 at the end of round 8,
        # ROTATION.md) plus the round's 3 new entries (sim_ann_ivf_pq,
        # tx_bpe_apply, tx_bpe_pack — each verified bit-exact at
        # sf0.001/0.01/0.1 this round before the flip). The other 13
        # slots are the standing keep-set under the r8 second-row
        # policy: streaming microbatch harnesses (st_*), warehouse
        # snapshot lifecycles (wh_*), and the scale_safe plan-shape
        # claim. A green round leaves ALL 187 registry entries with at
        # least one committed driver row.
        "in": (
            # the pre-cleared r8 NEXT_QUEUE (both-scale driver-style
            # compare, 28/28, end of round 8)
            "wh_scd2_lookup", "wh_cdc_apply", "st_stream_static_enrich",
            "sim_hybrid_rrf", "sim_random_projection",
            "dd_er_blocked_pairs", "dd_containment_pairs",
            "ev_transition_matrix", "ev_top_paths", "tx_pack_sequences",
            "tx_unigram_logprob", "a29_cohort_ltv", "a20_basket_pair_lift",
            "w6_user_day_gapfill",
            # the rest of the never-driver-checked backlog (same
            # end-of-r8 pre-validation, 36/36)
            "a15_hll_mergeable", "a18_zscore_outliers",
            "a21_order_reconciliation", "a27_dow_seasonal_outliers",
            "dd_normalized_dedup", "dd_novelty_fractions",
            "ev_asof_nearest_error", "ev_asof_view_purchase",
            "ev_cumulative_uniques", "ev_equidepth_histogram",
            "sim_embedding_covariance", "sim_ndcg_at_k",
            "tx_bigram_logprob", "tx_chunk_documents",
            "tx_heavy_collocations", "tx_mixture_weights",
            "tx_negative_sampling", "tx_repetition_ratio",
            "tx_weighted_sample", "wh_compaction",
            # new this round (all-scale verified before the flip)
            "sim_ann_ivf_pq", "tx_bpe_apply", "tx_bpe_pack",
        ),
        "out": (
            # every r8 first-timer that is not in the keep-set retires
            # on its green row (single-green deterministic closed
            # forms, per the r8 second-row policy)
            "a19_benford_first_digit", "a25_spearman_avg_rank",
            "a25_spearman_freq_spend", "a28_customer_kmeans",
            "a35_survival_km", "dd_incremental_dedup",
            "dd_incremental_minhash", "dd_passage_dupes",
            "dd_qgram_edit_join", "dd_segment_dedup",
            "ev_active_users_hll", "ev_attribution_first_touch",
            "ev_attribution_linear", "ev_autocorr_daily",
            "ev_cohort_retention", "ev_cusum_daily", "ev_ewma_daily",
            "ev_forecast_backtest", "ev_mad_outliers",
            "ev_peak_concurrency", "ev_seasonal_decompose",
            "ev_time_to_convert", "ev_trend_regression",
            "ev_wau_stickiness", "ev_winsorized_stats", "mm_avi_frames",
            "mm_bmp_pixels", "qa_anova_segments", "qa_wilson_ci",
            "sim_ann_pq_adc", "sim_recall_at_k", "tpch_q16_supplier_cnt",
            "tpch_q3_shipping_priority", "tpch_q4_late_orders",
            "tx_curriculum_order", "tx_span_corruption",
            "tx_stratified_sample",
        ),
    },
    10: {
        # FIRST STEADY-STATE ROUND (the r9 freshness policy in force):
        # 9 first-timers (the four r9-authored NEXT_QUEUE entries, all
        # pre-validated at sf0.001/0.01/0.1, plus this round's five new
        # operators — the VERDICT r9 asks #3-#6 capstones), the
        # 17-slot keep-set (st_*/wh_* harnesses incl. the four r9
        # first-timer harnesses now re-earning, + the scale_safe plan
        # claim), and 24 REFRESH promotions drawn oldest-evidence-first
        # from REFRESH_QUEUE (the full r2/r3 vintages + the first six
        # r4 names; refresh entries are deliberately NOT listed here —
        # "in" is pinned to genuine first-timers).
        "in": (
            # r9-authored queue (first driver rows)
            "tx_bpe_train", "qa_fdr_bh_segments", "mm_ahash_clusters",
            "wh_ivfpq_publish",
            # new this round (all-scale verified before the flip)
            "qa_fdr_bh_spike_in", "sim_ann_ivfadc_residual",
            "mm_ahash_neardups", "tx_bpe_apply_arrow",
            "tx_bpe_train_apply",
        ),
        "out": (
            # r9 first-timers outside the keep-set retire on their
            # green row (the r8 second-row policy)
            "a15_hll_mergeable", "a18_zscore_outliers",
            "a20_basket_pair_lift", "a21_order_reconciliation",
            "a27_dow_seasonal_outliers", "a29_cohort_ltv",
            "dd_containment_pairs", "dd_er_blocked_pairs",
            "dd_normalized_dedup", "dd_novelty_fractions",
            "ev_asof_nearest_error", "ev_asof_view_purchase",
            "ev_cumulative_uniques", "ev_equidepth_histogram",
            "ev_top_paths", "ev_transition_matrix", "sim_ann_ivf_pq",
            "sim_embedding_covariance", "sim_hybrid_rrf",
            "sim_ndcg_at_k", "sim_random_projection",
            "tx_bigram_logprob", "tx_bpe_apply", "tx_bpe_pack",
            "tx_chunk_documents", "tx_heavy_collocations",
            "tx_mixture_weights", "tx_negative_sampling",
            "tx_pack_sequences", "tx_repetition_ratio",
            "tx_unigram_logprob", "tx_weighted_sample",
            "w6_user_day_gapfill",
        ),
    },
    11: {
        # Second steady-state round. 8 first-timers: the four
        # r10-authored NEXT_QUEUE entries (pre-validated at
        # sf0.001/0.01/0.1 at the end of r10 AND re-verified this
        # round), this round's three new operators (the VERDICT r10
        # asks #2/#4/#5 capstones: tx_bpe_apply64, wh_ivfpq_retrain,
        # st_bpe_tokenize_learned — all-scale verified before the
        # flip), and sim_ann_ivfadc_residual RE_PROMOTED (its r11
        # single-pipeline rework — VERDICT r10 ask #3 — changed both
        # the implementation and the oracle, so the r10 two-leg row no
        # longer covers it). Keep-set grows to 18 (wh_ivfpq_publish
        # joins as a wh_* lifecycle harness re-earning yearly rows).
        # 24 REFRESH promotions drawn oldest-evidence-first (the r4/r5
        # leftovers + the head of the r6 vintage, through
        # ev_asof_purchase).
        "in": (
            # r10-authored queue (first driver rows)
            "wh_ivfpq_append", "tx_bpe_fertility", "sim_ivfpq_drift",
            "st_bpe_tokenize",
            # new this round (all-scale verified before the flip)
            "tx_bpe_apply64", "wh_ivfpq_retrain",
            "st_bpe_tokenize_learned",
            # re-promoted (single-pipeline rework; see RE_PROMOTED)
            "sim_ann_ivfadc_residual",
        ),
        "out": (
            # r10 first-timers outside the keep-set retire on their
            # green row (the r8 second-row policy); wh_ivfpq_publish
            # stays (keep-set), sim_ann_ivfadc_residual stays
            # (re-promoted)
            "tx_bpe_train", "qa_fdr_bh_segments", "mm_ahash_clusters",
            "qa_fdr_bh_spike_in", "mm_ahash_neardups",
            "tx_bpe_apply_arrow", "tx_bpe_train_apply",
            # r10 REFRESH entries rotate off on their re-earned row
            "a10_value_stats", "a1_count_by_segment",
            "a2_quarter_status_matrix", "a8_rollup_region_nation",
            "a9_cube_status_quarter", "c1_timestamp_roundtrip",
            "dd_embedding_neardup", "dd_simhash", "dd_simhash_pairs",
            "ev_props_extract", "ev_sessionize", "ev_tumbling_hourly",
            "ev_value_histogram", "f4_contains", "j7_name_remap",
            "mm_frame_sample", "o2_top5_types", "sim_ann_ivf",
            "sim_ann_ivf_kmeans", "tx_fingerprint", "tx_lang_id",
            "tx_quality_score", "tx_token_count", "x1_except",
        ),
    },
    # Round 12 has NO entry: the round was interrupted mid-landing and
    # the rotation never flipped — CORRECTNESS_r12.json is
    # surface-identical to r11's (VERDICT r12). The r12 queue's four
    # entries plus the two operators authored in r12 all promote in
    # r13 below. See LANDING CHECKLIST at the bottom of this module.
    13: {
        # The land-the-plane round (VERDICT r12 asks #1/#2): SIX
        # first-timers — the four r12-queued entries
        # (st_ivfpq_monitor, qa_fdr_storey_spike_in, wh_ivfpq_compact,
        # sim_pca_power, each three-scale verified when authored in
        # r11 and re-verified this round) plus the two r12-authored
        # operators (sim_ann_pq256, sim_pca_deflate — sf0.01-verified
        # in r12, all-scale verified this round before the flip, and
        # their recall claims now substantiated by the committed
        # ANN_RECALL_AUDIT_r13.json). Driver-row coverage after a
        # green r13: 209/209 — the first full-registry round. The
        # keep-set holds at the KEEP_SET_CAP of 18 (wh_ivfpq_compact
        # and st_ivfpq_monitor were considered and NOT admitted: the
        # ivfpq lifecycle is already represented by wh_ivfpq_publish —
        # the cap policy below). The remaining 26 slots are REFRESH
        # promotions — the age-ordered prefix of REFRESH_QUEUE (the
        # r6-vintage tail through wh_gold_maintenance).
        "in": (
            # r12 queue (authored r11; first driver rows two rounds overdue)
            "st_ivfpq_monitor", "qa_fdr_storey_spike_in",
            "wh_ivfpq_compact", "sim_pca_power",
            # authored r12 (landing interrupted before promotion)
            "sim_ann_pq256", "sim_pca_deflate",
        ),
        "out": (
            # r11 first-timers outside the keep-set retire on their
            # green r11+r12 rows (the r8 second-row policy)
            "wh_ivfpq_append", "tx_bpe_fertility", "sim_ivfpq_drift",
            "st_bpe_tokenize", "tx_bpe_apply64", "wh_ivfpq_retrain",
            "st_bpe_tokenize_learned", "sim_ann_ivfadc_residual",
            # r11 REFRESH entries rotate off on their re-earned rows
            "a11_pivot_quarter_status", "a12_star_measures",
            "a13_percentile_sketch", "a14_grouping_sets",
            "a22_brand_pagerank", "a4_kpis",
            "a5_unique_customers_approx", "a6_distinct_dims",
            "dd_corpus_clean", "dd_embedding_neardup_blocked",
            "dd_exact_dedup", "dd_minhash_lsh", "dd_neardup_components",
            "dd_ngram_jaccard", "ev_asof_purchase", "ev_funnel_vcp",
            "ev_rolling_7d", "mm_features_resize",
            "q2_top_priorities_q4", "q3_quarter_ranking",
            "sim_topk_bruteforce", "st_sessionize_stateful",
            "st_tumbling_hourly", "w4_surrogate_keys",
        ),
    },
    14: {
        # Steady-state round on a zero-debt ledger: FIVE first-timers —
        # the r13-authored NEXT_QUEUE (sim_ann_ivfpq256,
        # wh_ivfpq256_publish, st_ivfpq256_serve, sim_ann_pq256_rotated,
        # qa_psi_embedding_drift — each three-scale verified when
        # authored AND re-swept on the final r13 tree, commit fde001e).
        # A green r14 leaves 214/214 entries with a driver row. The
        # keep-set applies the cap policy's FIRST actual age-out
        # (VERDICT r13 ask #7): wh_ivfpq256_publish is admitted as the
        # ivfpq-lifecycle representative (newest production-sized
        # harness) and wh_ivfpq_publish — the 8-code twin, multiply
        # green r9-r13 — ages out to the refresh pool; the set stays at
        # KEEP_SET_CAP. The remaining 28 slots are REFRESH promotions —
        # the age-ordered prefix of REFRESH_QUEUE (the last two r6-tail
        # names, the full 24-name r7 vintage, and the first two r8
        # names, through a25_spearman_avg_rank).
        "in": (
            # r13-authored queue (first driver rows; plans/rotation.py
            # NEXT_QUEUE at the r13 close)
            "sim_ann_ivfpq256", "wh_ivfpq256_publish",
            "st_ivfpq256_serve", "sim_ann_pq256_rotated",
            "qa_psi_embedding_drift",
        ),
        "out": (
            # r13 first-timers retire on their green r13 rows (the r8
            # second-row policy; none admitted to the keep-set)
            "st_ivfpq_monitor", "qa_fdr_storey_spike_in",
            "wh_ivfpq_compact", "sim_pca_power", "sim_ann_pq256",
            "sim_pca_deflate",
            # the first keep-set age-out under the cap policy (replaced
            # by wh_ivfpq256_publish, its production-sized successor)
            "wh_ivfpq_publish",
            # r13 REFRESH entries rotate off on their re-earned rows
            "ev_range_views_before_purchase", "ev_sliding_1h_15m",
            "j1_fact_build", "j3_gold_denorm", "j5_anti_join",
            "j6_topk_semi", "mm_blob_meta", "o4_group_total_order",
            "q1_top_segments", "sim_ann_ivf_kmeans_iter3",
            "sim_ann_signlsh", "sim_quantize_int8", "sk_salted_hot_join",
            "st_dedup", "st_foreach_batch_sink", "st_sessionize",
            "st_stream_stream_join", "tx_decontaminate", "tx_hash_split",
            "tx_pii_scrub", "tx_text_profile", "tx_tfidf_top_terms",
            "w1_quarter_trend", "w5_rank_functions", "wh_expectations",
            "wh_gold_maintenance",
        ),
    },
    15: {
        # Steady-state round, zero-debt ledger again: SEVEN first-timers
        # — the full r14-authored NEXT_QUEUE (sim_ann_opq256 and the
        # stored-OPQ pair, the 256-code lifecycle completions, and the
        # at-ingest PSI monitor), each three-scale verified when
        # authored AND re-swept on the final r14 tree (commit 85c592f).
        # A green r15 leaves 221/221 entries with a driver row. No
        # keep-set admissions: the ivfpq-lifecycle family seat is held
        # by wh_ivfpq256_publish (append/compact/retrain rotate like
        # deterministic entries — the r13 wh_ivfpq_compact precedent),
        # and the stream-harness families are already seated. The
        # remaining 25 slots are REFRESH promotions — the age-ordered
        # prefix of REFRESH_QUEUE (the rest of the r8 vintage through
        # tx_stratified_sample's cohort, then the r9 head through
        # mm_bmp_pixels).
        "in": (
            # r14-authored queue (first driver rows; plans/rotation.py
            # NEXT_QUEUE at the r14 close)
            "sim_ann_opq256", "wh_ivfpq256_append",
            "st_psi_embedding_drift", "wh_ivfpq256_compact",
            "wh_ivfpq256_retrain", "wh_opq256_publish",
            "st_opq256_serve",
        ),
        "out": (
            # r14 first-timers retire on their green r14 rows (the r8
            # second-row policy; none admitted to the keep-set)
            "sim_ann_ivfpq256", "sim_ann_pq256_rotated",
            "st_ivfpq256_serve", "qa_psi_embedding_drift",
            # r14 REFRESH entries rotate off on their re-earned rows
            "a16_rfm_segmentation", "a17_pareto_customers",
            "a19_benford_first_digit", "a23_brand_triangles",
            "a24_revenue_gini", "a25_spearman_avg_rank",
            "a26_brand_communities", "a30_brand_ppr", "a31_brand_khop",
            "a32_brand_cheapest_path", "a33_segment_skyline",
            "a34_brand_closeness", "ev_attribution_last_touch",
            "j8_fx_convert", "mm_wav_features",
            "qa_chi_square_segment_status", "qa_higher_moments",
            "qa_ks_two_sample", "qa_mann_whitney", "qa_psi_price_drift",
            "qa_welch_t", "tpch_q1_pricing_summary",
            "tpch_q5_local_supplier_volume", "tx_split_by_cluster",
            "wh_scd2_history", "wh_table_profile", "wh_zorder_skipping",
            "x2_union_intersect",
        ),
    },
    16: {
        # Steady-state round, zero-debt ledger: EIGHT first-timers —
        # the full r15-authored NEXT_QUEUE (the pipeline-fusion tier's
        # batch/rerank/stream/storage/incremental members plus the
        # TPC-H Q7/Q8/Q9 widening), each three-scale verified when
        # authored AND re-swept on the final r15 tree (commit 10dfdf1;
        # note that commit's message miscounts the queue as nine — the
        # machine ledger here has always held eight, see ROTATION.md).
        # A green r16 leaves 229/229 entries with a driver row. ONE
        # keep-set admission under the cap policy's age-out rule (the
        # r14 precedent, second use): wh_canonical_publish — the fused
        # pipeline's storage harness, the newest production-sized
        # lifecycle (IVF+PQ256 over dedup survivors, cell-partitioned
        # publish, read-back serve) — REPLACES wh_ivfpq256_publish as
        # the index-lifecycle family seat; the raw-corpus twin (green
        # r14, r15) ages out to the refresh pool. The remaining 25
        # slots are REFRESH promotions — the age-ordered prefix of
        # REFRESH_QUEUE (the rest of the r8 vintage through
        # tx_stratified_sample, then the r9 vintage head through
        # ev_top_paths).
        "in": (
            # r15-authored queue (first driver rows; plans/rotation.py
            # NEXT_QUEUE at the r15 close)
            "pl_dedup_before_index", "pl_hybrid_rerank",
            "tpch_q7_volume_shipping", "tpch_q8_market_share",
            "tpch_q9_product_profit", "st_canonical_serve",
            "wh_canonical_publish", "pl_incremental_curate",
        ),
        "out": (
            # r15 first-timers retire on their green r15 rows (the r8
            # second-row policy; none admitted to the keep-set)
            "sim_ann_opq256", "wh_ivfpq256_append",
            "st_psi_embedding_drift", "wh_ivfpq256_compact",
            "wh_ivfpq256_retrain", "wh_opq256_publish",
            "st_opq256_serve",
            # the cap policy's second age-out (replaced by
            # wh_canonical_publish, the fused-pipeline successor)
            "wh_ivfpq256_publish",
            # r15 REFRESH entries rotate off on their re-earned rows
            "a25_spearman_freq_spend", "a28_customer_kmeans",
            "a35_survival_km", "dd_incremental_dedup",
            "dd_incremental_minhash", "dd_passage_dupes",
            "dd_qgram_edit_join", "dd_segment_dedup",
            "ev_active_users_hll", "ev_attribution_first_touch",
            "ev_attribution_linear", "ev_autocorr_daily",
            "ev_cohort_retention", "ev_cusum_daily", "ev_ewma_daily",
            "ev_forecast_backtest", "ev_mad_outliers",
            "ev_peak_concurrency", "ev_seasonal_decompose",
            "ev_time_to_convert", "ev_trend_regression",
            "ev_wau_stickiness", "ev_winsorized_stats",
            "mm_avi_frames", "mm_bmp_pixels",
        ),
    },
    18: {
        # The product-quantization search tier (the PQ/IVF-PQ/OPQ sim_*
        # entries, its stream and warehouse lifecycle, the pl_* pipeline
        # tier built on it and the embedding-PSI monitors; RETIRED
        # below) was deleted from the registry, taking six driver seats
        # with it. The rest of the vector-search tier and the multimodal
        # tier followed, taking five more (four of them this round's own
        # refills), then the TPC-H tier, taking six more, then the
        # near-duplicate (dedup) tier, taking four more. NO
        # first-timers: the seats refill as REFRESH promotions, the head
        # of REFRESH_QUEUE once the retired names are dropped
        # (ev_transition_matrix, tx_bigram_logprob, tx_bpe_apply,
        # tx_bpe_pack, tx_chunk_documents, tx_heavy_collocations,
        # tx_mixture_weights, tx_negative_sampling, tx_pack_sequences,
        # tx_repetition_ratio, tx_unigram_logprob, tx_weighted_sample,
        # w6_user_day_gapfill, a10_value_stats, a1_count_by_segment,
        # a2_quarter_status_matrix, a8_rollup_region_nation) —
        # deliberately NOT listed as "in".
        "in": (),
        "out": (
            # deleted with the PQ search tier (not demoted: these
            # names are no longer registered)
            "sim_ann_pq_adc", "pl_dedup_before_index", "pl_hybrid_rerank",
            "st_canonical_serve", "wh_canonical_publish",
            "pl_incremental_curate",
            # deleted with the vector-search and multimodal tiers
            "sim_embedding_covariance", "sim_hybrid_rrf", "sim_ndcg_at_k",
            "sim_random_projection", "sim_recall_at_k",
            # deleted with the TPC-H tier
            "tpch_q3_shipping_priority", "tpch_q4_late_orders",
            "tpch_q16_supplier_cnt", "tpch_q7_volume_shipping",
            "tpch_q8_market_share", "tpch_q9_product_profit",
            # deleted with the dedup tier
            "dd_normalized_dedup", "dd_er_blocked_pairs",
            "dd_containment_pairs", "dd_novelty_fractions",
        ),
    },
}

#: Registry entries deleted with the product-quantization search tier
#: (PQ / IVF-PQ / OPQ search and its warehouse and stream lifecycle, the
#: pipeline-fusion tier built on it, and the embedding-PSI monitors),
#: then with the rest of the vector-search tier (exact and flat-index
#: search, retrieval metrics, embedding linear algebra), the
#: multimodal tier, the 22 TPC-H query shapes and the near-duplicate
#: (dedup) tier. The history above
#: still names them; they may no longer appear on the surface or in any
#: queue.
RETIRED: frozenset[str] = frozenset({
    "pl_dedup_before_index", "pl_hybrid_rerank",
    "pl_incremental_curate", "pl_learned_rerank", "pl_retrain_on_drift",
    "qa_psi_embedding_drift", "sim_ann_ivf_pq",
    "sim_ann_ivfadc_residual", "sim_ann_ivfpq256", "sim_ann_opq256",
    "sim_ann_pq256", "sim_ann_pq256_rotated", "sim_ann_pq_adc",
    "sim_ivfpq_drift", "st_canonical_serve", "st_ivfpq256_serve",
    "st_ivfpq_monitor", "st_opq256_serve", "st_psi_embedding_drift",
    "wh_canonical_publish", "wh_ivfpq256_append", "wh_ivfpq256_compact",
    "wh_ivfpq256_publish", "wh_ivfpq256_retrain", "wh_ivfpq_append",
    "wh_ivfpq_compact", "wh_ivfpq_publish", "wh_ivfpq_retrain",
    "wh_opq256_publish",
    # vector-search tier
    "sim_ann_ivf", "sim_ann_ivf_kmeans", "sim_ann_ivf_kmeans_iter3",
    "sim_ann_signlsh", "sim_embedding_covariance", "sim_hybrid_rrf",
    "sim_ndcg_at_k", "sim_pca_deflate", "sim_pca_power",
    "sim_quantize_int8", "sim_random_projection", "sim_recall_at_k",
    "sim_topk_bruteforce",
    # multimodal tier
    "mm_ahash_clusters", "mm_ahash_neardups", "mm_avi_frames",
    "mm_blob_meta", "mm_bmp_pixels", "mm_features_resize",
    "mm_frame_sample", "mm_wav_features",
    # TPC-H tier
    "tpch_q1_pricing_summary", "tpch_q2_min_cost_supplier",
    "tpch_q3_shipping_priority", "tpch_q4_late_orders",
    "tpch_q5_local_supplier_volume", "tpch_q6_forecast_revenue",
    "tpch_q7_volume_shipping", "tpch_q8_market_share",
    "tpch_q9_product_profit", "tpch_q10_returned_items",
    "tpch_q11_important_stock", "tpch_q12_shipmode_priority",
    "tpch_q13_customer_distribution", "tpch_q14_promo_revenue",
    "tpch_q15_top_supplier", "tpch_q16_supplier_cnt",
    "tpch_q17_small_qty_revenue", "tpch_q18_large_volume_customer",
    "tpch_q19_bracket_revenue", "tpch_q20_excess_stock_suppliers",
    "tpch_q21_waiting_suppliers", "tpch_q22_dormant_rich_customers",
    # dedup tier
    "dd_containment_pairs", "dd_corpus_clean", "dd_embedding_neardup",
    "dd_embedding_neardup_blocked", "dd_er_blocked_pairs",
    "dd_exact_dedup", "dd_incremental_dedup", "dd_incremental_minhash",
    "dd_minhash_lsh", "dd_neardup_components", "dd_ngram_jaccard",
    "dd_normalized_dedup", "dd_novelty_fractions", "dd_passage_dupes",
    "dd_qgram_edit_join", "dd_segment_dedup", "dd_simhash",
    "dd_simhash_pairs",
})

#: Re-promotions: entries that already held a driver row but were
#: swapped back in because their IMPLEMENTATION changed enough that the
#: old evidence no longer covers them (name -> round of re-promotion).
RE_PROMOTED: dict[str, int] = {
    # r1 rows predate the real-BMP decoder; r5 re-promoted to gate the
    # new pure-Python pixel path under the driver hash.
    "mm_blob_meta": 5,
    # r7 row is red (oracle typed n_success HUGEINT; values proven
    # bit-identical). The oracle now CASTs the sum to BIGINT; the entry
    # stays on the surface for its first green row.
    "qa_wilson_ci": 8,
    # r11 single-pipeline rework (VERDICT r10 ask #3): the raw-leg A/B
    # moved to the local test, so both the Spark plan and the oracle
    # changed — the r10 two-leg row no longer covers the entry.
    "sim_ann_ivfadc_residual": 11,
}

#: Never-driver-checked entries queued for the NEXT round's promotion.
#: Since the round-9 backlog-zero flip this holds only operators
#: authored AFTER the flip; first-timers always outrank refresh slots.
#: Post-flip r10 additions queue here for the r11 surface.
NEXT_QUEUE: tuple[str, ...] = (
    # The r16 flip promoted the full eight-entry r15 queue (see
    # ROTATION_HISTORY 16), leaving zero never-driver-checked entries
    # after a green r16 — 229/229 driver-row coverage. Operators
    # authored after the r16 flip queue here for r17 (the fourteen
    # TPC-H shapes queued with it were RETIRED in round 18):
    # --- r16: the RANGE JOIN (the task brief's named custom-operator
    # --- slot next to as-of): bucketed interval-overlap join in
    # --- operators/rangejoin.py, exercised by the concurrent-session
    # --- pairs entry (authored r16 post-flip, three-scale verified)
    "ev_session_overlap_pairs",  # quadratic-oracle vs bucketed-linear plan; exactly-once retention + closed-interval residual pinned by unit test
)

#: STEADY-STATE EVIDENCE-FRESHNESS POLICY (r9, VERDICT r8 ask #4) — in
#: force from round 10, once the backlog is zero. Each round the surface
#: is composed in priority order:
#:
#:   1. genuine first-timers (new operators; NEXT_QUEUE) — evidence debt
#:      always outranks evidence age;
#:   2. the standing keep-set: st_*/wh_* harnesses + the
#:      a24_revenue_gini_scale_safe plan claim (scale/state-dependent
#:      entries re-earn their row every round — the r8 second-row
#:      policy);
#:   3. REFRESH promotions: the remaining slots refill with the entries
#:      whose most-recent green driver row is OLDEST (ties broken by
#:      name), so no entry's external evidence ages indefinitely and
#:      code moves (e.g. the r8 tier split) eventually re-earn driver
#:      rows on the moved code. ~35 refresh slots/round over a
#:      137-entry refresh pool -> every deterministic entry re-earns a
#:      driver row at least every ~4 rounds.
#:
#: REFRESH_QUEUE is the age-ordered refill for the NEXT round
#: (recomputed each round from the committed CORRECTNESS files; entries
#: listed oldest-evidence-first, so round 10 takes a prefix). Unlike
#: NEXT_QUEUE these HAVE prior driver rows by construction — re-earning
#: freshness is the point — so they are not declared in the history's
#: "in" (which tests pin to genuine first-timers / RE_PROMOTED).
REFRESH_QUEUE: tuple[str, ...] = (
    # The round-16 flip consumed the previous queue's 25-name prefix
    # (the r8-rest names through tx_stratified_sample, plus the r9
    # vintage head through ev_top_paths). Round 18 dropped the
    # RETIRED names and promoted the next names (ev_transition_matrix
    # through w6_user_day_gapfill, the rest of the r9 vintage, then the
    # r10 head a10_value_stats through a8_rollup_region_nation) into the
    # seats the retired entries left; what remains is the rest of the
    # r10 vintage and the full r12 vintage (alphabetical within a
    # vintage = the ties-by-name rule).
    # r10 vintage
    "a9_cube_status_quarter", "c1_timestamp_roundtrip", "ev_props_extract",
    "ev_sessionize", "ev_tumbling_hourly", "ev_value_histogram", "f4_contains",
    "j7_name_remap", "o2_top5_types", "qa_fdr_bh_segments",
    "qa_fdr_bh_spike_in", "tx_bpe_apply_arrow", "tx_bpe_train", "tx_bpe_train_apply",
    "tx_fingerprint", "tx_lang_id", "tx_quality_score", "tx_token_count",
    "x1_except",
    # r12 vintage
    "a11_pivot_quarter_status", "a12_star_measures",
    "a13_percentile_sketch", "a14_grouping_sets", "a22_brand_pagerank",
    "a4_kpis", "a5_unique_customers_approx", "a6_distinct_dims",
    "ev_asof_purchase", "ev_funnel_vcp", "ev_rolling_7d",
    "q2_top_priorities_q4", "q3_quarter_ranking",
    "st_bpe_tokenize", "st_bpe_tokenize_learned", "st_sessionize_stateful",
    "st_tumbling_hourly", "tx_bpe_apply64", "tx_bpe_fertility",
    "w4_surrogate_keys",
)

#: KEEP-SET CAP POLICY (r13; VERDICT r11 ask #8 / r12 ask #6). The
#: keep-set — scale/state-dependent entries that re-earn a driver row
#: EVERY round under the r8 second-row policy — is capped so refresh
#: throughput cannot quietly degrade as st_*/wh_* harnesses accumulate:
#: with 50 slots, ~6 first-timers and an 18-entry keep-set leave ~26
#: refresh slots, which cycles the ~160-entry refresh pool every ~6
#: rounds; every keep-set seat beyond the cap stretches that cycle.
#:
#: Admission rule: a new scale/state-dependent entry joins the keep-set
#: only if (a) its operator FAMILY (shared storage lifecycle or stream
#: harness) is not already represented by a sitting member, and (b) the
#: set stays within KEEP_SET_CAP — otherwise the longest-tenured member
#: of the most-represented family ages out to the refresh pool (it has
#: green rows by construction, so it re-earns freshness on the normal
#: cadence). Applied at r13: wh_ivfpq_compact and st_ivfpq_monitor were
#: NOT admitted — the ivfpq index lifecycle is already represented by
#: wh_ivfpq_publish; they rotate like deterministic entries.
#: Applied at r14 — the rule's first actual age-out (VERDICT r13 ask
#: #7): wh_ivfpq256_publish (the production-sized lifecycle harness)
#: REPLACES wh_ivfpq_publish as the family's seat; the 8-code twin —
#: multiply green r9-r13 — moves to the refresh pool and re-earns
#: freshness on the normal cadence. The set stays at the cap.
#: Applied at r16 — the rule's second age-out: wh_canonical_publish
#: (the fused-pipeline storage harness — IVF+PQ256 over dedup
#: SURVIVORS, cell-partitioned publish, read-back serve; the newest
#: production-sized shape) REPLACES wh_ivfpq256_publish as the
#: index-lifecycle seat; the raw-corpus twin — green r14/r15 — moves
#: to the refresh pool. The set stays at the cap.
#: r18: wh_canonical_publish was RETIRED with the PQ search tier;
#: its seat stays empty (17 members).
KEEP_SET_CAP = 18

#: Keep-set admissions ledger (name -> round admitted). A member
#: admitted in CURRENT_ROUND may simultaneously be a first-timer (it
#: earns its FIRST row the same round it takes its family's seat —
#: the r14 wh_ivfpq256_publish case); tests/test_rotation.py allows
#: the first-timer/keep-set overlap exactly for names admitted this
#: round and forbids it otherwise.
KEEP_SET_ADMISSIONS: dict[str, int] = {
    "wh_ivfpq256_publish": 14,
    "wh_canonical_publish": 16,
}

#: The standing keep-set (r8 second-row policy; membership pinned by
#: tests/test_rotation.py to <= KEEP_SET_CAP and to being on every
#: round's surface).
KEEP_SET: tuple[str, ...] = (
    "a24_revenue_gini_scale_safe",
    "st_cdc_apply", "st_daily_actives_hll", "st_late_data",
    "st_stream_merge_rollup", "st_stream_static_enrich",
    "wh_bloom_prune", "wh_bucketed_join", "wh_cdc_apply",
    "wh_compaction", "wh_incremental_join", "wh_incremental_rollup",
    "wh_orphan_audit", "wh_scd2_lookup", "wh_schema_evolution",
    "wh_time_travel", "wh_vacuum_retention",
)

#: LANDING CHECKLIST (r13; VERDICT r12 ask #8 — a single interrupted
#: round must not be able to snapshot silently half-landed). Before the
#: LAST commit of any round, and before authoring new operators late in
#: a round, the builder runs:
#:   1. pytest tests/ green (includes the registry-count, SURVEY §2.11,
#:      NLQ-partition, rotation-ledger, and keep-set invariants);
#:   2. CURRENT_ROUND == the round being landed;
#:   3. every operator authored this round is either promoted in
#:      ROTATION_HISTORY[CURRENT_ROUND]["in"] (three-scale verified
#:      before the flip) or listed in NEXT_QUEUE;
#:   4. no committed docstring cites an artifact (audit file, bench
#:      number) that is not itself committed.
#: Rule of thumb: flip-and-bookkeep FIRST, author new operators AFTER
#: the flip commit — an interruption then leaves a green repo with a
#: conservative surface instead of a red repo with a stalled rotation.
