"""Plan-hygiene tables for the gate's explain check (tools/gate.py):
which plan properties each operator is designed around (pushdown,
broadcast where expected, hash vs sort aggregation, no cartesian, ...).

AUDITED orders EXPLAIN.md (every other registered query follows it);
CHECKS maps a query to (needle, expected_present, why) assertions against
its executed plan; STREAM_AUDITED slots are checked against the streaming
plan they executed; CONF_OVERRIDES are session confs set while a query's
plan is built.

Run: python tools/gate.py explain
"""

from __future__ import annotations

AUDITED = [
    "flagship_minute_resample",
    "agg_pricing_summary",
    "join_five_way",
    "join_large_orders",
    "dedup_minhash_lsh",
    "pipeline_curate_corpus",
    "ann_ivf_topk",
    "ann_lsh_topk",
    "range_join_click_purchase",
    "window_sessionize",
    "dedup_embedding_multiround",
    "dedup_components",
    "pack_sequences_budget",
    "tfidf_top_terms",
    "multimodal_decode",
    "text_decontaminate",
    "text_pii_redact",
    "sessionize_two_phase",
    "mixture_sample",
    "shuffle_assign",
    "text_classify_quality",
    "doc_chunk_sliding",
    "text_strip_markup",
    "web_domain_filter",
    "segment_dedup_global",
    "timeseries_m4_downsample",
    "timeseries_anomaly_zscore",
    "timeseries_interpolate",
    "timeseries_trend_ols",
    "timeseries_fir_smooth",
    "timeseries_anomaly_chunked",
    "timeseries_winsorize",
    "timeseries_seasonal_profile",
    "quality_fk_orphans",
    "funnel_view_click_purchase",
    "cohort_weekly_retention",
    "timeseries_range_window",
    "text_extract_urls",
    "join_bloom_prune",
    "timeseries_time_weighted_avg",
    "timeseries_gap_topk",
    "dedup_embedding_multiround_auto",
    "join_fuzzy_names",
    "text_inverted_index",
    "json_extract_fields",
    "join_snapshot_diff",
    "timeseries_mad_outliers",
    "events_spatial_pairs",
    "embeddings_cluster_assign",
    "text_bigram_corpus_freq",
    "events_value_quartiles",
    "events_type_cooccurrence",
    "graph_pagerank_nations",
    "events_transition_matrix",
    "mmr_diversify_topk",
    "xml_extract_fields",
    "variant_extract_fields",
    "events_session_window_agg",
    "events_rank_battery",
    "csv_extract_fields",
    "events_quartile_banded",
    "bpe_train_merges",
    "timeseries_burst_windows",
    "events_transition_dwell",
    "timeseries_cusum_shift",
    "embeddings_jl_project",
    "timeseries_histogram",
    "text_bigram_lift",
    "timeseries_autocorr",
    "scd2_status_history",
    "graph_triangle_count",
    "text_oov_rate",
    "join_interval_overlap",
    "events_key_skew_profile",
    "table_checksum_audit",
    "image_dhash_neardup",
    "bpe_encode_apply",
    "text_setsim_prefix_join",
    "orders_backlog_profile",
    "text_lang_confusion",
    "ann_recall_eval",
    "events_attribution_touch",
    "funnel_time_to_convert",
    "text_bigram_perplexity",
    "text_normalize_unicode",
    "text_containment_join",
    "embeddings_standardize",
    "join_point_in_time",
    "join_supplier_diversity",
    "events_top_paths",
    "text_compression_ratio",
    "events_benford_audit",
    "events_rolling_wau",
    "events_kmv_distinct",
    "graph_bfs_recursive",
    "fifo_return_allocation",
    "users_rfm_segments",
    "corpus_source_overlap",
    "graph_kcore_parts",
    "events_countmin_freq",
    "events_interval_islands",
    "events_column_entropy",
    "events_kmv_type_overlap",
    "mixture_water_fill",
    "join_blame_suppliers",
    "text_zipf_fit",
    "parts_pareto_abc",
    "join_small_quantity_revenue",
    "events_ab_test_summary",
    "orders_fulfillment_latency",
    "events_dau_mau",
    "text_novelty_rate",
    "graph_markov_stationary",
    "orders_cohort_ltv",
    "join_top_supplier_quarter",
    "join_disjunctive_revenue",
    # round 7
    "quality_expectations",
    "join_custdist_q13",
    "join_dormant_balances_q22",
    "events_psi_drift",
    "embeddings_corr_probe",
    "embeddings_sparsify_topm",
    "dedup_canonical_map",
    "sample_weighted_topn",
    "video_container_audit",
    "text_readability",
    "dedup_recall_eval",
    "entity_resolution_clusters",
    "events_cumulative_users",
    "table_layout_plan",
    "text_secrets_scan",
    "timeseries_stl_decompose",
    "timeseries_mase_baseline",
    # round 7 session 2
    "join_min_cost_supplier_q2",
    "join_exists_priority_q4",
    "agg_forecast_revenue_q6",
    "join_market_share_q8",
    "join_product_profit_q9",
    "agg_important_values_q11",
    "agg_ship_delay_q12",
    "agg_promo_share_q14",
    "join_excess_suppliers_q20",
    "skyline_parts",
    "events_pattern_match",
    "agg_unpivot_stats",
    "split_group_disjoint",
    "events_relational_division",
    "events_chi_square",
    "basket_part_pairs_lift",
    "sales_hierarchy_shares",
    "agg_mode_per_group",
    "embeddings_label_centroids",
    "ann_hard_negatives",
    "orders_price_reconcile",
    "events_grid_hotspots",
    "events_decayed_type_weight",
    "timeseries_declining_streaks",
]

CHECKS = {
    "flagship_minute_resample": [
        ("HashAggregate", True, "string mins int-encoded → hash agg, no sort"),
        ("SortAggregate", False, "would mean per-partition sorts returned"),
    ],
    "agg_pricing_summary": [
        ("partial_sum", True, "map-side partial aggregation before the shuffle"),
        ("PushedFilters: [IsNotNull(l_shipdate)", True, "shipdate filter reaches the scan"),
    ],
    "join_five_way": [
        ("BroadcastHashJoin", True, "every dimension hop broadcast"),
    ],
    "join_large_orders": [
        ("SortMergeJoin", True, "the fact-fact lineitem⋈orders path is a shuffle SMJ"),
        ("BroadcastHashJoin", True, "the customer dimension still broadcasts"),
    ],
    # (audited with autobroadcast OFF: at sf0.01 every side fits the 10 MB
    # threshold and the planner rightly broadcasts — disabling it shows the
    # shape the plan degrades to at 100 TB: fact-fact SMJ, while the
    # EXPLICIT broadcast(customer) hint must keep its BHJ.)
    "dedup_minhash_lsh": [
        ("SortMergeJoin", False, "pair mining must be join-free (groupBy+expand)"),
    ],
    "pipeline_curate_corpus": [
        ("HashAggregate", True, "LSH bucket stage is a hash agg"),
        ("Scan ExistingRDD", True, "staged metrics ride the localCheckpoint leaf"),
        # the round-2 +34% regression was this plan re-scanning documents and
        # recomputing staged metrics in both the signature branch and the
        # final anti-join — the checkpoint must keep parquet out of the plan
        ("Scan parquet", False, "no re-scan: both branches read the checkpoint"),
    ],
    "multimodal_decode": [
        ("MapInPandas", True, "encode and decode stages are Arrow-batched pandas"),
        ("BatchEvalPython", False, "row-at-a-time Python UDF would be the slow path"),
    ],
    "ann_ivf_topk": [
        ("ArrowEvalPython", True, "cell probe is Arrow-batched (not row-at-a-time Python)"),
        ("BatchEvalPython", False, "row-at-a-time Python UDF would be the slow path"),
    ],
    "dedup_embedding_multiround": [
        ("BroadcastNestedLoopJoin", False, "all-pairs theta-join would be O(n²) at scale"),
        ("CartesianProduct", False, "ditto — every round must ride its LSH bucket equi-join"),
    ],
    "pack_sequences_budget": [
        ("Window", True, "running-sum packing is a sharded window"),
        ("Exchange SinglePartition", False, "a global sort would serialize the corpus in one task"),
    ],
    "tfidf_top_terms": [
        ("BroadcastExchange", True, "the n_docs scalar ships broadcast (1-row NLJ is the right plan)"),
        ("CartesianProduct", False, "no unbroadcast cartesian anywhere"),
    ],
    "text_decontaminate": [
        ("BroadcastHashJoin", True, "benchmark shingle set broadcasts; corpus never reshuffles for the probe"),
        ("SortMergeJoin", False, "an SMJ here would shuffle the whole corpus's shingles"),
    ],
    "text_pii_redact": [
        ("BatchEvalPython", False, "regex detection/redaction stays JVM-side"),
        ("ArrowEvalPython", False, "no Python at all — built-in regexp_count/replace"),
    ],
    "sessionize_two_phase": [
        # the whole point of the two-phase form: the event-scale window
        # partitions on (user, bucket), never on the user alone
        ("_bucket", True, "event-scale window keyed by (user, time-bucket) — no hot-key task"),
        ("BroadcastHashJoin", True, "chunk-offset summary joins back broadcast"),
    ],
    "mixture_sample": [
        ("BroadcastHashJoin", True, "per-source keep fractions broadcast onto the corpus"),
        ("SortMergeJoin", False, "the corpus must never reshuffle for a |sources|-row join"),
    ],
    "shuffle_assign": [
        ("Window", True, "per-shard position is a sharded window"),
        ("Exchange SinglePartition", False, "a global sort would serialize the corpus in one task"),
    ],
    # (the round-robin Exchange from the test-corpus fan_out parallelizer
    # is not a semantic shuffle — only hash/range exchanges are data
    # redistribution the operator asked for)
    "text_classify_quality": [
        ("Exchange hashpartitioning", False, "hashed-BoW scoring is a pure map fused into the scan"),
        ("BatchEvalPython", False, "token hashing + weight fold stay JVM-side (HOFs)"),
    ],
    "doc_chunk_sliding": [
        ("Exchange hashpartitioning", False, "chunking is map + partition-local explode — no shuffle"),
        ("Generate explode", True, "the window fan-out is a Generate, not a join"),
    ],
    "text_strip_markup": [
        ("Exchange hashpartitioning", False, "markup stripping is a pure map of JVM regex passes"),
        ("BatchEvalPython", False, "no Python — regexp_replace/regexp_count only"),
    ],
    "web_domain_filter": [
        # audited with autobroadcast OFF (r6: the F.broadcast hint on the
        # domain stats was removed — at test scale the planner broadcasts
        # on size stats, and with tiny inputs it may even pick the corpus
        # side, so asserting WHICH side broadcasts is meaningless here;
        # what must hold is the 100 TB degradation: a keyed shuffle join):
        ("SortMergeJoin", True, "under the no-stats regime the stats join degrades to a shuffle join"),
        ("BroadcastHashJoin", False, "no forced broadcast — the hint is gone"),
        ("CartesianProduct", False, "keyed join only"),
    ],
    "segment_dedup_global": [
        ("Window", True, "global first-occurrence is a segment-hash-keyed window"),
        ("SortMergeJoin", False, "no self-join: dedup + reassembly are window + groupBy"),
    ],
    "timeseries_m4_downsample": [
        ("HashAggregate", True, "M4 is ONE hash aggregate — first/last ride min/max(struct)"),
        ("Window", False, "no window sort: the row_number form lives only in the oracle"),
    ],
    "timeseries_anomaly_zscore": [
        ("Window", True, "rolling moments are one keyed-window pass"),
        ("Exchange SinglePartition", False, "series partition independently — no global sort"),
    ],
    "timeseries_interpolate": [
        ("Generate explode", True, "the tick spine is sequence+explode, map-side after the agg"),
        ("Exchange SinglePartition", False, "no driver-range spine; series stay parallel"),
    ],
    "join_bloom_prune": [
        ("ArrowEvalPython", True, "bloom membership probe is Arrow-batched, map-side on the scan"),
        ("BatchEvalPython", False, "row-at-a-time Python would be the slow path"),
    ],
    "timeseries_seasonal_profile": [
        ("BroadcastHashJoin", True, "the 120-cell profile broadcasts back — fact side never shuffles"),
        ("SortMergeJoin", False, "no fact reshuffle for a profile join"),
    ],
    "timeseries_range_window": [
        ("Window", True, "the RANGE frame is one keyed window pass"),
        ("Exchange SinglePartition", False, "series partition independently"),
    ],
    "text_extract_urls": [
        ("Exchange hashpartitioning", False, "extraction/normalization is a pure regex map"),
        ("BatchEvalPython", False, "no Python — regexp_extract_all + list lambdas"),
    ],
    "funnel_view_click_purchase": [
        ("Window", True, "stages chain through user-partitioned windows over ONE exchange"),
        ("SortMergeJoin", False, "stage resolution is window CASE algebra, not joins"),
    ],
    "cohort_weekly_retention": [
        # audited with autobroadcast OFF (r6: the F.broadcast hint on the
        # user-cardinality map was removed — at test scale the planner
        # still broadcasts on size stats, but the 100 TB degradation must
        # be a shuffle join, which this override makes visible):
        ("SortMergeJoin", True, "user-cardinality map degrades to a shuffle join, never a forced broadcast"),
        ("BroadcastHashJoin", False, "no broadcast under the no-stats regime — the hint is gone"),
        ("CartesianProduct", False, "no unkeyed join"),
    ],
    "timeseries_winsorize": [
        ("BroadcastHashJoin", True, "per-series bounds broadcast back — fact side never shuffles"),
        ("SortMergeJoin", False, "a 5-row bounds join must not reshuffle the scan"),
    ],
    "quality_fk_orphans": [
        ("BroadcastHashJoin", True, "fixed-size dimensions (nation, region) broadcast"),
    ],
    "timeseries_trend_ols": [
        ("HashAggregate", True, "OLS moments are one decimal hash aggregate"),
        ("Window", False, "no window needed — pure groupBy moments"),
    ],
    "timeseries_anomaly_chunked": [
        ("_bucket", True, "rolling window keyed by (series, time-bucket) — no 5-task ceiling"),
        ("Exchange SinglePartition", False, "chunks partition independently"),
    ],
    "timeseries_fir_smooth": [
        ("Window", True, "all 8 taps share one Window node"),
        ("Exchange SinglePartition", False, "series partition independently"),
    ],
}


# Per-query session-conf overrides applied while BUILDING the audited plan
# (restored afterwards). Used to surface scale-dependent shapes at test SFs.
CHECKS_R6 = {
    "timeseries_time_weighted_avg": [
        ("Window", True, "LOCF segment weights come from ONE keyed-sort lead window"),
        ("BatchEvalPython", False, "segment algebra stays JVM-side"),
    ],
    "timeseries_gap_topk": [
        ("Window", True, "lag + rank ride windows over one keyed sort"),
        ("Exchange SinglePartition", False, "top-k is per-series, never a global sort"),
    ],
    "dedup_embedding_multiround_auto": [
        ("BroadcastNestedLoopJoin", False, "auto-sized planes still bucket equi-join only"),
        ("CartesianProduct", False, "no all-pairs path in the deployment shape"),
    ],
    "join_fuzzy_names": [
        ("Window", True, "sorted-neighborhood candidates ride lead() over ONE keyed sort"),
        ("SortMergeJoin", False, "no self-join shuffle — O(n·w), never per-block n²"),
        ("CartesianProduct", False, "no all-pairs verify"),
    ],
    "text_inverted_index": [
        ("ObjectHashAggregate", True, "posting-list collect is a hash agg, not a sort agg"),
        ("Exchange SinglePartition", False, "postings build per-token, never a global collect"),
    ],
    "json_extract_fields": [
        ("Exchange hashpartitioning", False, "JSON build/parse/extract is a pure map fused into the scan"),
        ("BatchEvalPython", False, "get_json_object stays JVM-side"),
    ],
    "join_snapshot_diff": [
        ("FullOuter", True, "CDC diff is a keyed full-outer join (SMJ node carries the type)"),
        ("CartesianProduct", False, "keyed join only"),
    ],
    "timeseries_mad_outliers": [
        ("BroadcastHashJoin", True, "median/MAD stats broadcast back — fact side never shuffles"),
        ("SortMergeJoin", False, "a 5-row stats join must not reshuffle the scan"),
    ],
    # (audited with autobroadcast OFF: the build side would broadcast at
    # test scale; what must hold at 100 TB is a KEYED cell-join shuffle,
    # never an all-pairs plan)
    "events_spatial_pairs": [
        ("Generate", True, "3×3 cell probing is a map-side explode"),
        ("SortMergeJoin", True, "candidate pairing degrades to a keyed shuffle join on the cell"),
        ("CartesianProduct", False, "never O(n²): only cell-key candidates are distance-tested"),
        ("BroadcastNestedLoopJoin", False, "ditto — no unkeyed join"),
    ],
    "embeddings_cluster_assign": [
        ("Exchange", False, "K-centroid argmax is a PURE MAP — no shuffle, no window"),
        ("BatchEvalPython", False, "all K cosines + struct argmax stay JVM-side"),
    ],
    "text_bigram_corpus_freq": [
        # r12: the per-doc (doc,g,dc) reduction is localCheckpoint()ed so the
        # tokenize+explode pass runs ONCE for its two consumers; the explode
        # executes eagerly at checkpoint build (inside the same action) and
        # the audited final plan therefore starts at the checkpoint leaf —
        # same convention as lake_sorted_roundtrip.
        ("Scan ExistingRDD", True, "per-doc bigram counts reduced once behind the checkpoint leaf"),
        ("HashAggregate", True, "frequency table and per-doc stats are hash aggs"),
        ("CartesianProduct", False, "occurrence↔frequency is a keyed join only"),
    ],
    "events_value_quartiles": [
        ("Window", True, "ntile rides one keyed window sort"),
        ("Exchange SinglePartition", False, "series band independently — no global sort"),
    ],
    "events_type_cooccurrence": [
        ("HashAggregate", True, "distinct (user, type) reduction is a hash agg"),
        ("CartesianProduct", False, "pairing is a user-keyed equi-join, fan-out ≤ C(|types|,2)"),
    ],
    "graph_pagerank_nations": [
        ("Scan ExistingRDD", True, "edge build runs ONCE behind the localCheckpoint leaf"),
        ("lineitem", False, "iterations must not re-execute the fact join via lineage"),
        ("CartesianProduct", False, "contribution steps are keyed joins"),
    ],
    "events_transition_matrix": [
        ("Window", True, "transition pairing is lag over ONE user-keyed sort"),
        ("BroadcastHashJoin", True, "the |types|-row margin joins back broadcast"),
        ("CartesianProduct", False, "keyed joins only"),
    ],
    "mmr_diversify_topk": [
        ("CartesianProduct", False, "pair sims are q_id-keyed, pool²-bounded per query"),
        ("BatchEvalPython", False, "cosines stay JVM-side (HOF fold)"),
    ],
    "xml_extract_fields": [
        ("Exchange hashpartitioning", False, "XML build/parse/extract is a pure map fused into the scan"),
        ("BatchEvalPython", False, "from_xml stays JVM-side"),
    ],
    "variant_extract_fields": [
        ("Exchange hashpartitioning", False, "variant decode + typed gets are a pure map"),
        ("BatchEvalPython", False, "parse_json/variant_get stay JVM-side"),
    ],
    "events_session_window_agg": [
        ("session_window", True, "native gap-session aggregate key (not a window+re-agg emulation)"),
        ("Exchange SinglePartition", False, "users session independently"),
    ],
    "events_rank_battery": [
        ("Window", True, "all four ranking functions share one keyed window sort"),
        ("Exchange SinglePartition", False, "series rank independently"),
    ],
    "csv_extract_fields": [
        ("Exchange hashpartitioning", False, "CSV build/parse/extract is a pure map fused into the scan"),
        ("BatchEvalPython", False, "from_csv stays JVM-side"),
    ],
    "events_quartile_banded": [
        ("BroadcastHashJoin", True, "quartile bounds broadcast back — fact side never sorts or shuffles"),
        ("Window", False, "the scale-safe twin has NO per-series window sort"),
    ],
    "bpe_train_merges": [
        # the registered query returns the driver-built merge table; the
        # training loop's plans are exercised (and checkpoint-bounded) at
        # build time, so the audit only pins that nothing exploded into
        # the final frame
        ("CartesianProduct", False, "merge table is a |rounds|-row local frame"),
    ],
    "timeseries_burst_windows": [
        ("Generate explode", True, "dense minute grid is sequence+explode per series, no driver range"),
        ("BroadcastHashJoin", True, "count moments broadcast back — the minute table never reshuffles"),
    ],
    "events_transition_dwell": [
        ("Window", True, "dwell deltas ride the same ONE user-keyed lag sort as the matrix"),
        ("Exchange SinglePartition", False, "per-transition stats, never a global sort"),
    ],
    "timeseries_cusum_shift": [
        ("Window", True, "CUSUM linearizes to prefix-sum + running-min frames over ONE keyed sort"),
        ("BatchEvalPython", False, "the recursion identity keeps everything JVM-side"),
    ],
    "embeddings_jl_project": [
        ("Exchange", False, "the projection is a PURE MAP — 16 literal dot products, no shuffle"),
        ("BatchEvalPython", False, "unrolled HOF dots stay JVM-side"),
    ],
    "timeseries_histogram": [
        ("BroadcastHashJoin", True, "bin bounds broadcast back — the scan never reshuffles"),
        ("Window", False, "binning is arithmetic, not a window"),
    ],
    "text_bigram_lift": [
        ("TakeOrderedAndProject", True, "top-20 is a TakeOrdered, never a global window sort"),
        ("CartesianProduct", False, "the 1-row totals ride broadcast; frequency joins are keyed"),
    ],
}
CHECKS.update(CHECKS_R6)

# round-6 session-3 batch
CHECKS_R6C = {
    "timeseries_autocorr": [
        ("Window", True, "lag reads ride ONE keyed sort over the minute-bucketed series"),
        ("BatchEvalPython", False, "all ACF moments are JVM-side decimal aggregates"),
    ],
    "scd2_status_history": [
        ("Window", True, "change-flag + interval stitch are window reads"),
        ("SortAggregate", False, "run-group rollup stays a hash aggregate"),
    ],
    "graph_triangle_count": [
        ("CartesianProduct", False, "wedge join is keyed on the pivot vertex"),
        ("BroadcastNestedLoopJoin", False, "degree-orientation keeps every join keyed"),
    ],
    "text_oov_rate": [
        ("BroadcastHashJoin", True, "the top-V vocab is bounded → principled broadcast"),
        ("BatchEvalPython", False, "tokenize/coverage stays JVM-side"),
    ],
}
CHECKS.update(CHECKS_R6C)

# round-6 session-3 batch 4
CHECKS_R6D = {
    "join_interval_overlap": [
        ("SortMergeJoin", True, "the (user, cell) equi-join shuffles — the shape a theta join lacks"),
        ("BroadcastNestedLoopJoin", False, "a naive interval theta join degenerates to BNLJ"),
        ("CartesianProduct", False, "never all-pairs"),
        ("Generate", True, "interval → covered-cell replication is a partition-local explode"),
    ],
    "events_key_skew_profile": [
        ("partial_count", True, "key counts combine map-side before the one corpus shuffle"),
        ("BatchEvalPython", False, "gini/top-k algebra is all JVM-side"),
    ],
    "table_checksum_audit": [
        ("partial_sum", True, "checksums accumulate map-side; only 1-row partials move"),
        ("BatchEvalPython", False, "md5 canonicalization is JVM-native"),
        ("Exchange hashpartitioning", False, "no keyed shuffle anywhere — pure scan+reduce per table"),
    ],
}
CHECKS_R6D["image_dhash_neardup"] = [
    ("ArrowEvalPython", False, "decode+hash ride ONE mapInPandas stage, not row-at-a-time"),
    ("BatchEvalPython", False, "no row-at-a-time Python anywhere"),
    ("CartesianProduct", False, "pair mining is the banded equi-join, never all-pairs"),
]
CHECKS_R6D["bpe_encode_apply"] = [
    ("SortAggregate", False, "doc rollup and the vocab sub-count stay hash aggregates"),
    ("BatchEvalPython", False, "merge application is Arrow-batched during training only"),
]
CHECKS_R6D["text_setsim_prefix_join"] = [
    ("CartesianProduct", False, "candidates come from the prefix equi-join, never all-pairs"),
    ("BroadcastNestedLoopJoin", False, "no theta join anywhere"),
    ("BatchEvalPython", False, "shingling/ranking/verify all JVM-side"),
]
CHECKS_R6D["orders_backlog_profile"] = [
    ("partial_sum", True, "boundary deltas combine map-side before the day shuffle"),
    ("BatchEvalPython", False, "sweep-line is pure JVM arithmetic"),
]
CHECKS_R6D["text_lang_confusion"] = [
    ("partial_count", True, "the confusion cells combine map-side"),
    ("BatchEvalPython", False, "lang detection is the JVM marker CASE"),
]
CHECKS_R6D["ann_recall_eval"] = [
    ("CartesianProduct", False, "hit matching is a keyed join of two top-k frames"),
]
CHECKS_R6D["events_attribution_touch"] = [
    ("Window", True, "both touch models share ONE window node over one user sort"),
    ("partial_count", True, "the model x channel rollup combines map-side"),
    ("BatchEvalPython", False, "attribution is pure JVM window algebra"),
]
CHECKS_R6D["funnel_time_to_convert"] = [
    ("CartesianProduct", False, "quantile selection is a window + conditional agg, no joins"),
    ("BatchEvalPython", False, "latency math is exact integer JVM arithmetic"),
]
CHECKS_R6D["text_bigram_perplexity"] = [
    ("SortAggregate", False, "model-building and the per-doc rollup stay hash aggregates"),
    ("BatchEvalPython", False, "fixed-point ln terms are JVM expressions"),
    ("CartesianProduct", False, "only the one-row vocab scalar cross-joins (broadcast)"),
]
CHECKS_R6D["text_normalize_unicode"] = [
    ("Exchange", False, "normalization is a pure map - zero shuffles"),
    ("BatchEvalPython", False, "regex pipeline is JVM-native"),
]
CHECKS_R6D["text_containment_join"] = [
    ("CartesianProduct", False, "candidates come from the one-sided prefix equi-join"),
    ("BroadcastNestedLoopJoin", False, "no theta join anywhere"),
    ("BatchEvalPython", False, "hash-keyed pipeline is JVM-side end to end"),
]
CHECKS_R6D["embeddings_standardize"] = [
    ("SortAggregate", False, "dim stats and the per-vector rollup stay hash aggregates"),
    ("BatchEvalPython", False, "z-scaling is JVM expression arithmetic"),
]
CHECKS_R6D["join_point_in_time"] = [
    ("CartesianProduct", False, "history replay is the union-tag window, never a theta join"),
    ("BroadcastNestedLoopJoin", False, "no interval explosion"),
    ("BatchEvalPython", False, "pure JVM window algebra"),
]
CHECKS_R6D["join_supplier_diversity"] = [
    ("BroadcastHashJoin", True, "part dim and the disqualified-key anti ride broadcasts"),
    ("SortMergeJoin", False, "no fact-side shuffle for dimension-bounded sides"),
    ("HashAggregate", True, "single-distinct plans as two-level hash agg (no Expand needed)"),
]
CHECKS_R6D["events_top_paths"] = [
    ("Window", True, "session numbering and both leads share the user-keyed sort"),
    ("TakeOrderedAndProject", True, "top-15 never globally sorts the path counts"),
    ("BatchEvalPython", False, "path building is JVM window algebra"),
]
CHECKS_R6D["text_compression_ratio"] = [
    ("MapInPandas", True, "the DEFLATE codec is the one principled Arrow-batched stage"),
    ("Exchange", False, "pure map over the scan - zero shuffles"),
]
CHECKS_R6D["events_benford_audit"] = [
    ("partial_count", True, "digit counts combine map-side"),
    ("BatchEvalPython", False, "digit extraction is JVM int-to-string, no log10 anywhere"),
]
CHECKS_R6D["events_rolling_wau"] = [
    ("CartesianProduct", False, "window membership is the bounded sequence-explode, no theta join"),
    ("BatchEvalPython", False, "calendar arithmetic is JVM-native"),
]
CHECKS_R6D["events_kmv_distinct"] = [
    ("WindowGroupLimit", True, "rank-limit pushes below the shuffle: k minima select map-side"),
    ("BatchEvalPython", False, "md5-prefix hashing is JVM-native"),
]
CHECKS_R6D["graph_bfs_recursive"] = [
    ("UnionLoop", True, "Spark 4 native recursive-CTE execution node"),
    ("BatchEvalPython", False, "pure SQL recursion, no Python"),
]
CHECKS_R6D["fifo_return_allocation"] = [
    ("RunningWindowFunction", False, "plain running sum, not the slow generic path"),
    ("BatchEvalPython", False, "interval-overlap allocation is JVM arithmetic"),
    ("CartesianProduct", False, "pool joins by part key, no theta join"),
]
CHECKS_R6D["users_rfm_segments"] = [
    ("BatchEvalPython", False, "banding is CASE arithmetic, JVM-side"),
    ("BroadcastNestedLoopJoin BuildRight, Cross", True,
     "threshold frames are 1-row broadcast cross joins, never a shuffled cartesian"),
    ("CartesianProduct", False, "a shuffled cartesian would mean a threshold frame lost its broadcast"),
]
CHECKS_R6D["corpus_source_overlap"] = [
    ("BatchEvalPython", False, "shingling and pair expansion are JVM HOFs"),
    ("CartesianProduct", False, "pairs come from per-shingle buckets, no source x source theta join"),
]
CHECKS_R6D["events_countmin_freq"] = [
    ("TakeOrderedAndProject", True,
     "the global top-10 probe plans as TakeOrdered (per-partition heaps + 10-row merge), not a full sort"),
    ("BatchEvalPython", False, "salted md5 cell hashing is JVM-native"),
]
CHECKS_R6D["events_interval_islands"] = [
    ("Window", True, "break detection + island numbering share one user-keyed sort"),
    ("BatchEvalPython", False, "interval algebra is JVM-native"),
]
CHECKS_R6D["events_column_entropy"] = [
    ("partial_count", True, "value histograms combine map-side"),
    ("BatchEvalPython", False, "micro-nat entropy is JVM decimal algebra"),
]
CHECKS_R6D["events_kmv_type_overlap"] = [
    ("WindowGroupLimit", True, "sketch minima select map-side before every exchange"),
    ("BatchEvalPython", False, "sketch merge and estimates are JVM integer algebra"),
]
CHECKS_R6D["mixture_water_fill"] = [
    ("BatchEvalPython", False, "fill-line search is window algebra over the source histogram"),
]
CHECKS_R6D["join_blame_suppliers"] = [
    ("partial_max", True, "per-(order,supplier) return flags combine map-side"),
    ("BroadcastNestedLoopJoin", False, "the decorrelated rewrite joins by order key only"),
]
CHECKS_R6D["text_zipf_fit"] = [
    ("TakeOrderedAndProject", True,
     "top-V selection plans as TakeOrdered (per-partition heaps), not a full vocab sort"),
    ("BatchEvalPython", False, "fixed-point OLS is JVM decimal algebra"),
]
CHECKS_R6D["parts_pareto_abc"] = [
    # the ONE single-partition exchange in this plan is the <=63-row
    # band-totals offset window - bounded by construction; the
    # corpus-scaled within-band cumsum must partition by band:
    ("Exchange hashpartitioning(band", True,
     "the part-scaled cumsum window is keyed by log2 band, never one task"),
    ("BatchEvalPython", False, "banding and shares are exact JVM integer algebra"),
]
CHECKS_R6D["join_small_quantity_revenue"] = [
    ("BroadcastHashJoin", True, "the part dim broadcasts; per-part stats join by key"),
    ("BatchEvalPython", False, "the cross-multiplied threshold is JVM integer math"),
]
CHECKS_R6D["events_ab_test_summary"] = [
    ("partial_", True, "arm moments combine map-side"),
    ("BatchEvalPython", False, "assignment hash + Welch chain are JVM-side"),
]
CHECKS_R6D["orders_fulfillment_latency"] = [
    ("SortMergeJoin", True, "the fact-fact orders-lineitem path is a shuffle SMJ"),
    ("BatchEvalPython", False, "latency algebra is JVM integer microseconds"),
]
CHECKS_R6D["events_dau_mau"] = [
    ("CartesianProduct", False, "window membership is the bounded x28 explode, no theta join"),
    ("BatchEvalPython", False, "calendar arithmetic is JVM-native"),
]
CHECKS_R6D["text_novelty_rate"] = [
    ("SortMergeJoin", True, "first-seen owners join back by shingle key (vocabulary-scaled - correctly NOT broadcast)"),
    ("BatchEvalPython", False, "shingling is the JVM zip_with pipeline"),
]
CHECKS_R6D["graph_markov_stationary"] = [
    ("Scan ExistingRDD", True, "the transition matrix rides its localCheckpoint, built once"),
    ("BatchEvalPython", False, "power iteration is JVM decimal algebra"),
]
CHECKS_R6D["orders_cohort_ltv"] = [
    ("partial_", True, "order reductions combine map-side"),
    ("BatchEvalPython", False, "month arithmetic is exact JVM integers"),
]
CHECKS_R6D["join_top_supplier_quarter"] = [
    ("PushedFilters", True, "the quarter bounds reach the lineitem scan"),
    ("BroadcastExchange", True, "the scalar max and the supplier dim broadcast"),
]
CHECKS_R6D["join_disjunctive_revenue"] = [
    ("PushedFilters", True, "common conjuncts extract from the OR and push to scans"),
    ("BatchEvalPython", False, "the disjunction is JVM predicate algebra"),
]
CHECKS.update(CHECKS_R6D)

CHECKS_R7: dict = {}
CHECKS_R7["quality_expectations"] = [
    ("Expand", False,
     "one distinct in the battery never triggers the multi-distinct Expand fallback"),
    ("partial_", True, "every violation sum combines map-side in the single scan"),
    ("BatchEvalPython", False, "expectation predicates are JVM expression algebra"),
]
CHECKS_R7["join_custdist_q13"] = [
    ("SortMergeJoin", True,
     "customer-orders LEFT join is a shuffle SMJ (audited with autobroadcast "
     "off — the 100 TB shape); the per-customer count reuses its exchange"),
    ("partial_count", True, "the count distribution combines map-side"),
]
CHECKS_R7["join_dormant_balances_q22"] = [
    ("BroadcastNestedLoopJoin", True,
     "the 1-row scalar mean rides a broadcast cross join, never a shuffle"),
    ("BatchEvalPython", False, "cents and the balance threshold are JVM algebra"),
]
CHECKS_R7["events_psi_drift"] = [
    ("BroadcastHashJoin", True,
     "epoch bounds and the 10-row bin spine broadcast to the corpus scan"),
    ("partial_", True, "the type x period x bin histogram combines map-side"),
    ("BatchEvalPython", False, "micro-nat logs are JVM expressions"),
]
CHECKS_R7["embeddings_corr_probe"] = [
    ("Expand", False, "95 pairs are flat aggregate columns, not a pair explode"),
    ("SortAggregate", False, "all 224 decimal moments stay hash-aggregable"),
    ("BatchEvalPython", False, "moments-to-r algebra is JVM-side"),
]
CHECKS_R7["embeddings_sparsify_topm"] = [
    ("Exchange hashpartitioning(vec_id", True,
     "the rank window keys on corpus-scaled vec_id — no single-partition sort"),
    ("BatchEvalPython", False, "posexplode + window, no Python"),
]
CHECKS_R7["dedup_canonical_map"] = [
    ("SortAggregate", False,
     "the packed-decimal max_by keeps the representative argmax hash-aggregable"),
    ("CartesianProduct", False, "the map-back is a keyed join"),
]
CHECKS_R7["sample_weighted_topn"] = [
    ("TakeOrderedAndProject", True,
     "the weighted top-k plans as per-partition heaps + k-row merge, no global sort"),
    ("BatchEvalPython", False, "A-ES keys are JVM md5/ln expressions"),
]
CHECKS_R7["video_container_audit"] = [
    ("MapInPandas", True, "mux and demux are Arrow-batched, never per-row Python"),
    ("BatchEvalPython", False, "no row-at-a-time UDF"),
]
CHECKS_R7["text_readability"] = [
    ("Exchange", False, "readability is a pure map over the scan - zero shuffles"),
    ("BatchEvalPython", False, "counts are JVM regexp_count expressions"),
]
CHECKS_R7["dedup_recall_eval"] = [
    ("CartesianProduct", False,
     "the three 1-row stat frames cross-join via broadcast, nothing corpus-scaled"),
]
CHECKS_R7["entity_resolution_clusters"] = [
    ("Scan ExistingRDD", True,
     "components ride their checkpointed fixpoint, built once"),
    ("CartesianProduct", False, "cluster map-back is a keyed join"),
]
CHECKS_R7["events_cumulative_users"] = [
    ("partial_min", True, "first-seen days combine map-side in the user aggregate"),
    # the running sum's single-partition window is calendar-bounded (<=|days| rows)
]
CHECKS_R7["table_layout_plan"] = [
    ("partial_", True, "byte sums combine map-side; three 1-row aggregates union"),
    ("BatchEvalPython", False, "the byte model is JVM octet_length algebra"),
]
CHECKS_R7["text_secrets_scan"] = [
    # the only Exchange is fan_out's round-robin (single-file scan
    # parallelism) — no KEYED shuffle anywhere
    ("Exchange hashpartitioning", False, "detect + redact never shuffles by key"),
    ("BatchEvalPython", False, "patterns are JVM regexp expressions"),
]
CHECKS_R7["timeseries_stl_decompose"] = [
    ("Exchange hashpartitioning(event_type", True,
     "both windows key on event_type over the BUCKETED hourly series"),
    ("BatchEvalPython", False, "decomposition is JVM decimal/window algebra"),
]
CHECKS_R7["timeseries_mase_baseline"] = [
    ("partial_", True, "hourly means combine map-side before the lag window"),
    ("BatchEvalPython", False, "error sums are JVM decimal algebra"),
]
CHECKS.update(CHECKS_R7)

CHECKS_R7B: dict = {}
CHECKS_R7B["join_min_cost_supplier_q2"] = [
    ("BroadcastHashJoin", True, "part/supplier/nation/region dims broadcast"),
    ("CartesianProduct", False, "correlated min is a window, never a self-join"),
]
CHECKS_R7B["join_exists_priority_q4"] = [
    ("LeftSemi", True, "EXISTS → semi join; lineitem never materialized"),
]
CHECKS_R7B["agg_forecast_revenue_q6"] = [
    ("PushedFilters: [IsNotNull", True, "every predicate reaches the parquet scan"),
    ("Exchange hashpartitioning", False, "1-row agg needs only the SinglePartition merge"),
]
CHECKS_R7B["join_market_share_q8"] = [
    ("BroadcastHashJoin", True, "nation/region/supplier hops broadcast"),
    ("SortMergeJoin", True, "lineitem⋈orders fact-fact stays SMJ"),
]
CHECKS_R7B["join_product_profit_q9"] = [
    ("BroadcastHashJoin", True, "part/supplier/nation dims broadcast"),
    ("SortMergeJoin", True, "lineitem⋈orders fact-fact stays SMJ"),
]
CHECKS_R7B["agg_important_values_q11"] = [
    ("BroadcastNestedLoopJoin", True, "1-row grand-total scalar broadcast back"),
    ("CartesianProduct", False, "the scalar join must broadcast, not cartesian"),
]
CHECKS_R7B["agg_ship_delay_q12"] = [
    ("SortMergeJoin", True, "orders⋈lineitem fact-fact stays SMJ"),
    ("HashAggregate", True, "CASE-bucketed conditional sums hash-aggregate"),
]
CHECKS_R7B["agg_promo_share_q14"] = [
    ("BroadcastHashJoin", True, "part dim broadcast against the filtered scan"),
    ("PushedFilters: [IsNotNull(l_shipdate)", True, "month window pushed to the scan"),
]
CHECKS_R7B["join_excess_suppliers_q20"] = [
    ("LeftSemi", True, "nested IN chain → stacked semi joins"),
]
CHECKS_R7B["skyline_parts"] = [
    ("BroadcastHashJoin", True, "tiny frontier broadcast back against the base"),
    ("CartesianProduct", False, "skyline is reduce-then-sweep, never all-pairs"),
]
CHECKS_R7B["events_pattern_match"] = [
    ("ObjectHashAggregate", True, "sequence build aggregates without a sort"),
    ("SortAggregate", False, "would mean per-partition sorts returned"),
]
CHECKS_R7B["agg_unpivot_stats"] = [
    ("Expand", True, "native unpivot lowers to an Expand node"),
]
CHECKS_R7B["split_group_disjoint"] = [
    ("Exchange hashpartitioning", True, "one shuffle for the profile groupBy"),
]
CHECKS_R7B["events_relational_division"] = [
    # Catalyst promotes the post-join equality filter into the join key:
    # the 1-row divisor arrives as a keyed BroadcastHashJoin, not a BNLJ.
    ("BroadcastHashJoin", True, "1-row divisor broadcast with a promoted equi-key"),
    ("CartesianProduct", False, "the scalar join must broadcast, not cartesian"),
]
CHECKS_R7B["events_chi_square"] = [
    ("BroadcastHashJoin", True, "customer dim broadcast into the fact scan"),
]
CHECKS_R7B["basket_part_pairs_lift"] = [
    ("CartesianProduct", False, "pairs come from the basket-key equi-join"),
    ("TakeOrderedAndProject", True, "top-100 by lift never globally sorts"),
]
CHECKS_R7B["sales_hierarchy_shares"] = [
    ("BroadcastHashJoin", True, "customer/nation/region dims broadcast"),
    ("SortMergeJoin", True, "lineitem\u22c8orders fact-fact stays SMJ"),
]
CHECKS_R7B["agg_mode_per_group"] = [
    ("HashAggregate", True, "count frame hash-aggregates before the window"),
    ("WindowGroupLimit", True, "rank=1 filter pushes a per-key group limit"),
]
CHECKS_R7B["embeddings_label_centroids"] = [
    ("HashAggregate", True, "64 per-dim decimal sums in one grouped pass"),
    ("CartesianProduct", False, "pair stage is a keyed theta-join on the tiny centroid frame"),
]
CHECKS_R7B["ann_hard_negatives"] = [
    ("BroadcastNestedLoopJoin", True, "queries broadcast against the fanned-out corpus"),
    ("WindowGroupLimit", True, "rank<=3 pushes a per-query group limit"),
    ("BatchEvalPython", False, "cosine is JVM higher-order functions, not Python"),
]
CHECKS_R7B["orders_price_reconcile"] = [
    ("SortMergeJoin", True, "orders\u22c8line-detail fact-fact stays SMJ"),
    ("TakeOrderedAndProject", True, "worst-50 never globally sorts"),
]
CHECKS_R7B["events_grid_hotspots"] = [
    ("HashAggregate", True, "one grouped pass over the fact; stats on the 400-cell frame"),
    # the occupied-cell frame is GRID-bounded (<=400 rows at any corpus
    # size), so broadcasting it against the generated grid is the right
    # plan at 100 TB too
    ("BroadcastHashJoin", True, "grid-bounded occupied-cell frame broadcasts"),
]
CHECKS_R7B["events_decayed_type_weight"] = [
    ("HashAggregate", True, "integer decay mass is one hash aggregate"),
    ("BatchEvalPython", False, "bit-shift weights are pure JVM expressions"),
]
CHECKS_R7B["timeseries_declining_streaks"] = [
    ("RunningWindowFunction", False, "plain frame windows, no special exec needed"),
    ("Exchange SinglePartition", False, "user-keyed windows never serialize globally"),
]
CHECKS.update(CHECKS_R7B)

# Round-8: full-registry coverage. Streaming slots are audited against the
# streaming physical plan captured by plans.ingest.record_stream_plan
# (explainInternal after the availableNow run) — the returned batch frame
# is a memory-sink/parquet readback whose plan can't show the state-store
# machinery that actually executed.
STREAM_AUDITED = {
    "streaming_hour_agg",
    "streaming_click_purchase_join",
    "streaming_enrich_dim",
    "streaming_dedup_keys",
    "streaming_sessionize_state",
    "streaming_rollup_merge",
    "streaming_sink_parquet_epoch",
    "streaming_anomaly_zscore",
    "streaming_checkpoint_recovery",
}

AUDITED += [
    "dedup_incremental_lsh",
    "streaming_sink_parquet_epoch",
    "streaming_dedup_keys",
    "streaming_sessionize_state",
    "streaming_rollup_merge",
    "streaming_anomaly_zscore",
    "ingest_ndjson_quarantine",
    "repair_audit_partitions",
    "events_quality_profile",
    "streaming_hour_agg",
    "streaming_click_purchase_join",
    "streaming_enrich_dim",
    "pysource_ramp_scan",
    "text_metrics",
    "text_collapse_stutter",
    "quality_percentile_filter",
    "dedup_exact",
    "dedup_ngram_jaccard",
    "dedup_simhash",
    "ann_cosine_topk",
    "vector_quantize_int8",
    "curation_assign",
    "sample_topk_per_source",
    "epoch_normalize_multiscale",
    "parse_s3_keys",
    "proj_enrich_union",
    "filter_suite",
    "sort_topk",
    "distinct_multi",
    "agg_grouping_multi",
    "agg_count_distinct",
    "agg_approx_distinct",
    "agg_pivot",
    "agg_conditional_having",
    "agg_value_stats",
    "agg_sliding_window",
    "events_heavy_hitters",
    "join_semi_anti",
    "join_top_revenue",
    "join_nation_pairs",
    "window_lag_runsum",
    "asof_purchase_click",
    "set_ops",
    "agg_distributions",
    "subquery_mixed",
    "scalar_funcs",
    "lake_zorder_roundtrip",
    # round-9 slots
    "streaming_checkpoint_recovery",
    "lake_sorted_roundtrip",
    "events_fill_gaps",
]

CHECKS_R8: dict = {}
CHECKS_R8["lake_zorder_roundtrip"] = [
    ("Scan ExistingRDD", True,
     "fidelity + pruned-filter aggregates materialized eagerly — the "
     "z-ordered write/readback ran at build, before the temp lake is "
     "cleaned; the file-skipping plan shape is pinned in pytest"),
]
CHECKS_R8["dedup_incremental_lsh"] = [
    ("Scan ExistingRDD", True,
     "kept frame rides its materialized checkpoint — both ingest epochs "
     "(index build + batch dedup) executed eagerly at build; per-phase cost "
     "recorded in BENCH_LOCAL.json phase_detail"),
]
CHECKS_R8["ingest_ndjson_quarantine"] = [
    ("Scan ExistingRDD", True,
     "routing result materialized eagerly — PERMISSIVE parse + quarantine "
     "split ran at build, before the staging dir is cleaned"),
]
CHECKS_R8["repair_audit_partitions"] = [
    ("HashAggregate", True, "DISTINCT misfiled partitions is a two-level hash agg"),
    ("BatchEvalPython", False, "epoch normalization is JVM CASE algebra"),
]
CHECKS_R8["events_quality_profile"] = [
    ("partial_", True, "all rule counters and profile moments combine map-side in ONE scan"),
    ("Generate stack", True, "the tall report lays out via one stack(), never per-metric re-scans"),
]
CHECKS_R8["pysource_ramp_scan"] = [
    ("HashAggregate", True, "ramp rollup is a hash aggregate"),
    ("BatchEvalPython", False, "no row-at-a-time Python in the scan path"),
]
CHECKS_R8["text_metrics"] = [
    ("Exchange hashpartitioning", False, "per-doc metrics never shuffle by key (only fan_out's round-robin scan parallelizer)"),
    ("BatchEvalPython", False, "counts are JVM regexp/length expressions"),
]
CHECKS_R8["text_collapse_stutter"] = [
    ("Exchange hashpartitioning", False, "stutter collapse never shuffles by key (only fan_out's round-robin scan parallelizer)"),
    ("BatchEvalPython", False, "regexp_replace stays JVM-side"),
]
CHECKS_R8["quality_percentile_filter"] = [
    ("Window", True, "percentile threshold rides a keyed window"),
    ("Exchange SinglePartition", False, "never a global sort"),
]
CHECKS_R8["dedup_exact"] = [
    ("HashAggregate", True, "content-hash dedup is one grouped pass"),
    ("SortMergeJoin", False, "no self-join anywhere"),
]
CHECKS_R8["dedup_ngram_jaccard"] = [
    ("CartesianProduct", False, "pairs come from shingle-bucket equi-joins, never all-pairs"),
    ("BroadcastNestedLoopJoin", False, "no theta join"),
]
CHECKS_R8["dedup_simhash"] = [
    ("CartesianProduct", False, "banded simhash keys equi-join only"),
    ("BatchEvalPython", False, "bit algebra is JVM-side"),
]
CHECKS_R8["ann_cosine_topk"] = [
    ("BroadcastNestedLoopJoin", True,
     "the bounded query set broadcasts against the corpus — the principled brute-force baseline"),
    ("WindowGroupLimit", True, "top-k pushes per-query group limits map-side"),
    ("BatchEvalPython", False, "cosine is JVM higher-order functions"),
]
CHECKS_R8["vector_quantize_int8"] = [
    ("Exchange hashpartitioning", False, "quantization never shuffles by key — trained bounds ride as literals"),
    ("BatchEvalPython", False, "scale/clip arithmetic is JVM-side"),
]
CHECKS_R8["curation_assign"] = [
    ("Exchange", False, "rule assignment is a pure map over the scan"),
    ("BatchEvalPython", False, "rule predicates are JVM expressions"),
]
CHECKS_R8["sample_topk_per_source"] = [
    ("WindowGroupLimit", True, "rank limit selects top-k map-side before the shuffle"),
    ("Exchange SinglePartition", False, "per-source top-k never serializes globally"),
]
CHECKS_R8["epoch_normalize_multiscale"] = [
    ("Exchange", False, "multi-scale normalize is a pure map — zero shuffles"),
    ("BatchEvalPython", False, "scale branches are JVM CASE algebra"),
]
CHECKS_R8["parse_s3_keys"] = [
    ("Exchange", False, "key parse/split/flatten is a pure map — zero shuffles"),
    ("BatchEvalPython", False, "split/struct algebra is JVM-side"),
]
CHECKS_R8["proj_enrich_union"] = [
    ("Union", True, "drift-tolerant union-by-name lowers to one Union node"),
    ("Exchange hashpartitioning", False, "projection/rename/literal never shuffles"),
]
CHECKS_R8["filter_suite"] = [
    ("PushedFilters: [IsNotNull", True, "every predicate reaches the parquet scan"),
    ("BatchEvalPython", False, "3-valued logic is JVM predicate algebra"),
]
CHECKS_R8["sort_topk"] = [
    ("TakeOrderedAndProject", True,
     "top-k plans as per-partition heaps + k-row merge, never a full sort"),
]
CHECKS_R8["distinct_multi"] = [
    ("HashAggregate", True, "multi-column DISTINCT is a hash agg"),
    ("SortAggregate", False, "no per-partition sorts"),
]
CHECKS_R8["agg_grouping_multi"] = [
    ("Expand", True, "grouping sets lower to one Expand over ONE scan"),
]
CHECKS_R8["agg_count_distinct"] = [
    ("HashAggregate", True, "distinct count plans as a two-level hash agg"),
    ("SortAggregate", False, "no sort fallback"),
]
CHECKS_R8["agg_approx_distinct"] = [
    ("approx_count_distinct", True, "HLL sketch partials combine map-side"),
    ("partial_", True, "mergeable partial aggregation before the shuffle"),
]
CHECKS_R8["agg_pivot"] = [
    ("HashAggregate", True, "pivot lowers to conditional aggregates in ONE grouped pass"),
    ("BatchEvalPython", False, "pivot CASE algebra is JVM-side"),
]
CHECKS_R8["agg_conditional_having"] = [
    ("partial_", True, "conditional sums combine map-side"),
    ("BatchEvalPython", False, "HAVING predicates are JVM expressions"),
]
CHECKS_R8["agg_value_stats"] = [
    ("partial_", True, "all moments combine map-side in one scan"),
    ("SortAggregate", False, "stats stay hash-aggregable"),
]
CHECKS_R8["agg_sliding_window"] = [
    ("Expand", True, "sliding windows replicate rows via one Expand, not a self-join"),
    ("CartesianProduct", False, "no window-membership theta join"),
]
CHECKS_R8["events_heavy_hitters"] = [
    ("MapInPandas", True, "mergeable Misra-Gries partials are Arrow-batched"),
    ("BatchEvalPython", False, "no row-at-a-time Python"),
]
CHECKS_R8["join_semi_anti"] = [
    ("LeftSemi", True, "EXISTS side lowers to a semi join"),
    ("LeftAnti", True, "NOT-EXISTS side lowers to an anti join"),
]
CHECKS_R8["join_top_revenue"] = [
    ("TakeOrderedAndProject", True, "top revenue rows never globally sort"),
    ("BroadcastHashJoin", True, "dimensions broadcast"),
]
CHECKS_R8["join_nation_pairs"] = [
    ("BroadcastHashJoin", True, "nation dims broadcast on both hops"),
    ("CartesianProduct", False, "keyed joins only"),
]
CHECKS_R8["window_lag_runsum"] = [
    ("Window", True, "lag + running sum share one keyed window sort"),
    ("Exchange SinglePartition", False, "series window independently"),
]
CHECKS_R8["asof_purchase_click"] = [
    ("Window", True, "as-of match rides the union-tag window, never a theta join"),
    ("CartesianProduct", False, "no all-pairs"),
    ("BroadcastNestedLoopJoin", False, "no interval explosion"),
]
CHECKS_R8["set_ops"] = [
    ("LeftSemi", True, "INTERSECT lowers to a semi join"),
    ("LeftAnti", True, "EXCEPT lowers to an anti join"),
]
CHECKS_R8["agg_distributions"] = [
    ("ObjectHashAggregate", True, "percentile aggregates stay hash-based"),
    ("SortAggregate", False, "no sort fallback"),
]
CHECKS_R8["subquery_mixed"] = [
    ("LeftSemi", True, "IN subquery lowers to a semi join"),
    ("BroadcastHashJoin", True, "subquery sides broadcast"),
]
CHECKS_R8["scalar_funcs"] = [
    ("Exchange", False, "scalar battery is a pure map — zero shuffles"),
    ("BatchEvalPython", False, "every function is a JVM expression"),
]
# streaming plans (asserted against explainInternal of the EXECUTED stream)
CHECKS_R8["streaming_hour_agg"] = [
    ("StateStoreSave", True, "windowed agg state persists in the state store"),
    ("EventTimeWatermark", True, "watermark bounds the state"),
]
CHECKS_R8["streaming_click_purchase_join"] = [
    ("StreamingSymmetricHashJoin", True,
     "stream-stream join executes via the symmetric state-store join"),
    ("EventTimeWatermark", True, "watermarks let join state expire"),
]
CHECKS_R8["streaming_enrich_dim"] = [
    ("StateStoreSave", True, "complete-mode agg keeps state across micro-batches"),
    ("BroadcastHashJoin", True, "the static dimension broadcasts per micro-batch"),
]
CHECKS_R8["streaming_dedup_keys"] = [
    ("StreamingDeduplicateWithinWatermark", True,
     "dedup state is watermark-bounded — O(rate x horizon), not stream history"),
    ("EventTimeWatermark", True, "the eviction horizon is a real watermark"),
]
CHECKS_R8["streaming_sessionize_state"] = [
    ("FlatMapGroupsInPandasWithState", True,
     "session state runs through applyInPandasWithState (Arrow-batched)"),
]
CHECKS_R8["streaming_rollup_merge"] = [
    ("ForeachBatchSink", True, "the additive merge path runs through foreachBatch"),
    ("EventTimeWatermark", True, "late data bounded by a real watermark"),
]
CHECKS_R8["streaming_sink_parquet_epoch"] = [
    ("ForeachBatchSink", True, "the production epoch sink is a foreachBatch write"),
    ("PushedFilters: [IsNotNull(ts)", True, "the ts filter reaches the streamed file scan"),
]
CHECKS_R8["streaming_anomaly_zscore"] = [
    ("FlatMapGroupsInPandasWithState", True,
     "per-series rolling state runs through applyInPandasWithState"),
]
CHECKS.update(CHECKS_R8)

# round-9 slots
CHECKS_R9: dict = {}
CHECKS_R9["streaming_checkpoint_recovery"] = [
    # the audited plan is run 2 — the RESTART from the shared checkpoint
    ("FileSink", True,
     "the restart writes through the exactly-once streaming file sink"),
    ("checkpointLocation", True,
     "the restart carries the SHARED checkpoint — its source offsets make "
     "run 2 skip run 1's file (the oracle's 2x algebra proves it did)"),
    ("IsNotNull(ts)", True, "the ts filter reaches the streamed scan"),
]
CHECKS_R9["lake_sorted_roundtrip"] = [
    ("Scan ExistingRDD", True,
     "fidelity + selected-scope aggregates materialized eagerly — the "
     "sorted write/readback ran at build, before the temp lake is cleaned; "
     "the file-skipping plan shape is pinned in pytest"),
]
CHECKS_R9["events_fill_gaps"] = [
    ("Generate explode(sequence", True,
     "the tick spine generates map-side per group (sequence+explode after "
     "one min/max agg) — no driver range, no cross join"),
    ("CartesianProduct", False, "densify never cross-joins"),
    ("BatchEvalPython", False, "spine + ffill are JVM window/sequence ops"),
]
CHECKS.update(CHECKS_R9)

CONF_OVERRIDES = {
    "join_large_orders": {"spark.sql.autoBroadcastJoinThreshold": "-1"},
    "cohort_weekly_retention": {"spark.sql.autoBroadcastJoinThreshold": "-1"},
    "web_domain_filter": {"spark.sql.autoBroadcastJoinThreshold": "-1"},
    "events_spatial_pairs": {"spark.sql.autoBroadcastJoinThreshold": "-1"},
    "join_interval_overlap": {"spark.sql.autoBroadcastJoinThreshold": "-1"},
    # fact-fact / vocabulary-scaled joins: disable autobroadcast so the
    # audit sees the 100 TB degradation shape, not the sf0.01 BHJ
    "orders_fulfillment_latency": {"spark.sql.autoBroadcastJoinThreshold": "-1"},
    "text_novelty_rate": {"spark.sql.autoBroadcastJoinThreshold": "-1"},
    "join_custdist_q13": {"spark.sql.autoBroadcastJoinThreshold": "-1"},
    # fact-fact SMJ assertions need autobroadcast off at audit scale
    "join_market_share_q8": {"spark.sql.autoBroadcastJoinThreshold": "-1"},
    "join_product_profit_q9": {"spark.sql.autoBroadcastJoinThreshold": "-1"},
    "agg_ship_delay_q12": {"spark.sql.autoBroadcastJoinThreshold": "-1"},
    "sales_hierarchy_shares": {"spark.sql.autoBroadcastJoinThreshold": "-1"},
    "orders_price_reconcile": {"spark.sql.autoBroadcastJoinThreshold": "-1"},
}
