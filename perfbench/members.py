"""The registry members ``registry_mix`` runs, and what was left out."""

#: Side-effect-free queries with a strict DuckDB oracle (none is in
#: ``bench.WORK_IN_BUILD``), at most one per registering module.
QUERY_MIX = (
    "customers_every_priority",  # plans.relational
    "events_kendall_tau",  # plans.timeseries
    "traffic_seasonal_anomalies",  # plans.traffic_queries
    "embeddings_jl_project",  # operators.jl
    "docs_exact_neardup_join",  # operators.simjoin
    "text_decontaminate",  # operators.contamination
    "events_asof_tolerance",  # operators.asof
    "events_range_join_purchase_window",  # operators.rangejoin
    "skew_salted_join",  # operators.skew
)

#: One native stateful drain (dropDuplicates with a watermark, so the state
#: store is reached); the per-key Python state drains are left out below.
STREAM_DRAIN = ("streaming_dedup_events",)

#: Candidates left out, with the reason.  Every one matched its oracle's
#: fingerprint at sf0.01; each module's first such query was a candidate.
#: "run budget": one benchmark run, Spark start-up included, must stay near
#: 60 s on 4 cores so that a full set of runs fits the benchmark's time limit.
LEFT_OUT = {
    "geo_bbox_contains_join": "0.8 s cold; run budget",
    "customers_k_anonymity": "0.4 s cold; run budget",
    "events_log2_histogram": "0.6 s cold; run budget",
    "events_decayed_topk": "0.7 s cold; run budget",
    "orders_drift_chi2": "0.4 s cold; run budget",
    "events_dau_mau_stickiness": "0.8 s cold; run budget",
    "events_ab_cuped": "0.8 s cold; run budget",
    "part_xyz_classification": "1.3 s cold; left out to fit 22 runs per workload in the run budget",
    "orders_segment_migration": "1.5 s cold; run budget",
    "text_segment_dedup_clean": "2.1 s cold; run budget",
    "docs_pack_bestfit": "1.3 s cold; run budget",
    "text_keyphrases_rake": "2.6 s cold; run budget",
    "fd_violation_audit": "1.7 s cold; run budget",
    "events_concurrency_daily_peak": "1.7 s cold; run budget",
    "split_temporal_holdout": "1.5 s cold; run budget",
    "bloom_prefilter_join": "1.5 s cold; run budget",
    "parts_pareto_frontier": "1.4 s cold; run budget",
    "ivm_delta_join_orders": "60000-row result: collect and fingerprint dominate; run budget",
    "orders_revenue_recognition": "58846-row result; run budget",
    "orders_mor_read": "14847-row result; run budget",
    "events_scd2_pit_join": "2.1 s cold; run budget",
    "orders_fingerprint_repair": "3.6 s cold; run budget",
    "events_bootstrap_ci": "3.4 s cold; run budget",
    "embeddings_knn_label_noise": "8.6 s cold; run budget",
    "text_bm25_topk": "2.0 s cold; run budget",
    "dedup_neardup_pipeline_portable": "9.3 s cold, checkpoint-heavy LLM pipeline; run budget",
    "basket_association_rules": "2.3 s cold; run budget",
    "docs_ngram_novelty_curve": "2.6 s cold; run budget",
    "er_edit_distance_join": "19500-row result; run budget",
    "graph_hits_bipartite": "4.7 s cold; run budget",
    "lineitem_fifo_matching": "30379-row result; run budget",
    "text_lm_perplexity": "2.1 s cold; run budget",
    "multimodal_resize": "1.8 s cold; run budget",
    "embeddings_kmeans": "4.8 s cold; run budget",
    "embeddings_pca_project": "2.6 s cold; run budget",
    "text_nb_langid_eval": "2.2 s cold; run budget",
    "features_user_snapshot": "1.4 s cold; run budget",
    "events_sessionize_incremental": "2.2 s cold; run budget",
    "trafsys_rest_source_window": "5.2 s cold; run budget",
    "orders_cdf_apply": "14221-row result; run budget",
    "pretrain_data_pipeline_portable": "oracle takes 110 s at sf0.01: not fingerprinted",
    "sim_semantic_dedup_pipeline": "work-in-build LLM pipeline, 7.5 s warm / 40 s cold: no llm_pipeline workload fits the run budget",
    "text_decontaminate_fuzzy_portable": "LLM pipeline member, 4 s warm; no llm_pipeline workload fits the run budget",
    "streaming_growth_accounting": "Python state drain, 5.3 s warm / 10 s cold, over a third of a pass; run budget",
    "streaming_scd2": "second Python state drain, 6-11 s; run budget",
    "streaming_sessionize": "Python state drain, 8-10 s; run budget",
    "streaming_cusum_changepoints": "12 s per drain; run budget",
    "streaming_hourly_rollup": "second native control; run budget",
    "streaming_merge_restate": "6.6 s; run budget",
}

ALL_MEMBERS = QUERY_MIX + STREAM_DRAIN
