"""Driver contract for the spark-graft builder (PySpark target).

`entry(spark)` runs the flagship query (CDC latest-state materialization
joined to a dimension, aggregated) at sf0.001; `queries()` /
`oracle_sql()` expose the full SURVEY §2B operator inventory backed by
`maxscale_cdc_spark.registry`.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession

from maxscale_cdc_spark import registry
from maxscale_cdc_spark.session import tune_for_oracle

SF0001 = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: materialize current per-user state from the CDC-shaped
    event stream (last image per PK, deletes dropped), enrich with the
    broadcast customer dim, aggregate per market segment.

    Exercises scan → window (CDC apply) → broadcast join → hash agg —
    the canonical CDC-consumer pipeline at any scale.
    """
    tune_for_oracle(spark)
    from maxscale_cdc_spark.operators.cdc import flagship_cdc_segment

    # Delegates to the registered `flagship_cdc_segment` query so the
    # driver's sweep certifies the flagship path with its own
    # CORRECTNESS row (same code object, no drift possible).
    return flagship_cdc_segment(spark, SF0001)


# Queries that earned a green driver CORRECTNESS row (union of the
# round-1..5 sweeps) AND are unchanged since.
#
# NOTE for auditors (ADVICE r14): "green" certifies RESULTS on current
# code, not byte-identical execution.  Two optimization rounds changed
# session-wide/runtime-side knobs under every green query without
# demotion, each followed by a full-registry re-sweep: r14 set the AQE
# coalesce floor to 64k (session.py; 441/441 re-swept) and reused
# captured schemas in sink re-reads; r15 made per-query filtered
# staged chains checkpoint eagerly (anti-convoy; plans identical
# modulo RDD/plan-id instance counters (see plans/r15), family
# re-verified at sf0.01 + sf0.1) and added
# one-time schema-drift guards.  Every bounded stream run then moved
# onto streaming/runners.run_bounded (one lifecycle: 4 state
# partitions, state released after each run; plans identical modulo
# instance counters, touched ids re-checked at sf0.001 + sf0.01).
# The sink and stream queries then moved onto streaming/ops.py's
# shared change-log helpers (_cdc_log, _state_asof, the MoR writers and
# reconcile, _same_rows; seven inner lineages now spell the DML mapping
# as the oracles' CASE text instead of a value-identical F.when chain):
# returned plans identical modulo instance counters and tmp paths by
# `tools/capture_plans.py compare`, 25 touched ids re-checked at
# sf0.001 + sf0.01 (snk_*/MoR also sf0.1).  The LLM/retrieval/CDC
# operators then moved onto the functions/ kernels (minhash_sig,
# nearest_centroid, first_per, q30_mean_arrays): returned and raw
# pre-checkpoint plans identical modulo instance counters and lambda
# numbering, 25 touched ids re-checked at sf0.001 + sf0.01 (LLM and
# retrieval ids also sf0.1).  The CDC wire lanes then moved onto one
# codec each (Avro/protobuf encode+decode kernels, one JSON wire line,
# one atomic landing, one envelope spec): returned plans identical by
# `tools/capture_plans.py compare` at sf0.1 and every fixture spool's
# records identical at sf0.01, 18 touched ids re-checked at sf0.001 +
# sf0.01 + sf0.1.  Every cached build then moved onto one memo
# (session.memo; 21 module-level dicts deleted): returned plans of all
# 441 ids identical by `tools/capture_plans.py compare` at sf0.1,
# fixture spool and stage_as_stream records identical at sf0.01, full
# registry re-swept at sf0.01.
# Results are partition-count- and timing-invariant by the repo's
# total-order/export discipline.
#
# Queries whose code
# was rewritten after their green row are deliberately NOT listed —
# their old rows no longer certify the current code, so they sort with
# the unverified group.  The round-5 sweep came back 50/50 green
# (CORRECTNESS_r05.json), closing every priority/demoted id — entering
# round 6 ALL 215 registered queries were certified on current code.
# queries() orders the dict so still-unverified queries run FIRST — if
# a budget truncates the sweep, it verifies new ground instead of
# re-verifying these.  Nothing else changes: every query runs the same
# oracle check whenever reached.
_DRIVER_GREEN = {
    # round-13 sweep greens (CORRECTNESS_r13.json, all 50 — exactly the
    # 17 ids below were newly certified: the 13 round-13 operators plus
    # the 4 honest ADVICE-fix demotions; the other 33 rows re-certified
    # ids already listed), code unchanged since:
    "cdc_backfill_chunk_apply", "llm_ann_filtered_search",
    "llm_embedding_matryoshka", "llm_mixture_alpha_sweep",
    "llm_mixture_epoch_schedule", "llm_rag_context_pack",
    "llm_rag_rank_fusion", "mm_resolution_buckets", "rel_observe_metrics",
    "snk_upsert_mor_compact_apply",
    "snk_upsert_mor_compact_plan", "str_cdc_e2e_native",
    "str_mor_stream",
    # (snk_branch_merge, snk_pyds_writer and str_pyds_stream_writer
    # were r13-green but are demoted below: ADVICE r13 fixes touched
    # their code this round.)
    # round-12 sweep greens (CORRECTNESS_r12.json, all 50 — exactly the
    # 34 ids below were newly certified: the 15 round-12 operators plus
    # the 19 honest kmeans-cache demotions; the other 16 rows
    # re-certified ids already listed), code unchanged since:
    "cdc_rebalance_apply", "fn_lateral", "fn_sql_udf",
    "llm_ann_join_topk", "llm_ann_join_topk_scaled", "llm_ann_mmr_e2e",
    "llm_ann_mmr_e2e_scaled", "llm_ann_range_search",
    "llm_ann_shadow_audit", "llm_dedup_containment_pairwise",
    "llm_drift_reindex_apply", "llm_index_snapshot_restore",
    "llm_ivf_incremental", "llm_ivf_nprobe_sweep", "llm_ivf_pq_search",
    "llm_ivf_rebalance_apply", "llm_ivf_rebalance_plan", "llm_ivf_recall",
    "llm_mixture_temperature", "llm_sim_ivf", "llm_sim_ivf_probe",
    "rel_recursive_cte",
    "rel_win_group_limit", "snk_land_convert",
    "snk_upsert_mor", "src_protobuf_schema_evolution", "src_tcp_avro",
    "str_drift_swap_splice", "str_ivf_assign_stream",
    "str_ivf_swap_splice",
    # (mm_resolution_buckets, rel_observe_metrics, snk_pyds_writer and
    # str_pyds_stream_writer were r12-green but are demoted below:
    # ADVICE r13 fixes touched their code/oracle this round.)
    # round-11 sweep greens (CORRECTNESS_r11.json, all 50 — exactly the
    # 33 ids below were newly certified: every round-11 operator plus
    # the str_schema_evolution_stream re-certification after its oracle
    # fix; the other 17 rows re-certified ids already listed), code
    # unchanged since:
    "cdc_bitemporal", "cdc_consistent_join_at", "cdc_read_committed_at",
    "fn_collation", "fn_pipe_syntax", "llm_corpus_snapshot_diff", "llm_dedup_store_forget",
    "llm_dedup_two_stage", "llm_license_propagation", "llm_optout_purge", "mm_dedup_audio_fp",
    "mm_pack_interleaved", "rel_hll_rollup_union", "rel_join_bloom_runtime",
    "rel_join_cbo_stats", "snk_fenced_failover", "snk_vacuum_orphans",
    "src_avro_events", "src_avro_schema_evolution",
    "src_protobuf_events", "str_avro_tail", "str_avro_tail_restart",
    "str_banding_swap_splice", "str_chained_stateful",
    "str_join_outer_watermarked", "str_protobuf_tail",
    "str_schema_evolution_stream", "str_trigger_file_batches",
    # round-10 sweep greens (CORRECTNESS_r10.json, all 50 — 19 new ids,
    # 31 re-certifications of ids already listed below), code unchanged
    # since:
    "cdc_cascade_delete_apply", "cdc_replay_idempotence",
    "llm_dedup_containment_sampled", "llm_dedup_rep_apply",
    "llm_dedup_store_migrate", "mm_modality_budget_apply", "rel_dist_drift", "rel_ivm_topk",
    "snk_manifest_gc", "src_csv_badrecords",
    "str_embed_drift_stream",
    "str_session_dynamic",
    # round-9 sweep greens (CORRECTNESS_r09.json, all 50 — 20 new ids,
    # 21 honest demotions re-certified, 9 re-certifications of ids
    # already listed below), code unchanged since:
    "cdc_backfill_chunk_plan", "cdc_replay_apply", "llm_banding_recall_curve", "llm_decontam_apply",
    "llm_dedup_chain_audit", "llm_dedup_cluster",
    "llm_dedup_cluster_capped", "llm_dedup_cluster_profile",
    "llm_dedup_containment", "llm_dedup_horizon_profile",
    "llm_dedup_incremental", "llm_dedup_near", "llm_dedup_near_autotuned",
    "llm_dedup_rep_policy", "llm_dedup_savings", "llm_dedup_source_matrix",
    "llm_dedup_syndication", "llm_dedup_threshold_curve",
    "llm_embedding_drift_monitor", "llm_lsh_recall_audit", "llm_lsh_tuning",
    "llm_lsh_tuning_sampled", "llm_mmr_rerank", "llm_token_budget_apply",
    "llm_vocab_drift", "mm_caption_align", "mm_modality_budget_plan",
    "rel_graph_khop", "rel_rollup_refresh", "snk_partition_evolution",
    "src_xml_roundtrip",
    "str_cdc_bootstrap_splice", "str_dedup_horizon_autosized",
    "str_dedup_near_prefiltered", "str_dedup_near_windowed",
    "str_quality_gate",
    # round-8 sweep greens (CORRECTNESS_r08.json, all 50 — 24 new ids,
    # 3 honest demotions re-certified, 23 re-certifications of ids
    # already listed below), code unchanged since:
    "cdc_gtid_watermark", "cdc_replay_request_plan", "fn_variant",
    "llm_dedup_jaccard_prefix",
    "llm_embedding_coverage", "llm_inference_batch_plan",
    "llm_lang_confusion",
    "llm_pack_boundary_audit", "llm_pipeline_e2e",
    "llm_quality_decile_dup_rate", "llm_rag_chunk_rank",
    "llm_shard_checksums", "llm_vocab_truncation_curve",
    "mm_dedup_savings", "rel_ivm_distinct",
    # round-7 sweep greens (CORRECTNESS_r07.json, all 50 — 31 new ids,
    # 6 honest demotions re-certified, 13 re-certifications of ids
    # already listed below), code unchanged since:
    "cdc_delete_ratio_alarm", "cdc_heartbeat_gap",
    "cdc_pk_cardinality_drift", "cdc_scd2_merge_history",
    "cdc_schema_compat", "cdc_snapshot_diff", "cdc_txn_boundaries",
    "cdc_value_drift", "llm_chunk_dedup", "llm_curriculum_order",
    "llm_ivf_nprobe_sweep_sampled",
    "llm_signal_agreement", "llm_token_budget_plan", "llm_word_entropy",
    "rel_ewma_dyadic", "rel_ivm_join",
    "rel_outlier_mad", "rel_referential_integrity", "snk_upsert_compact",
    # round-6 sweep greens (CORRECTNESS_r06.json, all 50 — 38 new ids,
    # 3 honest demotions re-certified, 9 re-certifications of ids
    # already listed below), code unchanged since:
    "cdc_consumer_lag", "cdc_lww_conflicts", "cdc_out_of_order_audit",
    "cdc_rebalance_plan", "cdc_scd2_lookup", "fn_interval",
    "llm_bpe_learn_vocab", "llm_bpe_tokenize_learned", "llm_dedup_bloom",
    "llm_dup_span_char",
    "llm_filter_threshold_sweep", "llm_hard_negatives",
    "llm_importance_resample", "llm_register_lang_mix", "llm_seq_len_histogram",
    "llm_shuffle_shard_audit", "llm_soft_dedup_weights",
    "llm_source_overlap_matrix", "llm_split_leakage",
    "llm_tokenizer_fertility", "llm_vocab_growth", "mm_scene_segments",
    "rel_agg_mad", "rel_funnel_windowed", "rel_graph_triangles",
    "rel_histogram_equi_depth", "rel_profile_table", "rel_skew_profile",
    "rel_weighted_percentile", "snk_schema_merge", "src_cdc_multi",
    "src_dead_letters", "src_tcp_multi",
    "str_restart_continuation",
    "str_session_stream", "udf_parity_audit",
    # round-5 sweep greens (CORRECTNESS_r05.json, all 50), code
    # unchanged since:
    "cdc_burst_detect", "cdc_consumer_partition_balance", "cdc_ddl_timeline",
    "cdc_event_size_profile",
    "fn_hof", "fn_url", "llm_bpe_learn_pairs", "llm_bpe_tokenize",
    "llm_contamination", "llm_countmin_audit", "llm_cross_doc_overlap",
    "llm_dup_span", "llm_line_dedup", "llm_lm_score",
    "llm_quality_ablation", "llm_repetition", "llm_title_fuzzy_dedup",
    "mm_dedup_phash", "rel_agg_distinct_bitmap", "rel_join_interval",
    "rel_lag_features",
    "rel_time_weighted_avg", "rel_win_ntile",
    "snk_compact",
    "snk_zorder", "src_cdc_datasource", "src_cdc_stream", "src_tcp_transport",
    "str_dedup_stream", "str_dedup_within_watermark",
    "str_distinct_windowed",
    "str_sliding", "str_stateful", "str_stream_static_join",
    "str_stream_stream_join",
    "str_tumbling", "str_watermark_late",
    # round-4 sweep greens, code unchanged since (llm_countmin_audit
    # excluded: rewritten r5, see above):
    "cdc_changelog_compact", "cdc_hotkey_profile", "cdc_reconciliation",
    "cdc_safe_resume", "cdc_schema_evolution", "cdc_tombstone_gc",
    "fn_regex", "llm_bm25_rank", "llm_bpe_token_est", "llm_dataset_card",
    "llm_doc_shingle_profile", "llm_embed_outliers", "llm_filter_pipeline",
    "llm_heuristic_filters", "llm_minhash_accuracy", "llm_ngram_novelty",
    "llm_semdedup", "llm_sim_pq", "llm_stopword_ratio",
    "llm_unigram_diversity", "llm_url_dedup", "llm_vocab_coverage",
    "mm_pair_batches", "mm_shard_manifest", "rel_attribution",
    "rel_hypertable_rollup", "rel_join_asof_nearest", "rel_percentile_bands",
    "rel_running_distinct", "rel_win_cume", "str_cdc_apply",
    "str_topk_windowed", "tpch_q2", "tpch_q4", "tpch_q6", "tpch_q7",
    "tpch_q8", "tpch_q9", "tpch_q11", "tpch_q12", "tpch_q13", "tpch_q15",
    "tpch_q16", "tpch_q17", "tpch_q19", "tpch_q20", "tpch_q21", "tpch_q22",
    # rounds 1-3:
    "cdc_dedup_exact", "cdc_event_dispatch", "cdc_gap_detect", "cdc_gtid",
    "cdc_gtid_filter", "cdc_incremental_agg", "cdc_latest_state", "cdc_order",
    "cdc_payload_project", "cdc_replay_at", "cdc_scd2", "cdc_schema_registry",
    "cdc_snapshot_tail", "cdc_update_pair", "flagship_cdc_segment",
    "fn_array", "fn_bitwise", "fn_cast", "fn_cond", "fn_date", "fn_explode",
    "fn_json", "fn_map", "fn_math", "fn_stragg", "fn_string", "fn_struct",
    "fn_try", "llm_chunk_overlap", "llm_dedup_embed",
    "llm_dedup_exact",
    "llm_dedup_simhash", "llm_dedup_simhash_pairs", "llm_diversity_sample",
    "llm_domain_mix", "llm_embed_centroid", "llm_fingerprint",
    "llm_knn_graph", "llm_lang_id", "llm_ngram_top",
    "llm_pack_sequences", "llm_pii_scrub", "llm_quality_score",
    "llm_sim_cosine", "llm_sim_quantized", "llm_sim_topk_pergroup", "llm_text_stats",
    "llm_tfidf_top", "llm_token_count", "llm_train_split", "mm_decode_stub",
    "mm_features", "mm_frame_sample", "mm_meta", "rel_agg_approx",
    "rel_agg_cube", "rel_agg_distinct", "rel_agg_gsets", "rel_agg_hash",
    "rel_agg_median", "rel_agg_mode", "rel_agg_rollup", "rel_agg_stats",
    "rel_cohort_retention", "rel_corr", "rel_filter", "rel_funnel",
    "rel_gapfill", "rel_graph_pagerank", "rel_having", "rel_histogram",
    "rel_join_anti", "rel_join_asof", "rel_join_asof_tol",
    "rel_join_bucketed", "rel_join_full",
    "rel_join_inner", "rel_join_left", "rel_join_range_bucket",
    "rel_join_right", "rel_join_semi", "rel_join_skew_salt", "rel_join_theta",
    "rel_markov_transitions", "rel_pivot", "rel_project", "rel_resample_ohlc",
    "rel_sample_hash", "rel_sample_stratified", "rel_sessionize",
    "rel_set_except", "rel_set_except_all", "rel_set_intersect",
    "rel_set_union", "rel_sort_limit", "rel_subquery_corr",
    "rel_subquery_scalar", "rel_topk", "rel_unpivot", "rel_win_analytic",
    "rel_win_frame", "rel_win_range", "rel_win_rank", "snk_append",
    "snk_partitioned", "snk_upsert", "src_csv_roundtrip",
    "src_json_events", "src_orc_roundtrip", "src_parquet_scan",
    "str_session", "tpch_q1", "tpch_q3", "tpch_q5", "tpch_q10", "tpch_q14",
    "tpch_q18", "udf_explode_udtf", "udf_grouped_map", "udf_pandas_scalar",
}

# Round-6 priority: empty — round 5 closed fully certified, so the
# sweep budget belongs to never-tested round-6 operators (and any
# honest demotions made this round).
_PRIORITY: set[str] = set()

# Emptied in round 4: every formerly-deferred id is registered.
_DEFERRED: set[str] = set()

# Unverified queries split into two risk classes: queries that have
# NEVER had a driver row (new this round) certify before queries that
# HAD a green row and were demoted only because their code was
# rewritten (sink-path / staging / guard changes — same oracle,
# locally green before and after).
# Round-14 open state: the round-13 sweep came back 50/50 green
# (CORRECTNESS_r13.json) covering exactly the 17 then-unverified ids
# (13 new round-13 operators + the 4 honest ADVICE-fix demotions) plus
# 33 re-certifications — all 50 sweep slots were free entering round
# 14.  Demotions made this round per the honesty rule (ADVICE r13
# fixes, all locally re-verified green at sf0.01 + sf0.1 after the
# change):
#  - snk_pyds_writer / str_pyds_stream_writer: the manifest sink's
#    tmp files now carry a per-writer uuid prefix and the commit/abort
#    orphan sweep is scoped to the writer's own files (two concurrent
#    writers to one path can no longer delete each other's in-flight
#    tmps); quiet_expected_failure now restores the CALLER's log level
#    instead of a hardcoded WARN.
#  - snk_branch_merge: fork()/ff_merge() promoted to
#    ManifestedUpsertSink methods (the branch contract now lives next
#    to the manifest representation it depends on).
#  - rel_join_broadcast: the round-15 derived-sf1.0 sweep caught its
#    scale-8 revenue sum 1 ulp off (DuckDB int128→double double-rounds
#    past 2^53 unscaled); both sides now re-cast the exact sum to
#    DECIMAL(18,4) (value-exact) before the double cast.
#  - src_binary_files: the fixture spool write is now spread across
#    cores when the filtered scan arrives single-partition (r14
#    optimization round — 6.3-7.1 s serial dir creation vs 1.2 s
#    spread; aggregation and order-deterministic digest unchanged).
#  - the 8 sink ids below: ManifestedUpsertSink now appends each
#    merge as a delta generation and reconciles base + deltas on read
#    (folding a bucket once its deltas reach its base), so the served
#    state of a sink that ends with deltas plans the MoR reconcile.
#    The other 8 ids that reach the sink (snk_upsert_compact,
#    snk_manifest_gc, snk_vacuum_orphans, snk_fenced_failover,
#    snk_change_feed, str_cdc_bootstrap_splice, str_cdc_e2e_native,
#    snk_branch_merge) return plans identical by
#    `tools/capture_plans.py compare` at sf0.1 and sf0.01.
_DEMOTED: set[str] = {
    "rel_join_broadcast", "snk_branch_merge", "snk_pyds_writer",
    "src_binary_files", "str_pyds_stream_writer",
    "snk_scd2_compact", "snk_time_travel", "snk_wap_publish",
    "str_cdc_e2e_native_restart", "str_cdc_scd2_restart",
    "str_cdc_scd2_stream", "str_cdc_upsert_e2e", "str_cdc_upsert_restart",
}

# Long-pole queries (streaming setup / Python DataSource cold start /
# iterative algorithms) — within each group they run after the cheap
# ones so a time-budgeted sweep maximizes rows checked.
_HEAVY = {
    "src_cdc_datasource", "src_tcp_transport", "src_cdc_stream", "snk_append",
    "snk_upsert", "snk_partitioned", "snk_compact", "snk_zorder",
    "str_stream_stream_join",
    "str_tumbling",
    "str_sliding", "str_watermark_late", "str_dedup_stream",
    "str_dedup_within_watermark", "str_stateful", "str_stream_static_join",
    "str_topk_windowed", "str_cdc_apply", "str_cdc_upsert_e2e",
    "str_distinct_windowed",
    "llm_dedup_cluster", "llm_dedup_near", "llm_dedup_embed",
    # run the full CC closure (llm_dedup_cluster) inside:
    "llm_dedup_savings", "llm_dedup_cluster_profile",
    "llm_dedup_syndication",
    "llm_dedup_simhash_pairs", "llm_sim_ivf", "llm_sim_ivf_probe",
    "mm_decode_stub",
    # K=16 staged iterations (16 small sequential jobs each):
    "llm_bpe_learn_vocab", "llm_bpe_tokenize_learned",
    # round-6 streaming/sink lifecycles:
    "src_cdc_multi", "src_tcp_multi", "str_dedup_near_windowed",
    "str_restart_continuation", "str_session_stream", "snk_schema_merge",
    # round-7 sink-manifest restart lifecycle (two streaming runs) and
    # the measure-then-stream closure (batch lineage + streaming run):
    "str_cdc_upsert_restart", "str_dedup_horizon_autosized",
    "snk_upsert_compact", "str_cdc_scd2_stream", "str_cdc_scd2_restart",
    # round-8 measure-then-run closure (sampled curve + full-corpus
    # dedup at the chosen banding), and the double-closure capped
    # clustering (base CC + re-cut CC inside oversized components):
    "llm_banding_recall_curve", "llm_dedup_near_autotuned",
    "llm_dedup_cluster_capped",
    # old-slice k-means + batch assignment (the IVF Lloyd cost):
    "llm_ivf_incremental", "llm_ivf_rebalance_plan",
    # round-9 surgery closure: plan + per-cell 2-means + reassignment
    # + brute-force recall audit:
    "llm_ivf_rebalance_apply",
    # round-9 composite ANN stack (coarse k-means + PQ encode + rerank),
    # the batched ANN join, and the streaming quality-gate lifecycle:
    "llm_ivf_pq_search", "llm_ann_join_topk", "str_quality_gate",
    # replayed-delivery streaming lifecycle (dedup + band self-join):
    "str_dedup_near_prefiltered",
    # streaming ingest against the static index (kmeans + stream agg):
    "str_ivf_assign_stream",
    # full scd2 stream lifecycle + log rewrite:
    "snk_scd2_compact",
    # bootstrap MERGE + streaming tail splice lifecycle:
    "str_cdc_bootstrap_splice",
    # ride the CC closure:
    "llm_dedup_chain_audit", "llm_dedup_rep_policy",
    # round-10 composed retrieval path (kmeans lineage + K staged
    # MMR selections):
    "llm_ann_mmr_e2e",
    # round-11 production variant (K=32 Lloyd chain + staged MMR):
    "llm_ann_mmr_e2e_scaled",
    # round-11 mid-stream banding-config swap (chooser curve +
    # streaming band self-join lifecycle):
    "str_banding_swap_splice",
    # round-11 two-writer failover lifecycle (4 merges + fenced
    # publish + recovery read):
    "snk_fenced_failover",
    # round-11 streaming Avro tail (file-source stream + in-stream
    # OCF decode):
    "str_avro_tail",
    # round-11 complete dedup surface (rides the near + containment
    # lineages: chooser curve + class band join + prefix join):
    "llm_dedup_two_stage",
    # round-11 mixed-generation Avro landing zone (two encode passes
    # + per-file schema resolution):
    "src_avro_schema_evolution",
    # round-11 Avro tail Stop()/resume (two streaming runs, shared
    # checkpoint):
    "str_avro_tail_restart",
    # round-11 store deletion maintenance (rides the shingle-class +
    # chooser lineages):
    "llm_dedup_store_forget",
    # round-12 stream-stream outer join (streaming run, two-sided
    # state) and the chained two-tier windowed agg (streaming run):
    "str_join_outer_watermarked", "str_chained_stateful",
    # round-12 governance riders on the CC closure:
    "llm_license_propagation", "llm_optout_purge",
    # round-12 sink vacuum lifecycle (3 merges + orphan writers) and
    # the index publish/restore lifecycle (kmeans chain + partitioned
    # write + fresh-scan search):
    "snk_vacuum_orphans", "llm_index_snapshot_restore",
    # round-12 IVF radius search (kmeans chain) and the per-trigger
    # intake ledger (4-batch streaming run):
    "llm_ann_range_search", "str_trigger_file_batches",
    # round-12 two-generation shadow read (K=8 + K=32 Lloyd chains +
    # brute-force rank audit):
    "llm_ann_shadow_audit",
    # round-12 protobuf spool tail (streaming run + in-stream decode):
    "str_protobuf_tail",
    # round-12 write-audit-publish lifecycle (merge + 2 staged
    # attempts + recovery read):
    "snk_wap_publish",
    # round-10 sampled containment audit (runs the chooser + a
    # filtered class build):
    "llm_dedup_containment_sampled",
    # round-10 drift surgery lifecycle (kmeans + reassignment + audit):
    "llm_drift_reindex_apply",
    # round-10 store migration (chooser + two-config band joins):
    "llm_dedup_store_migrate",
    # round-10 mid-stream index-swap lifecycle (kmeans + surgery +
    # streaming run):
    "str_ivf_swap_splice",
    # round-10 streaming drift profile (streaming run):
    "str_embed_drift_stream",
    # round-10 sink lifecycles (multi-merge + manifest reads):
    "snk_time_travel",
    # round-10 dynamic-gap session lifecycle (streaming run):
    "str_session_dynamic",
    # round-10 mid-stream ALTER lifecycle (streaming run):
    "str_schema_evolution_stream",
    # round-10 merge/compact/GC lifecycle:
    "snk_manifest_gc",
    # round-10 raised-K index (K=32 Lloyd chain):
    "llm_ann_join_topk_scaled",
    # round-10 capstone composition (drift surgery + streaming swap):
    "str_drift_swap_splice",
    # rides the CC closure:
    "llm_dedup_rep_apply",
    # round-13 full-lifecycle composition (live TCP drain + landing
    # decode + streaming MERGE run):
    "str_cdc_e2e_native",
    # round-13 MoR lifecycle (streaming ingest run; plan + layout
    # writes + hybrid read):
    "str_mor_stream", "snk_upsert_mor_compact_apply",
    # round-13 branch lifecycle (5 merges + 2 forks + recovery reads):
    "snk_branch_merge",
    # round-13 composed lifecycle restart arm (TCP drain + 2 landing
    # passes + 2 streaming runs):
    "str_cdc_e2e_native_restart",
    # round-14 raised-K filtered search (K=32 Lloyd chain), the
    # index-RTBF maintenance table (K=8 chain + 64-dim explode), and
    # the merge-arm apply (reassignment + brute-force recall audit):
    "llm_ann_filtered_search_scaled", "llm_ivf_forget",
    "llm_ivf_forget_merge_apply",
    # round-14 MoR restart lifecycle (two streaming runs + replay arm):
    "str_mor_stream_restart",
    # round-14 CDF lifecycle (3 merges + 2 manifest reads + the
    # v1 ⊕ feed == v2 sufficiency audit):
    "snk_change_feed",
    # round-14 graph-ANN beam search (LSH band join + 3 staged hops +
    # brute-force audit):
    "llm_knn_graph_search",
}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    registry.load_all()
    # A typo'd id in a priority set would silently defeat the ordering
    # (set membership is a no-op for unknown names) — fail loudly instead.
    for label, group in (
        ("_DRIVER_GREEN", _DRIVER_GREEN),
        ("_PRIORITY", _PRIORITY),
        ("_DEFERRED", _DEFERRED),
        ("_HEAVY", _HEAVY),
        ("_DEMOTED", _DEMOTED),
    ):
        unknown = group - registry.QUERIES.keys()
        if unknown:  # real raise, not assert: must survive `python -O`
            raise ValueError(
                f"{label} names unregistered queries: {sorted(unknown)}"
            )

    def _wrap(fn):
        def run(spark: SparkSession, sf_dir: str) -> DataFrame:
            tune_for_oracle(spark)
            return fn(spark, sf_dir)

        return run

    names = sorted(
        registry.QUERIES,
        key=lambda n: (
            n in _DRIVER_GREEN,
            n in _DEFERRED,
            n not in _PRIORITY,
            n in _DEMOTED,
            n in _HEAVY,
            n,
        ),
    )
    return {name: _wrap(registry.QUERIES[name]) for name in names}


def oracle_sql() -> dict[str, str]:
    registry.load_all()
    return dict(registry.ORACLE)
