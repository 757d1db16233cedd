"""Physical-plan property tests — the 100 TB checklist enforced in CI:
filters push into the parquet scan, projections prune the read schema,
dims broadcast, nothing goes cartesian, hot paths stay in codegen."""

from __future__ import annotations

import __spark_entry__ as entrymod
from maxscale_cdc_spark.plans.inspect import (
    codegen_stage_count,
    exchange_count,
    formatted_plan,
    has_broadcast_join,
    has_cartesian,
    pushed_filters,
    read_schema,
    simple_plan,
)
from maxscale_cdc_spark.session import unstaged


def _q(name, spark, sf_dir):
    return entrymod.queries()[name](spark, sf_dir)


def test_scan_pushdown_and_pruning(spark, sf_dir):
    df = _q("src_parquet_scan", spark, sf_dir)
    pf = pushed_filters(df)
    assert "l_shipdate" in pf and "l_quantity" in pf, pf
    rs = read_schema(df)
    # only the 4 needed columns are read, not all 11
    assert "l_extendedprice" in rs and "l_returnflag" not in rs, rs


def test_filter_query_pushdown(spark, sf_dir):
    df = _q("rel_filter", spark, sf_dir)
    pf = pushed_filters(df)
    assert "l_quantity" in pf, pf


def test_broadcast_join_chosen(spark, sf_dir):
    assert has_broadcast_join(_q("rel_join_broadcast", spark, sf_dir))
    assert not has_cartesian(_q("rel_join_broadcast", spark, sf_dir))


def test_entry_flagship_plan(spark):
    df = entrymod.entry(spark)
    assert has_broadcast_join(df)
    assert not has_cartesian(df)


def test_agg_stays_in_codegen(spark, sf_dir):
    df = _q("rel_agg_hash", spark, sf_dir)
    assert codegen_stage_count(df) >= 1
    plan = formatted_plan(df)
    # partial aggregation before the exchange (map-side combine)
    assert "HashAggregate" in plan


def test_no_cartesian_anywhere_in_relational(spark, sf_dir):
    for name in ["rel_join_inner", "rel_join_theta", "rel_join_asof", "rel_topk"]:
        assert not has_cartesian(_q(name, spark, sf_dir)), name


def test_tpch_plans(spark, sf_dir):
    """The multi-join anchors: dims broadcast, no cartesian, filters at
    the scans."""
    for name in ["tpch_q3", "tpch_q5", "tpch_q10"]:
        df = _q(name, spark, sf_dir)
        assert not has_cartesian(df), name
    q5 = _q("tpch_q5", spark, sf_dir)
    assert has_broadcast_join(q5)
    assert "o_orderdate" in pushed_filters(_q("tpch_q3", spark, sf_dir))


def test_minhash_plan_has_no_python_udf(spark, sf_dir):
    plan = formatted_plan(_q("llm_dedup_near", spark, sf_dir))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_partition_pruning(spark, sf_dir, tmp_path):
    """Day-partitioned layout → a day filter becomes a PartitionFilter
    (directory pruning), not a data filter: at 100 TB a one-day query
    touches 1/30th of the files before any I/O."""
    import pyspark.sql.functions as F

    from maxscale_cdc_spark.tables import table

    out = str(tmp_path / "part")
    ev = table(spark, sf_dir, "events").withColumn(
        "day", F.to_date(F.date_trunc("day", "ts"))
    )
    ev.write.mode("overwrite").partitionBy("day").parquet(out)
    q = spark.read.parquet(out).filter(F.col("day") == "2024-01-05")
    plan = formatted_plan(q)
    pf = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert pf and "day" in pf[0], plan
    assert q.count() > 0


def test_latest_state_single_shuffle(spark, sf_dir):
    # one exchange for the keyed window — no extra shuffles
    df = _q("cdc_latest_state", spark, sf_dir)
    assert exchange_count(df) == 1, df._jdf.queryExecution().executedPlan().toString()


def test_ivf_plan_no_python_udf_and_broadcasts(spark, sf_dir):
    """K-means IVF must stay JVM-side (Lloyd rounds are pure Catalyst
    expressions) and every assignment join must broadcast the
    KB-sized centroid side, never shuffle the vectors."""
    plan = formatted_plan(_q("llm_sim_ivf", spark, sf_dir))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert has_broadcast_join(_q("llm_sim_ivf", spark, sf_dir))


def test_dedup_cluster_plan_no_python_udf(spark, sf_dir):
    plan = formatted_plan(_q("llm_dedup_cluster", spark, sf_dir))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_dedup_embed_banded_join(spark, sf_dir):
    """The embedding-LSH self-join must key on (band, sig) — 512-value
    composite, not the old 8-bucket sign triple — and never go
    cartesian or drop to Python."""
    df = _q("llm_dedup_embed", spark, sf_dir)
    assert not has_cartesian(df)
    plan = formatted_plan(df)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # the candidate join's equality key carries band AND sig
    assert "band" in plan and "sig" in plan


def test_bucketed_join_no_join_side_exchange(spark, sf_dir):
    """Both sides of the bucketed join must be read pre-partitioned
    (Bucketed: true) and merge-joined with NO exchange; the single
    remaining Exchange is the 5-group final aggregation."""
    df = _q("rel_join_bucketed", spark, sf_dir)
    plan = formatted_plan(df)
    assert plan.count("Bucketed: true") == 2, plan
    assert "SortMergeJoin" in plan
    assert exchange_count(df) == 1, plan


def test_jaccard_prefix_no_cartesian_no_python(spark, sf_dir):
    """Prefix-filter candidates come from an equi-join on prefix
    tokens — never cartesian, never Python."""
    df = _q("llm_dedup_jaccard_prefix", spark, sf_dir)
    assert not has_cartesian(df)
    plan = formatted_plan(df)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_tpch_q1_pushdown_and_partial_agg(spark, sf_dir):
    """Q1 must push the shipdate filter into the scan and aggregate
    map-side first (partial + final HashAggregate pair)."""
    df = _q("tpch_q1", spark, sf_dir)
    assert "l_shipdate" in pushed_filters(df)
    plan = formatted_plan(df)
    assert plan.count("HashAggregate") >= 2, plan


def test_tpch_q18_semi_join_before_wide_join(spark, sf_dir):
    """The per-order rollup feeds a LEFT SEMI join — the wide
    customer join must only see qualifying orders."""
    plan = formatted_plan(_q("tpch_q18", spark, sf_dir))
    assert "LeftSemi" in plan, plan


def test_contamination_broadcast_membership(spark, sf_dir):
    """The benchmark gram set must broadcast — decontamination is a
    map-side membership pass over the corpus, never a shuffle of the
    training side against the benchmark."""
    df = _q("llm_contamination", spark, sf_dir)
    assert has_broadcast_join(df)
    assert not has_cartesian(df)


def test_knn_graph_banded_join_no_python(spark, sf_dir):
    """k-NN candidates must come from the (band, sig) equi-join —
    never cartesian, never Python — and the per-source top-k must be a
    streaming window (row_number), not a collect."""
    df = _q("llm_knn_graph", spark, sf_dir)
    assert not has_cartesian(df)
    plan = formatted_plan(df)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "row_number" in plan, plan


def test_pagerank_no_cartesian_no_python(spark, sf_dir):
    """Five unrolled iterations stay one declarative plan: node-keyed
    joins/aggs, the 1-row node-count broadcast is the only
    'cross' join, nothing drops to Python."""
    df = _q("rel_graph_pagerank", spark, sf_dir)
    plan = formatted_plan(df)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # the only BroadcastNestedLoopJoin allowed is against the 1-row
    # count relation (a scalar), never data-vs-data
    assert "CartesianProduct" not in plan, plan


def test_cohort_retention_broadcast_sizes(spark, sf_dir):
    """Cohort sizes (calendar-bounded) must come back by broadcast;
    the heavy shuffles are all on user_id / (cohort, week)."""
    df = _q("rel_cohort_retention", spark, sf_dir)
    assert has_broadcast_join(df)
    assert not has_cartesian(df)


def test_cross_doc_overlap_partial_agg(spark, sf_dir):
    """The gram document-frequency aggregation must partial-aggregate
    map-side (HashAggregate pair) and never drop to Python."""
    df = _q("llm_cross_doc_overlap", spark, sf_dir)
    plan = formatted_plan(df)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert plan.count("HashAggregate") >= 2, plan


def test_url_dedup_single_shuffle_no_python(spark, sf_dir):
    """URL normalization is scan-speed expression work; the keep-best
    window is the query's ONE keyed shuffle (url)."""
    df = _q("llm_url_dedup", spark, sf_dir)
    plan = formatted_plan(df)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert exchange_count(df) == 1, plan


def test_rowlevel_text_ops_no_shuffle(spark, sf_dir):
    """Per-row text signals (stopword ratio, shingle profile, token
    estimate) must not shuffle at all — they run at scan speed."""
    for name in ("llm_stopword_ratio", "llm_doc_shingle_profile",
                 "llm_bpe_token_est"):
        df = _q(name, spark, sf_dir)
        assert exchange_count(df) == 0, (name, formatted_plan(df))


def test_running_distinct_aggs_before_window(spark, sf_dir):
    """The first-seen decomposition: two map-side-combinable keyed aggs
    (user, then day), with the only window over |days| rows.  Four
    HashAggregates = two partial/final pairs; no Python."""
    df = _q("rel_running_distinct", spark, sf_dir)
    plan = formatted_plan(df)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert plan.count("HashAggregate") >= 4, plan
    assert "Window" in plan, plan


def test_tpch_q11_single_fact_pass(spark, sf_dir):
    """The threshold must derive from per_part, not a second
    lineitem⋈supplier join: exactly one scan of lineitem in the plan."""
    df = _q("tpch_q11", spark, sf_dir)
    plan = formatted_plan(df)
    assert plan.count("lineitem.parquet") <= 1, plan


def test_heuristic_filters_no_shuffle(spark, sf_dir):
    """Gopher rules are per-row integer comparisons — scan speed, zero
    shuffles, no Python."""
    df = _q("llm_heuristic_filters", spark, sf_dir)
    plan = formatted_plan(df)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert exchange_count(df) == 0, plan


def test_unigram_diversity_combinable_aggs(spark, sf_dir):
    """explode → (doc, word) count → doc agg: both aggs map-side
    combinable (two partial/final HashAggregate pairs), no Python."""
    df = _q("llm_unigram_diversity", spark, sf_dir)
    plan = formatted_plan(df)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert plan.count("HashAggregate") >= 4, plan


def test_filter_pipeline_two_shuffles(spark, sf_dir):
    """The funnel is one hash-key window + one source agg — at most the
    window exchange, the agg exchange, and AQE coalescing artifacts;
    gate at <= 3 exchanges and no Python."""
    df = _q("llm_filter_pipeline", spark, sf_dir)
    plan = formatted_plan(df)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert exchange_count(df) <= 3, plan


def test_attribution_single_shuffle(spark, sf_dir):
    """Last-touch attribution = ONE per-user carry-forward window (the
    cdc_latest_state shape): exactly one keyed shuffle, no join."""
    df = _q("rel_attribution", spark, sf_dir)
    plan = formatted_plan(df)
    assert exchange_count(df) == 1, plan
    assert "Join" not in plan, plan


def test_shard_manifest_single_key_pipeline(spark, sf_dir):
    """Window and agg share the source key: the window's exchange is
    reused by the agg (one keyed shuffle + possibly the agg's own),
    no Python, no join."""
    df = _q("mm_shard_manifest", spark, sf_dir)
    plan = formatted_plan(df)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert exchange_count(df) <= 2, plan
    assert "Join" not in plan, plan


def test_hotkey_profile_broadcast_totals(spark, sf_dir):
    """Per-pk agg joined to a one-row totals aggregate — the totals side
    must broadcast, never shuffle the profile."""
    df = _q("cdc_hotkey_profile", spark, sf_dir)
    plan = formatted_plan(df)
    # one-row totals side → keyless BroadcastNestedLoopJoin (a 1-row
    # broadcast, the scalar-join shape cdc_replay_at also uses)
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_ngram_novelty_no_python(spark, sf_dir):
    """First-occurrence decomposition: gram agg + join-back + doc agg,
    all JVM-side."""
    df = _q("llm_ngram_novelty", spark, sf_dir)
    plan = formatted_plan(df)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert not has_cartesian(df), plan


def test_schema_evolution_no_python_single_agg(spark, sf_dir):
    """Render + from_json + unionByName are narrow; the only keyed
    shuffle is the version agg (plus the broadcast cutoff scalar)."""
    df = _q("cdc_schema_evolution", spark, sf_dir)
    plan = formatted_plan(df)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "BroadcastNestedLoopJoin" in plan, plan  # 1-row cutoff broadcast
    assert "CartesianProduct" not in plan, plan


def test_tombstone_gc_single_shuffle(spark, sf_dir):
    """Window (max tombstone per pk) and agg share the pk key: one
    keyed shuffle, no join — the cdc_latest_state shape."""
    df = _q("cdc_tombstone_gc", spark, sf_dir)
    plan = formatted_plan(df)
    assert exchange_count(df) == 1, plan
    assert "Join" not in plan, plan


def test_minhash_accuracy_no_python_banded(spark, sf_dir):
    """Estimator audit must stay banded (no cartesian) and JVM-side.
    Assert on the UNSTAGED lineage: the registered query pins the
    signature table via localCheckpoint, which hides everything
    upstream behind a LogicalRDD scan and would make these assertions
    vacuous for the 8-permutation MD5 stage."""
    from maxscale_cdc_spark.operators.quality import llm_minhash_accuracy

    with unstaged():
        df = llm_minhash_accuracy(spark, sf_dir)
    plan = formatted_plan(df)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert not has_cartesian(df), plan


def test_bm25_broadcast_stats_takeordered(spark, sf_dir):
    """BM25: corpus stats join must broadcast (1-row scalar side) and
    the top-k must be TakeOrdered, not a full sort; all JVM-side."""
    df = _q("llm_bm25_rank", spark, sf_dir)
    plan = formatted_plan(df)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "BroadcastNestedLoopJoin" in plan, plan  # 1-row stats broadcast
    assert "CartesianProduct" not in plan, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_semdedup_cell_keyed_join_no_python(spark, sf_dir):
    """SemDeDup: the pairwise pass must be keyed on the cluster id
    (hash/sort-merge join, never cartesian) and stay JVM-side.  The
    k-means rounds DO use BroadcastNestedLoopJoin (KB-sized centroid
    broadcast) — only a true CartesianProduct is a failure.  Assert on
    the UNSTAGED lineage so the Lloyd rounds are visible (the
    registered query's localCheckpoint hides them)."""
    from maxscale_cdc_spark.operators.retrieval import llm_semdedup

    with unstaged():
        df = llm_semdedup(spark, sf_dir)
    plan = formatted_plan(df)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan, plan


def test_changelog_compact_single_agg(spark, sf_dir):
    """Net-effect compaction is ONE keyed aggregation: exactly one
    exchange, no window, no join — min_by/max_by combine map-side."""
    df = _q("cdc_changelog_compact", spark, sf_dir)
    plan = formatted_plan(df)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert exchange_count(df) == 1, plan
    assert "Join" not in plan, plan
    assert "Window" not in plan, plan


def test_embed_outliers_broadcast_prototypes(spark, sf_dir):
    """Label prototypes (|labels| rows) must broadcast back — the
    N-row scoring pass joins map-side; only the (label, dim) agg
    shuffles."""
    df = _q("llm_embed_outliers", spark, sf_dir)
    plan = formatted_plan(df)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_fn_regex_no_shuffle(spark, sf_dir):
    """Row-local regex surface: zero exchanges, scan-speed."""
    df = _q("fn_regex", spark, sf_dir)
    plan = formatted_plan(df)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert exchange_count(df) == 0, plan


def test_pair_batches_keyed_windows_no_global_sort(spark, sf_dir):
    """Batch packing must use bucket-KEYED windows (no global
    single-partition sort) and an equi-join on the pair id."""
    df = _q("mm_pair_batches", spark, sf_dir)
    plan = formatted_plan(df)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert not has_cartesian(df), plan
    # every Window node partitions by a key — a global window would
    # print 'Window [...], []' with an empty partition spec
    import re
    assert not re.search(r"Window \[[^\]]*\], \[\]", plan), plan


def test_vocab_coverage_no_shuffle(spark, sf_dir):
    """OOV audit is row-local: zero exchanges."""
    df = _q("llm_vocab_coverage", spark, sf_dir)
    plan = formatted_plan(df)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert exchange_count(df) == 0, plan


def test_safe_resume_broadcast_firsts(spark, sf_dir):
    """Safe-resume: the per-bucket first-unacked side (8 rows) must
    broadcast; both aggs are map-side combinable, no window."""
    df = _q("cdc_safe_resume", spark, sf_dir)
    plan = formatted_plan(df)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "BroadcastHashJoin" in plan, plan
    assert "Window" not in plan, plan


def test_sim_pq_broadcast_codebooks_no_python(spark, sf_dir):
    """PQ: every codebook/ADC side must broadcast (K rows per
    subspace); the encode aggs are keyed min-structs, no window, no
    cartesian, all JVM-side.  Unstaged lineage (the registered query
    pins the vector frame behind a localCheckpoint)."""
    from maxscale_cdc_spark.operators.retrieval import llm_sim_pq

    with unstaged():
        df = llm_sim_pq(spark, sf_dir)
    plan = formatted_plan(df)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "Window" not in plan, plan


def test_dataset_card_two_shuffles(spark, sf_dir):
    """Release card: one content-hash window + one source agg — at
    most 2 keyed exchanges (+AQE artifacts), no Python, no join."""
    df = _q("llm_dataset_card", spark, sf_dir)
    plan = formatted_plan(df)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Join" not in plan, plan
    assert exchange_count(df) <= 3, plan


def test_reconciliation_no_python_keyed_join(spark, sf_dir):
    """State-vs-snapshot audit: pk-keyed full-outer join (never
    cartesian), keyed window for the state, all JVM-side."""
    df = _q("cdc_reconciliation", spark, sf_dir)
    plan = formatted_plan(df)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan, plan
    assert "FullOuter" in plan, plan


def test_asof_nearest_two_windows_no_join(spark, sf_dir):
    """Nearest as-of must be the two-window linear formulation: one
    user-keyed exchange, Window passes, NO join (the oracle's
    quadratic per-user join is the definition, not the plan)."""
    df = _q("rel_join_asof_nearest", spark, sf_dir)
    plan = formatted_plan(df)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Join" not in plan, plan
    assert "Window" in plan, plan


def test_hypertable_rollup_chained_aggs_single_scan(spark, sf_dir):
    """The daily layer must derive from the hourly AGGREGATE: exactly
    one parquet scan, two chained HashAggregate pairs, no join."""
    df = _q("rel_hypertable_rollup", spark, sf_dir)
    plan = formatted_plan(df)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # formatted plans print each node in the tree AND the detail
    # section — count DISTINCT scan node ids
    import re

    scans = set(re.findall(r"\((\d+)\) Scan parquet", plan))
    assert len(scans) == 1, plan
    assert plan.count("HashAggregate") >= 4, plan  # partial+final x 2 levels
    assert "Join" not in plan, plan


def test_countmin_fixed_size_broadcast(spark, sf_dir):
    """CMS: the sketch is a fixed d×w cell table — the audit join must
    broadcast it; no cartesian, no Python."""
    df = _q("llm_countmin_audit", spark, sf_dir)
    plan = formatted_plan(df)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_dup_span_gram_keyed_no_cartesian(spark, sf_dir):
    """ExactSubstr span finder: gram df-agg + join-back + doc window —
    linear keyed shuffles, never all-pairs, no Python."""
    df = _q("llm_dup_span", spark, sf_dir)
    plan = formatted_plan(df)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan, plan
    assert plan.count("HashAggregate") >= 2, plan  # gram df + runs/doc aggs


def test_line_dedup_hashes_built_rowside(spark, sf_dir):
    """Line hashes come from a per-row transform: the only explode
    output is (doc_id, line_hash) — no Python, no cartesian, and the
    plan carries the hash-keyed agg + join-back + doc agg."""
    df = _q("llm_line_dedup", spark, sf_dir)
    plan = formatted_plan(df)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan, plan
    assert "Generate" in plan, plan  # the single (doc_id, hash) explode


def test_phash_banded_join_never_allpairs(spark, sf_dir):
    """pHash dedup: candidates come from the (band, value) equi-join —
    a cartesian/nested-loop here would be the N² mistake the banding
    exists to avoid."""
    df = _q("mm_dedup_phash", spark, sf_dir)
    assert not has_cartesian(df)
    plan = formatted_plan(df)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_bpe_python_only_after_distinct(spark, sf_dir):
    """The greedy matcher (the one Python touchpoint) must run over the
    DISTINCT word set, not the occurrence stream: exactly one
    ArrowEvalPython, fed by the distinct aggregation."""
    df = _q("llm_bpe_tokenize", spark, sf_dir)
    import re

    plan = formatted_plan(df)
    udf_nodes = set(re.findall(r"ArrowEvalPython \((\d+)\)", plan))
    assert len(udf_nodes) == 1, plan
    # the udf's immediate child subtree (indented below it) must be the
    # distinct aggregation — Python never sees the occurrence stream
    lines = plan.splitlines()
    i = next(n for n, l in enumerate(lines) if "ArrowEvalPython (" in l)
    assert any("HashAggregate" in l for l in lines[i + 1 : i + 4]), plan


def test_burst_detect_broadcast_totals(spark, sf_dir):
    """Hourly profile joined to 1-row totals: totals broadcast
    (keyless 1-row BNLJ, the scalar-join shape), profile side never
    re-shuffles."""
    df = _q("cdc_burst_detect", spark, sf_dir)
    plan = formatted_plan(df)
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_twa_window_and_agg_share_partitioning(spark, sf_dir):
    """lead() window and the groupBy both key on user_id — the agg must
    reuse the window's exchange, not add its own."""
    df = _q("rel_time_weighted_avg", spark, sf_dir)
    n = exchange_count(df)
    assert n <= 1, f"expected the user_id exchange to be reused, got {n}"


def test_bitmap_distinct_mergeable_state(spark, sf_dir):
    """Bitmap distinct: both aggregations partial+final (mergeable
    state crosses the shuffle), no Python, no cartesian."""
    df = _q("rel_agg_distinct_bitmap", spark, sf_dir)
    plan = formatted_plan(df)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan, plan
    assert exchange_count(df) <= 2, simple_plan(df)


def test_ivf_recall_broadcast_audit_join(spark, sf_dir):
    """The recall audit joins the 5-row exact top-k to the (broadcast)
    cell membership — no Python, no cartesian beyond the deliberate
    1-row query-vector broadcast."""
    df = _q("llm_ivf_recall", spark, sf_dir)
    plan = formatted_plan(df)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan, plan


def test_ddl_timeline_broadcast_range_tag(spark, sf_dir):
    """Version spans are ALTER-count bounded — the range-tagging join
    must broadcast them over the DML stream, never shuffle or go
    cartesian; no Python anywhere."""
    df = _q("cdc_ddl_timeline", spark, sf_dir)
    plan = formatted_plan(df)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "EvalPython" not in plan, plan


def test_bpe_learn_pairs_distinct_then_pairs(spark, sf_dir):
    """Pair generation runs over DISTINCT words (word-count agg first),
    then one pair-keyed weighted sum — two exchanges total, no Python,
    no cartesian."""
    df = _q("llm_bpe_learn_pairs", spark, sf_dir)
    plan = formatted_plan(df)
    assert "EvalPython" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert exchange_count(df) <= 3, simple_plan(df)  # wc, pair agg, top-k sort


def test_quality_ablation_constant_fanout_single_agg(spark, sf_dir):
    """Per-doc measures at scan speed, a constant 6-element pair
    explode, ONE keyed aggregation (6 groups) — no Python, no
    cartesian, at most one exchange."""
    df = _q("llm_quality_ablation", spark, sf_dir)
    plan = formatted_plan(df)
    assert "EvalPython" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert exchange_count(df) <= 1, simple_plan(df)


def test_profile_table_single_scan(spark, sf_dir):
    """The 5-column profile must read orders ONCE (multi-countDistinct
    via expand), never scan per column."""
    import re

    df = _q("rel_profile_table", spark, sf_dir)
    plan = formatted_plan(df)
    scans = set(re.findall(r"\(\d+\) Scan parquet", plan))
    assert len(scans) == 1, plan
    assert "Expand" in plan, plan  # the multi-distinct expansion


def test_event_size_profile_windows_share_class_key(spark, sf_dir):
    """The discrete-percentile window and the final aggregation both
    key on event_class — one exchange, no Python."""
    df = _q("cdc_event_size_profile", spark, sf_dir)
    plan = formatted_plan(df)
    assert "EvalPython" not in plan, plan
    assert exchange_count(df) <= 2, simple_plan(df)


def test_bpe_learn_vocab_broadcast_merges_no_python(spark, sf_dir):
    """The learn loop (unstaged + k=2 exposes the un-checkpointed
    plan; the full K doubles per iteration without staging): every
    merge application is a 1-row BROADCAST into a fold — no
    CartesianProduct, no Python anywhere, and the argmax is
    TakeOrdered (no single-partition row_number window)."""
    from maxscale_cdc_spark.operators.bpe import _learn_merges

    with unstaged():
        merges, seg = _learn_merges(spark, sf_dir, k=2)
    plan = formatted_plan(seg)
    assert "EvalPython" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" in plan, plan
    mplan = formatted_plan(merges)
    assert "Window" not in mplan, mplan
    assert "TakeOrderedAndProject" in mplan, mplan


def test_bloom_broadcast_probe_no_shuffle_of_corpus(spark, sf_dir):
    """The Bloom probe must join positions via BROADCAST (the bit set
    is <= m rows at any corpus size) — a shuffle join here would move
    the whole probe stream for a 1024-row table."""
    df = _q("llm_dedup_bloom", spark, sf_dir)
    plan = formatted_plan(df)
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "EvalPython" not in plan, plan


def test_split_leakage_single_class_aggregation(spark, sf_dir):
    """One content-hash aggregation feeds all three pair rows — no
    Python, no cartesian, and the class agg is partial (map-side)."""
    df = _q("llm_split_leakage", spark, sf_dir)
    plan = formatted_plan(df)
    assert "EvalPython" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_dup_span_char_hashes_before_shuffle(spark, sf_dir):
    """The 20-char gram text must be md5'd in the scan projection (the
    shuffle carries 32-hex keys, not raw text windows); no cartesian,
    no Python."""
    df = _q("llm_dup_span_char", spark, sf_dir)
    plan = formatted_plan(df)
    assert "EvalPython" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "md5" in plan, plan


def test_weighted_percentile_one_window_exchange(spark, sf_dir):
    """Running sum and group total share the flag partitioning; the
    final agg reuses it — at most 2 exchanges end to end."""
    df = _q("rel_weighted_percentile", spark, sf_dir)
    assert exchange_count(df) <= 2, simple_plan(df)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan, plan


def test_consumer_lag_broadcast_between_aggs(spark, sf_dir):
    """cdc_consumer_lag: firsts (16 rows) broadcast back onto the
    stream — same audited shape as cdc_safe_resume."""
    df = _q("cdc_consumer_lag", spark, sf_dir)
    plan = formatted_plan(df)
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "EvalPython" not in plan, plan


def test_out_of_order_audit_single_pk_window(spark, sf_dir):
    """Running max partitions by pk (the CDC key) — no global window,
    no Python."""
    df = _q("cdc_out_of_order_audit", spark, sf_dir)
    plan = formatted_plan(df)
    assert "Window" in plan, plan
    assert "EvalPython" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_triangles_equi_joins_only(spark, sf_dir):
    """Triangle counting must be two EQUI-joins over oriented edges —
    never cartesian, never Python; the final scalar combine is the
    only nested-loop (1-row × 1-row)."""
    df = _q("rel_graph_triangles", spark, sf_dir)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "EvalPython" not in plan, plan
    assert plan.count("SortMergeJoin") + plan.count("BroadcastHashJoin") + plan.count("ShuffledHashJoin") >= 2, plan


def test_scd2_lookup_single_pk_shuffle(spark, sf_dir):
    """History and probes share ONE pk-keyed window sort — the as-of
    union pattern; no join against the history table at all."""
    df = _q("cdc_scd2_lookup", spark, sf_dir)
    plan = formatted_plan(df)
    assert "Window" in plan, plan
    assert "Join" not in plan, plan
    assert "EvalPython" not in plan, plan


def test_importance_resample_windows_share_partitioning(spark, sf_dir):
    """Cumulative weight and per-source totals both partition by
    source; the final agg reuses it — <= 2 exchanges total."""
    df = _q("llm_importance_resample", spark, sf_dir)
    assert exchange_count(df) <= 2, simple_plan(df)


# ---------------------------------------------------------------------------
# Round-7 gates
# ---------------------------------------------------------------------------


def test_shingle_classes_lineage_jvm_only(spark, sf_dir):
    """The class-collapsed LSH lineage (unstaged so the full plan is
    visible below the checkpoints): no Python, no cartesian, exactly
    one keyed aggregation family building the classes."""
    from maxscale_cdc_spark.operators.llm import (
        class_band_pairs,
        class_pair_jaccard,
        shingle_classes,
    )

    with unstaged():
        doc_map, classes = shingle_classes(spark, sf_dir)
    cp = class_band_pairs(classes, 2, 4)
    ver = class_pair_jaccard(cp, classes)
    plan = formatted_plan(ver)
    assert "EvalPython" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "md5" in plan, plan


def test_lsh_tuning_sampled_filter_reaches_scan(spark, sf_dir):
    """The hash-sample predicate must prune before the shingle work:
    the md5-bucket filter appears below the class aggregation (a
    Filter on the scan side), not above it."""
    from maxscale_cdc_spark.operators.llm import shingle_classes
    from maxscale_cdc_spark.functions.sample import hash_sample

    with unstaged():
        doc_map, _ = shingle_classes(
            spark, sf_dir, doc_filter=hash_sample("doc_id", 40)
        )
    plan = formatted_plan(doc_map)
    assert "conv(substring(md5" in plan.replace(" ", "").lower() or "conv" in plan, plan
    assert "EvalPython" not in plan, plan


def test_scd2_merge_history_broadcasts_batch_firsts(spark, sf_dir):
    """Incremental SCD2: the close-open join must broadcast the
    O(|batch pks|) first-timestamp side, never shuffle history."""
    df = _q("cdc_scd2_merge_history", spark, sf_dir)
    plan = formatted_plan(df)
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "EvalPython" not in plan, plan


def test_ivm_join_four_terms_no_cartesian(spark, sf_dir):
    df = _q("rel_ivm_join", spark, sf_dir)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "EvalPython" not in plan, plan


def test_ewma_single_window_exchange(spark, sf_dir):
    """8 lag() reads must share ONE user_id window partitioning."""
    df = _q("rel_ewma_dyadic", spark, sf_dir)
    assert exchange_count(df) == 1, simple_plan(df)
    # exactly one Window NODE (formatted plans mention the operator
    # again in the details section — count node headers only)
    plan = formatted_plan(df)
    assert plan.count(") Window") == 1, plan


def test_word_entropy_single_agg_family(spark, sf_dir):
    """Explode → one keyed agg family; no joins, no Python."""
    df = _q("llm_word_entropy", spark, sf_dir)
    plan = formatted_plan(df)
    assert "Join" not in plan, plan
    assert "EvalPython" not in plan, plan


def test_curriculum_order_broadcasts_source_dim(spark, sf_dir):
    df = _q("llm_curriculum_order", spark, sf_dir)
    plan = formatted_plan(df)
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan, plan
    assert "EvalPython" not in plan, plan


def test_dedup_incremental_new_side_drives_band_join(spark, sf_dir):
    """No Python, no cartesian; the staged old-signature side is a
    checkpoint (the signature-store stand-in)."""
    df = _q("llm_dedup_incremental", spark, sf_dir)
    plan = formatted_plan(df)
    assert "EvalPython" not in plan, plan
    assert "CartesianProduct" not in plan, plan


# --- round-9 continuation plan gates ------------------------------------


def test_backfill_plan_single_scan_no_cross(spark, sf_dir):
    """The chunk plan reads events ONCE (total rides the cumsum's
    window exchange, never a second aggregate + cross join)."""
    df = _q("cdc_backfill_chunk_plan", spark, sf_dir)
    plan = simple_plan(df)
    assert plan.count("FileScan parquet") == 1, plan
    assert not has_cartesian(df)


def test_vocab_drift_broadcasts_vocab(spark, sf_dir):
    """The learned 1024-row vocab must broadcast into the new-slice
    token scoring pass — the pass itself stays shuffle-free."""
    df = _q("llm_vocab_drift", spark, sf_dir)
    assert has_broadcast_join(df)
    assert not has_cartesian(df)


def test_containment_no_cartesian(spark, sf_dir):
    """Candidate generation is equi-keyed on the shared token — the
    role/threshold predicates ride the equi-join, never a nested
    loop."""
    df = _q("llm_dedup_containment", spark, sf_dir)
    assert not has_cartesian(df)


def test_mmr_iterations_stay_candidate_bounded(spark, sf_dir):
    """Every MMR selection joins candidate-bounded tables: no scan of
    embeddings appears after the two staged lineages (cand + sims) —
    checkpoint boundaries hide upstream, so a corpus scan INSIDE the
    loop would show up as an extra FileScan."""
    df = _q("llm_mmr_rerank", spark, sf_dir)
    plan = simple_plan(df)
    assert plan.count("FileScan parquet") == 0, plan  # all inputs staged
    assert not has_cartesian(df)


def test_ann_mmr_candidates_no_full_embedding_scan(spark, sf_dir):
    """llm_ann_mmr_e2e's candidate stage must be the ANN shape: IVF
    routing (pure-Cross NLJs against the broadcast K-row centroid
    table) + ONE cid equi-join — never the brute-force scorer, whose
    signature is a nested-loop join CONDITIONED on `vec_id <> qid`
    against the full embeddings scan."""
    import re

    from maxscale_cdc_spark.operators.retrieval import _ann_mmr_candidates

    with unstaged():
        df = _ann_mmr_candidates(spark, sf_dir)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # the candidate join is keyed on cid (routing table broadcast)
    assert re.search(r"Left keys \[1\]: \[cid#", plan), plan
    # every nested-loop join is an unconditioned Cross (centroid
    # broadcast); a conditioned NLJ = full-embedding-scan candidates
    for block in re.split(r"\n(?=\(\d+\) )", plan):
        if "BroadcastNestedLoopJoin" in block.splitlines()[0]:
            assert "Join condition: None" in block, block


def test_ann_mmr_iterations_stay_candidate_bounded(spark, sf_dir):
    """Same staging contract as llm_mmr_rerank: after the staged cand
    + sims lineages, no MMR iteration rescans the corpus."""
    df = _q("llm_ann_mmr_e2e", spark, sf_dir)
    plan = simple_plan(df)
    assert plan.count("FileScan parquet") == 0, plan
    assert not has_cartesian(df)


def test_ann_mmr_scaled_candidates_no_full_embedding_scan(spark, sf_dir):
    """The raised-K (K=32) production variant keeps the ANN candidate
    shape: routing NLJs broadcast the centroid table unconditioned,
    the candidate join is keyed on cid — same gate as the base op."""
    import re

    from maxscale_cdc_spark.operators.retrieval import (
        _ANNMMR_K_SCALED,
        _ann_mmr_candidates,
    )

    with unstaged():
        df = _ann_mmr_candidates(spark, sf_dir, n_cells=_ANNMMR_K_SCALED)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert re.search(r"Left keys \[1\]: \[cid#", plan), plan
    for block in re.split(r"\n(?=\(\d+\) )", plan):
        if "BroadcastNestedLoopJoin" in block.splitlines()[0]:
            assert "Join condition: None" in block, block


def test_ann_mmr_scaled_iterations_stay_candidate_bounded(spark, sf_dir):
    """Raised-K variant: no corpus rescans after the staged cand +
    sims lineages, nothing cartesian."""
    df = _q("llm_ann_mmr_e2e_scaled", spark, sf_dir)
    plan = simple_plan(df)
    assert plan.count("FileScan parquet") == 0, plan
    assert not has_cartesian(df)


def test_cascade_delete_broadcast_and_pushdown(spark, sf_dir):
    """The deleted-parent set must BROADCAST into the child purge (one
    pass over orders, no shuffle of the fact side), and nothing goes
    cartesian."""
    df = _q("cdc_cascade_delete_apply", spark, sf_dir)
    assert has_broadcast_join(df)
    assert not has_cartesian(df)
    plan = formatted_plan(df)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_ivm_topk_prefix_filters_reach_scan(spark, sf_dir):
    """The stored/batch slice predicates must push into the parquet
    scan (at 100 TB the stored side reads the materialized view — here
    the predicate proves the slice never scans the other side's
    rows)."""
    df = _q("rel_ivm_topk", spark, sf_dir)
    assert not has_cartesian(df)
    assert "event_id" in pushed_filters(df)


def test_store_migrate_no_cartesian_no_python(spark, sf_dir):
    """Both configs' band joins are equi-keyed on (band, key); the
    scalar-aggregate crossJoins broadcast 1-row frames (allowed), but
    nothing may go CartesianProduct or drop to Python."""
    df = _q("llm_dedup_store_migrate", spark, sf_dir)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_containment_sampled_no_cartesian_no_python(spark, sf_dir):
    df = _q("llm_dedup_containment_sampled", spark, sf_dir)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_two_stage_dedup_no_cartesian_no_python(spark, sf_dir):
    """The composed dedup surface inherits both inputs' discipline:
    nothing cartesian, no Python anywhere (both lineages are
    JVM-side; the merge is one pair-keyed agg)."""
    df = _q("llm_dedup_two_stage", spark, sf_dir)
    assert not has_cartesian(df)
    plan = formatted_plan(df)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "MapInPandas" not in plan


def test_banding_swap_verify_shape(spark, sf_dir):
    """str_banding_swap_splice's batch verify half: candidate pairs
    join the doc shingle sets on equi keys, config metadata rides a
    broadcast, nothing cartesian, no Python."""
    df = _q("str_banding_swap_splice", spark, sf_dir)
    assert not has_cartesian(df)
    assert has_broadcast_join(df)  # the KB cfgmeta generation table
    plan = formatted_plan(df)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_avro_decode_arrow_batched_only(spark, sf_dir):
    """The OCF decode is the sanctioned Python touchpoint — it must be
    the Arrow-batched MapInPandas operator, never row-at-a-time
    BatchEvalPython, and the aggregate above it stays JVM-side."""
    df = _q("src_avro_events", spark, sf_dir)
    plan = formatted_plan(df)
    assert "MapInPandas" in plan, plan
    assert "BatchEvalPython" not in plan
    assert not has_cartesian(df)


def test_fenced_failover_state_read_shape(spark, sf_dir):
    """The failover op's exported read: bucket-pruned generation scans
    union-read through the recovered manifest — no cartesian, no
    Python, constants ride as literals."""
    df = _q("snk_fenced_failover", spark, sf_dir)
    assert not has_cartesian(df)
    plan = formatted_plan(df)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_avro_evolution_decode_arrow_batched_only(spark, sf_dir):
    """Mixed-generation decode stays the Arrow-batched MapInPandas
    path; the per-(version, dml) ledger aggregates JVM-side."""
    df = _q("src_avro_schema_evolution", spark, sf_dir)
    plan = formatted_plan(df)
    assert "MapInPandas" in plan, plan
    assert "BatchEvalPython" not in plan
    assert not has_cartesian(df)


def test_store_forget_stays_class_banded(spark, sf_dir):
    """The forget apply inherits the minhash family's discipline:
    candidates come from the class band join (never cartesian), and
    the whole projection stays JVM-side."""
    df = _q("llm_dedup_store_forget", spark, sf_dir)
    assert not has_cartesian(df)
    plan = formatted_plan(df)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "MapInPandas" not in plan


# ---------------------------------------------------------------------------
# round-12 plan gates
# ---------------------------------------------------------------------------


def test_bitemporal_probe_shape(spark, sf_dir):
    """The 3×3 probe grid joins as a BROADCAST (theta join → BNLJ over
    a 9-row side is the intended plan; an unrestricted CartesianProduct
    is not), and the argmax is ONE hash aggregation — no window, no
    self-join."""
    df = _q("cdc_bitemporal", spark, sf_dir)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # 9-row probe side, by design
    assert "HashAggregate" in plan
    assert "Window" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_consistent_join_shape(spark, sf_dir):
    """Scalar cuts broadcast; the three per-table states hash-join on
    pk; everything JVM-side."""
    df = _q("cdc_consistent_join_at", spark, sf_dir)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert has_broadcast_join(df)  # scalar cut broadcast onto images
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_hll_rollup_jvm_side_and_single_scan_per_agg(spark, sf_dir):
    """Sketch aggregation runs as JVM (object) hash aggregation —
    never Python — and the tiny per-flag tables broadcast.  The
    production plan checkpoints the per-cell sketches (hiding the
    sketch agg behind Scan ExistingRDD) — gate the unstaged plan
    so the hll_sketch_agg node is actually visible (CLAUDE.md rule 5)."""
    from maxscale_cdc_spark.operators.relational2 import rel_hll_rollup_union

    with unstaged():
        df = rel_hll_rollup_union(spark, sf_dir)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "hll_sketch_agg" in plan, "sketch agg must be visible unstaged"
    assert "ObjectHashAggregate" in plan or "SortAggregate" in plan
    assert has_broadcast_join(df)


def test_collation_join_shape(spark, sf_dir):
    """Collated equality joins/aggregates stay JVM-side but take the
    SORT-based paths in Spark 4.1: non-binary collations disable the
    hash fallbacks, so the join is a collation-aware SortMergeJoin
    (the broadcast hint is dropped) and the UNICODE_CI group-by is a
    SortAggregate.  This gate pins that engine behavior — if an
    upgrade re-enables hash paths, the op docstring's 100 TB note
    should be revisited."""
    df = _q("fn_collation", spark, sf_dir)
    plan = formatted_plan(df)
    assert "SortMergeJoin" in plan, plan
    assert "SortAggregate" in plan, plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan


def test_protobuf_decode_arrow_batched_only(spark, sf_dir):
    """The wire decode is the sanctioned Python touchpoint — Arrow
    MapInPandas, never row-at-a-time; the tags sum stays a JVM
    higher-order function above it."""
    df = _q("src_protobuf_events", spark, sf_dir)
    plan = formatted_plan(df)
    assert "MapInPandas" in plan, plan
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_audio_fp_equi_join_no_python(spark, sf_dir):
    """Frame matching is an equi-join on the sub-fingerprint (never
    cartesian, never BNLJ) and frame extraction stays a JVM HOF."""
    df = _q("mm_dedup_audio_fp", spark, sf_dir)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "MapInPandas" not in plan


def test_range_search_cell_routed(spark, sf_dir):
    """Radius search inherits the IVF routing: candidate cells arrive
    broadcast, the radius filter rides the same projection — no
    unrestricted cartesian, no Python."""
    df = _q("llm_ann_range_search", spark, sf_dir)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert has_broadcast_join(df)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_snapshot_restore_reads_files_not_lineage(spark, sf_dir):
    """The restored search plans over the SNAPSHOT files (a fresh
    parquet scan of the cell store), not the k-means lineage: the scan
    set must include the snapshot path and the cell join must
    broadcast the query cell."""
    df = _q("llm_index_snapshot_restore", spark, sf_dir)
    plan = formatted_plan(df)
    assert "ivf_snap_" in plan, plan[:2000]
    assert has_broadcast_join(df)
    assert "CartesianProduct" not in plan


def test_shadow_audit_shape(spark, sf_dir):
    """Both generation top-5s arrive broadcast onto the brute-force
    rank table; no unrestricted cartesian, everything JVM-side."""
    df = _q("llm_ann_shadow_audit", spark, sf_dir)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert has_broadcast_join(df)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_pipe_syntax_same_semantics_as_ansi(spark, sf_dir):
    """The pipe chain parses to the SAME logical plan as the nested
    ANSI form — Catalyst sees one tree, so every optimization applies
    to both."""
    import maxscale_cdc_spark.tables as tables

    tables.table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    tables.table(spark, sf_dir, "customer").createOrReplaceTempView(
        "customer"
    )
    piped = _q("fn_pipe_syntax", spark, sf_dir)
    ansi = spark.sql(
        """
        SELECT o_orderpriority, c_mktsegment,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
                 AS total
        FROM orders JOIN customer ON o_custkey = c_custkey
        WHERE o_orderstatus = 'O'
        GROUP BY o_orderpriority, c_mktsegment
        HAVING COUNT(*) > 2
        """
    ).select("o_orderpriority", "c_mktsegment", "n_orders", "total")
    # sameSemantics is too strict across the HAVING-alias rewrite, so
    # assert the structural facts: same physical shape (broadcast hash
    # join + hash agg, nothing cartesian) and identical results.
    p_plan, a_plan = formatted_plan(piped), formatted_plan(ansi)
    assert has_broadcast_join(piped) == has_broadcast_join(ansi)
    assert "CartesianProduct" not in p_plan
    assert "HashAggregate" in p_plan and "HashAggregate" in a_plan
    got = sorted(map(tuple, piped.collect()))
    exp = sorted(map(tuple, ansi.collect()))
    assert got == exp


def test_corpus_diff_no_cartesian_no_python(spark, sf_dir):
    """Content diff: two hash aggs + one full outer hash join on the
    content key; the scalar cut rides broadcast."""
    df = _q("llm_corpus_snapshot_diff", spark, sf_dir)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_bloom_runtime_filter_injected(spark, sf_dir):
    """The runtime bloom filter must be BUILT on the selective side
    and PROBED on the fact scan, with the join staying a shuffle
    join (the case broadcast can't cover at 100 TB)."""
    from maxscale_cdc_spark.operators.relational2 import bloom_join_result

    _, plan = bloom_join_result(spark, sf_dir)
    assert "bloom_filter_agg" in plan
    assert "might_contain" in plan
    assert "BroadcastHashJoin" not in plan


def test_bloom_confs_are_restored(spark, sf_dir):
    """The op's conf scope must not leak — a session-wide
    autoBroadcastJoinThreshold=-1 would wreck every later plan."""
    from maxscale_cdc_spark.operators.relational2 import (
        _BLOOM_CONFS,
        bloom_join_result,
    )

    before = {}
    for k in _BLOOM_CONFS:
        try:
            before[k] = spark.conf.get(k)
        except Exception:
            before[k] = None
    bloom_join_result(spark, sf_dir)
    for k, v in before.items():
        try:
            after = spark.conf.get(k)
        except Exception:
            after = None
        assert after == v, (k, v, after)


def test_read_committed_shape(spark, sf_dir):
    """Txn-extent agg + two keyed states + one pk join — scalar cut
    broadcast, nothing cartesian, everything JVM-side."""
    df = _q("cdc_read_committed_at", spark, sf_dir)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_pack_interleaved_bounded_explode(spark, sf_dir):
    """Both explodes are bounded (text: overlapped chunks; images: one
    row per image) and the packing window is per-source — no global
    unpartitioned window, no Python.  The production plan checkpoints
    the run offsets, which hides the window node (CLAUDE.md rule 5) —
    gate the unstaged plan and require the window to be FOUND, so
    the partitioning assertion can never go vacuous again."""
    from maxscale_cdc_spark.operators.multimodal import mm_pack_interleaved

    with unstaged():
        df = mm_pack_interleaved(spark, sf_dir)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    import re

    windows = list(re.finditer(r"windowspecdefinition\(([^)]*)\)", plan))
    assert windows, "expected the packing window in the unstaged plan"
    for m in windows:
        assert "source" in m.group(1), m.group(0)


def test_cbo_stats_drive_broadcast(spark, sf_dir):
    """With column stats, CBO prices the filtered side below the
    broadcast threshold — broadcast join chosen, confs restored."""
    from maxscale_cdc_spark.operators.relational2 import (
        _CBO_CONFS,
        cbo_join_result,
    )

    before = {}
    for k in _CBO_CONFS:
        try:
            before[k] = spark.conf.get(k)
        except Exception:
            before[k] = None
    _, plan = cbo_join_result(spark, sf_dir)
    assert "BroadcastHashJoin" in plan
    for k, v in before.items():
        try:
            after = spark.conf.get(k)
        except Exception:
            after = None
        assert after == v, (k, v, after)


def test_land_convert_downstream_is_python_free(spark, sf_dir):
    """The decode-once landing discipline: the returned consumer plan
    reads the parquet landing zone only — no MapInPandas codec stage,
    no Python evaluation of any kind, parquet columnar scan present."""
    df = _q("snk_land_convert", spark, sf_dir)
    plan = formatted_plan(df)
    for marker in ("MapInPandas", "ArrowEvalPython", "BatchEvalPython"):
        assert marker not in plan, marker
    assert "Scan parquet" in plan
    assert "CartesianProduct" not in plan


def test_kmeans_chain_raw_plan_jvm_side(spark, sf_dir):
    """The shared Lloyd chain (now consumed via kmeans_cells_cached,
    whose checkpoint hides it from every op-level gate — CLAUDE.md
    rule 5): gate the RAW chain directly.  Pure Catalyst (no Python),
    every assignment join broadcasts the KB-sized centroid side, and
    the rank window is per-vector (never unpartitioned)."""
    from maxscale_cdc_spark.operators.llm import _kmeans_cells
    from maxscale_cdc_spark.tables import table

    cents, assigned = _kmeans_cells(table(spark, sf_dir, "embeddings"))
    plan = formatted_plan(assigned)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan
    import re

    windows = list(re.finditer(r"windowspecdefinition\(([^)]*)\)", plan))
    assert windows, "rank window must be visible in the raw chain"
    for m in windows:
        assert "vec_id" in m.group(1), m.group(0)


def test_win_group_limit_pushdown(spark, sf_dir):
    """The rank filter must become map-side WindowGroupLimit pushdown:
    BOTH Partial (before the exchange) and Final nodes present, so the
    shuffle carries at most k rows per group per mapper."""
    df = _q("rel_win_group_limit", spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("WindowGroupLimit") >= 2, plan
    assert "Partial" in plan and "Final" in plan


def test_lateral_decorrelated_to_join(spark, sf_dir):
    """The LATERAL subquery (ORDER BY + LIMIT body) must decorrelate
    into a hash join + per-key limit — never a nested loop re-running
    the subquery per outer row."""
    df = _q("fn_lateral", spark, sf_dir)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan, plan


def test_sql_udf_inlined_no_python(spark, sf_dir):
    """SQL-defined scalar and table UDFs must inline into the plan:
    zero Python evaluation nodes, aggregate stays in codegen."""
    df = _q("fn_sql_udf", spark, sf_dir)
    plan = formatted_plan(df)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "MapInPandas" not in plan
    assert "HashAggregate" in plan
    assert codegen_stage_count(df) >= 1


def test_recursive_cte_uses_union_loop(spark, sf_dir):
    """WITH RECURSIVE must execute as the engine's fixpoint loop (one
    plan, engine-driven rounds) — not an unrolled join chain — and
    stay JVM-side."""
    df = _q("rel_recursive_cte", spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "UnionLoop" in plan or "Recursion" in plan, plan[:2000]
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_observe_metrics_single_pass(spark, sf_dir):
    """The observation taps the executed pipeline; the exported frame
    is a 1-row local relation (metrics harvested, no rescan)."""
    df = _q("rel_observe_metrics", spark, sf_dir)
    plan = formatted_plan(df)
    # harvested metrics plan as a driver-local relation, never a
    # re-read of the events table
    assert "Scan parquet" not in plan, plan
    assert "LocalTableScan" in plan or "Scan ExistingRDD" in plan, plan
    assert df.count() == 1


def test_mor_compact_plan_shape(spark, sf_dir):
    """The compaction PLAN is metadata-sized: the only nested-loop
    join is the broadcast of the 1-row cuts aggregate (never a true
    CartesianProduct), and the events scan prunes to the 3 needed
    columns."""
    df = _q("snk_upsert_mor_compact_plan", spark, sf_dir)
    assert "CartesianProduct" not in formatted_plan(df)
    rs = read_schema(df)
    assert "event_id" in rs and "user_id" in rs and "event_type" in rs
    assert "props" not in rs and "value" not in rs, rs


def test_rank_fusion_no_full_cosine_scan(spark, sf_dir):
    """The vector leg must score the CANDIDATE POOL only: probe
    vectors arrive via broadcast (the 2-row probe set is the only
    nested-loop side), never a true CartesianProduct."""
    df = _q("llm_rag_rank_fusion", spark, sf_dir)
    assert has_broadcast_join(df)
    assert "CartesianProduct" not in formatted_plan(df)


def test_alpha_sweep_single_corpus_scan(spark, sf_dir):
    """The sweep prices 3 operating points off ONE corpus count-agg:
    exactly one scan of documents in the plan, reading only the
    grouping column."""
    df = _q("llm_mixture_alpha_sweep", spark, sf_dir)
    plan = formatted_plan(df)
    assert plan.count("documents.parquet") == 1, plan[:1500]
    rs = read_schema(df)
    assert "source" in rs and "text" not in rs, rs


def test_epoch_schedule_single_corpus_scan(spark, sf_dir):
    df = _q("llm_mixture_epoch_schedule", spark, sf_dir)
    plan = formatted_plan(df)
    assert plan.count("documents.parquet") == 1, plan[:1500]


def test_matryoshka_prunes_to_vectors(spark, sf_dir):
    """Truncated-dim audit reads only (vec_id, embedding) — label and
    every other column pruned from the scan."""
    df = _q("llm_embedding_matryoshka", spark, sf_dir)
    rs = read_schema(df)
    assert "embedding" in rs and "label" not in rs, rs
    assert "CartesianProduct" not in formatted_plan(df)
