"""Round-8 property and plan-gate tests: the recall-governed banding
closure (operators/autotune.py), capped clustering, incremental IVF
drift, and the shared trigram lineage."""

from __future__ import annotations

from pyspark.sql import functions as F

import __spark_entry__ as entrymod
from maxscale_cdc_spark.plans.inspect import formatted_plan
from maxscale_cdc_spark.session import unstaged


def _q(name, spark, sf_dir):
    return entrymod.queries()[name](spark, sf_dir)


def test_trigram_classes16_lineage_jvm_only(spark, sf_dir):
    """The K=16 class lineage (unstaged so the full plan is visible
    below the checkpoints): no Python, no cartesian, hashing present."""
    from maxscale_cdc_spark.operators.autotune import trigram_classes16
    from maxscale_cdc_spark.operators.llm import (
        class_band_pairs,
        class_pair_jaccard,
    )

    with unstaged():
        doc_map, classes = trigram_classes16(spark, sf_dir)
    cp = class_band_pairs(classes, 8, 2)
    ver = class_pair_jaccard(cp, classes)
    plan = formatted_plan(ver)
    assert "EvalPython" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "md5" in plan, plan


def test_banding_sample_filter_reaches_scan(spark, sf_dir):
    """The curve's deterministic hash-sample predicate must prune
    documents BEFORE the shingling/minhash work, not after."""
    from maxscale_cdc_spark.functions.sample import hash_sample
    from maxscale_cdc_spark.operators.autotune import trigram_classes16

    with unstaged():
        doc_map, _ = trigram_classes16(
            spark, sf_dir, doc_filter=hash_sample("doc_id", 40)
        )
    plan = formatted_plan(doc_map)
    assert "conv" in plan, plan
    assert "EvalPython" not in plan, plan


def test_trigram_sets_cached_per_session(spark, sf_dir):
    """The shared staged trigram lineage is one object per
    (session, sf_dir) — jaccard_prefix / recall audit / autotune all
    read the same checkpoint."""
    from maxscale_cdc_spark.operators.llm import trigram_sets

    a = trigram_sets(spark, sf_dir)
    b = trigram_sets(spark, sf_dir)
    assert a is b
    # filtered builds must NOT hit the unfiltered cache
    c = trigram_sets(spark, sf_dir, doc_filter=F.col("doc_id") < 10)
    assert c is not a


def test_class_exact_pairs_complete_vs_bruteforce(spark, sf_dir):
    """Completeness of the class-level prefix-filtered exact join: on
    the sf0.001 sample, it must return EXACTLY the brute-force all-pairs
    J >= 0.5 set (the no-false-negative lemma on real data)."""
    from maxscale_cdc_spark.functions.sample import hash_sample
    from maxscale_cdc_spark.operators.autotune import (
        _AT_SAMPLE_PCT,
        _class_exact_pairs,
        trigram_classes16,
    )

    with unstaged():
        _, classes = trigram_classes16(
            spark,
            "/root/testdata/sf0.001",
            doc_filter=hash_sample("doc_id", _AT_SAMPLE_PCT),
        )
    got = {
        (r["ckey_a"], r["ckey_b"])
        for r in _class_exact_pairs(classes).collect()
    }
    rows = classes.select("ckey", "rep", "shs").collect()
    want = set()
    for i, a in enumerate(rows):
        for b in rows[i + 1 :]:
            lo, hi = (a, b) if a["rep"] < b["rep"] else (b, a)
            sa, sb = set(lo["shs"]), set(hi["shs"])
            inter = len(sa & sb)
            if inter and inter / len(sa | sb) >= 0.5:
                want.add((lo["ckey"], hi["ckey"]))
    assert got == want


def test_capped_cluster_invariants(spark, sf_dir):
    """Structural invariants of the capped clustering: was_split iff
    the base component exceeds the cap; unsplit docs keep their base
    rep; a split doc's new rep is a member of the SAME base component
    (re-cutting never merges across components)."""
    from maxscale_cdc_spark.operators.llm import _CLUSTER_CAP

    rows = _q("llm_dedup_cluster_capped", spark, sf_dir).collect()
    base_of = {r["doc_id"]: r["base_rep"] for r in rows}
    split_seen = False
    for r in rows:
        assert r["was_split"] == (r["csize"] > _CLUSTER_CAP), r
        if not r["was_split"]:
            assert r["cluster_rep"] == r["base_rep"], r
        else:
            split_seen = True
            # the new rep must belong to the same base component
            assert base_of[r["cluster_rep"]] == r["base_rep"], r
        assert r["is_keeper"] == (r["doc_id"] == r["cluster_rep"]), r
    assert split_seen, "cap never triggered — test corpus changed?"


def test_ivf_incremental_conservation(spark, sf_dir):
    """Mass conservation and pure-integer drift identities: cell seed
    masses sum to the old slice, batch masses to the new slice, and
    disp_den == n_seed * (n_seed + n_new) wherever defined."""
    from maxscale_cdc_spark.tables import table

    rows = _q("llm_ivf_incremental", spark, sf_dir).collect()
    e = table(spark, sf_dir, "embeddings")
    mx = e.agg(F.expr("div(max(vec_id) * 4, 5)")).collect()[0][0]
    n_old = e.filter(F.col("vec_id") <= mx).count()
    n_new = e.filter(F.col("vec_id") > mx).count()
    assert sum(r["n_seed"] for r in rows) == n_old
    assert sum(r["n_new"] for r in rows) == n_new
    for r in rows:
        if r["disp_den"] is not None:
            assert r["disp_den"] == r["n_seed"] * (r["n_seed"] + r["n_new"]), r
            assert r["disp_l1_num"] >= 0
        if r["n_seed"] > 0:
            assert abs(r["growth_ratio"] - r["n_new"] / r["n_seed"]) == 0.0


def test_autotuned_chooser_meets_floor_or_max_recall(spark, sf_dir):
    """The exported chosen config must be consistent with the curve's
    degradation ladder (round 9): cheapest PRODUCTION-space candidates
    among floor+budget configs; else max recall within budget; else
    cheapest production candidates."""
    curve = {
        (r["bands"], r["rows_per_band"]): r
        for r in _q("llm_banding_recall_curve", spark, sf_dir).collect()
    }
    out = _q("llm_dedup_near_autotuned", spark, sf_dir).limit(1).collect()
    if not out:  # no near-dup pairs at this scale — nothing to check
        return
    chosen = (out[0]["chosen_bands"], out[0]["chosen_rows"])
    both = [
        k for k, r in curve.items() if r["meets_floor"] and r["within_budget"]
    ]
    budget = [k for k, r in curve.items() if r["within_budget"]]
    if both:
        best = min(both, key=lambda k: (curve[k]["n_cand_prod"], k))
    elif budget:
        best = min(budget, key=lambda k: (-curve[k]["n_caught"], k))
    else:
        best = min(curve, key=lambda k: (curve[k]["n_cand_prod"], k))
    assert chosen == best, (chosen, best)


def test_pipeline_e2e_plan_shape(spark, sf_dir):
    """The composed funnel stays JVM-side with no cartesian, and the
    whole gate→dedup→pack→shard chain costs exactly TWO exchanges (the
    dedup class agg feeding the join, and the per-lang pack window
    whose partitioning the final lang-keyed agg reuses)."""
    from maxscale_cdc_spark.plans.inspect import (
        exchange_count,
        formatted_plan,
        has_cartesian,
    )

    df = _q("llm_pipeline_e2e", spark, sf_dir)
    plan = formatted_plan(df)
    assert "EvalPython" not in plan, plan
    assert not has_cartesian(df)
    assert exchange_count(df) <= 3, plan


def test_rag_chunk_rank_takeordered(spark, sf_dir):
    """The global top-k must be a TakeOrdered (per-partition heap +
    k-row merge), not a full sort shuffle."""
    from maxscale_cdc_spark.plans.inspect import formatted_plan

    df = _q("llm_rag_chunk_rank", spark, sf_dir)
    assert "TakeOrderedAndProject" in formatted_plan(df)


def test_ivf_rebalance_actions_follow_rules(spark, sf_dir):
    """Every action is the integer skew rule applied to the cell's own
    mass; merge targets exist only on merges and never self-point."""
    rows = _q("llm_ivf_rebalance_plan", spark, sf_dir).collect()
    n = sum(r["n_total"] for r in rows)
    k = len(rows)
    for r in rows:
        if r["n_total"] * k > 2 * n:
            want = "split"
        elif 4 * r["n_total"] * k < n:
            want = "merge"
        else:
            want = "keep"
        assert r["action"] == want, r
        if r["action"] == "merge":
            assert r["merge_target"] is not None and r["merge_target"] != r["cid"]
        else:
            assert r["merge_target"] is None


def test_replay_plan_ranges_merged_disjoint(spark, sf_dir):
    """Merged replay ranges are sorted, non-adjacent and non-
    overlapping (that's what 'merged' means), and each command string
    anchors one position before its range."""
    rows = sorted(
        _q("cdc_replay_request_plan", spark, sf_dir).collect(),
        key=lambda r: r["range_start"],
    )
    prev_end = None
    for r in rows:
        assert r["range_start"] <= r["range_end"]
        assert r["span"] == r["range_end"] - r["range_start"] + 1
        assert r["request_cmd"].endswith(str(r["range_start"] - 1))
        if prev_end is not None:
            assert r["range_start"] > prev_end + 1
        prev_end = r["range_end"]


def test_source_matrix_mass_conserved(spark, sf_dir):
    """Σ n_pairs over the source matrix == |llm_dedup_near| pairs."""
    total = sum(
        r["n_pairs"] for r in _q("llm_dedup_source_matrix", spark, sf_dir).collect()
    )
    assert total == _q("llm_dedup_near", spark, sf_dir).count()


def test_ivm_distinct_identity(spark, sf_dir):
    """merged == full recompute on every group (the IVM contract)."""
    for r in _q("rel_ivm_distinct", spark, sf_dir).collect():
        assert r["merged_distinct"] == r["full_distinct"], r


def test_pack_boundary_identities(spark, sf_dir):
    for r in _q("llm_pack_boundary_audit", spark, sf_dir).collect():
        assert r["n_packs"] == (r["total_tokens"] + 511) // 512
        assert 0 <= r["spilled_tokens"] <= r["total_tokens"]
        assert r["n_straddlers"] <= r["boundary_crossings"]
        assert 0.0 < r["fill_ratio"] <= 1.0


def test_modality_budget_sums_exactly(spark, sf_dir):
    rows = _q("mm_modality_budget_plan", spark, sf_dir).collect()
    total = sum(r["n_bytes"] for r in rows)
    assert sum(r["byte_quota"] for r in rows) == total // 2


def test_gtid_watermark_matches_bruteforce(spark, sf_dir):
    """The packed-BIGINT argmin must equal the brute-force min-over-
    servers-of-max-sequence, and the resume GTID names that server."""
    from collections import defaultdict

    from maxscale_cdc_spark.tables import table

    rows = _q("cdc_gtid_watermark", spark, sf_dir).collect()
    ev = table(spark, sf_dir, "events").select("event_id", "user_id").collect()
    mx = defaultdict(dict)
    for r in ev:
        d, s = r["user_id"] % 4, 3000 + r["user_id"] % 2
        mx[d][s] = max(mx[d].get(s, 0), r["event_id"])
    for r in rows:
        servers = mx[r["domain"]]
        low_seq, low_srv = min((v, k) for k, v in servers.items())
        assert r["n_servers"] == len(servers)
        assert r["domain_max_seq"] == max(servers.values())
        assert r["low_watermark_seq"] == low_seq
        assert r["resume_gtid"] == f"{r['domain']}-{low_srv}-{low_seq}"


def test_inference_batches_sorted_and_full(spark, sf_dir):
    """Every batch except the last holds exactly 32 docs; batch max
    tokens are non-decreasing across batch ids (the length sort)."""
    rows = sorted(
        _q("llm_inference_batch_plan", spark, sf_dir).collect(),
        key=lambda r: r["batch_id"],
    )
    for r in rows[:-1]:
        assert r["n_docs"] == 32, r
    prev = -1
    for r in rows:
        assert r["batch_max_tok"] >= prev
        prev = r["batch_max_tok"]
        assert r["pad_tokens"] == r["n_docs"] * r["batch_max_tok"] - r["real_tokens"]


def test_embedding_coverage_conservation(spark, sf_dir):
    """Covered + missing == docs per source; orphan count is global
    and consistent across rows."""
    rows = _q("llm_embedding_coverage", spark, sf_dir).collect()
    orphans = {r["n_orphan_vectors"] for r in rows}
    assert len(orphans) == 1
    for r in rows:
        assert r["n_covered"] + r["n_missing"] == r["n_docs"], r
