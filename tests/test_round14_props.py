"""Round-14 property tests: cross-operator pins the oracle hash can't
state — IVF forget's projection==rebuild equivalence, the graph-ANN
beam search's plan discipline, the manifest sink's concurrent-writer
tmp scoping, the sink branch API, and the bench instrument's
clobber guard."""

from __future__ import annotations

import __spark_entry__ as entrymod


def _q(name, spark, sf_dir):
    return entrymod.queries()[name](spark, sf_dir)


def test_ivf_forget_projection_equals_rebuild(spark, sf_dir):
    """The certified contract behind deletion-as-projection: the
    projected index (stored assignment minus the forget batch) must be
    ROW-IDENTICAL to assigning the survivors against the stored
    centroids from scratch — per-vector argmax is a pure function of
    the centroid table, so forgetting never needs a Lloyd re-run."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from maxscale_cdc_spark.operators.llm import kmeans_cells_cached
    from maxscale_cdc_spark.operators.retrieval import (
        _FORGET_MOD,
        _FORGET_RES,
    )
    from maxscale_cdc_spark.functions.vectors import cosine

    cents, assigned = kmeans_cells_cached(spark, sf_dir)
    projected = assigned.filter(
        F.col("vec_id") % _FORGET_MOD != _FORGET_RES
    ).select("vec_id", "cid")
    surv_vecs = assigned.filter(
        F.col("vec_id") % _FORGET_MOD != _FORGET_RES
    ).select("vec_id", "v")
    scored = surv_vecs.crossJoin(F.broadcast(cents)).select(
        "vec_id", "cid", cosine(F.col("v"), F.col("cv")).alias("sim")
    )
    w = W.partitionBy("vec_id").orderBy(F.col("sim").desc(), "cid")
    rebuilt = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "cid")
    )
    assert projected.exceptAll(rebuilt).count() == 0
    assert rebuilt.exceptAll(projected).count() == 0


def test_ivf_forget_table_is_consistent(spark, sf_dir):
    """Integer rules of the maintenance table: n_del = n_before −
    n_after; action follows the merge-arm thresholds; merge_target is
    set exactly on the merge rows; displacement is NULL iff the cell
    emptied."""
    rows = _q("llm_ivf_forget", spark, sf_dir).collect()
    assert rows
    n = sum(r["n_after"] for r in rows)
    k = len(rows)
    for r in rows:
        assert r["n_del"] == r["n_before"] - r["n_after"]
        if r["n_after"] == 0:
            assert r["action"] == "drop"
            assert r["disp_l1_num"] is None and r["disp_den"] is None
        elif 4 * r["n_after"] * k < n:
            assert r["action"] == "merge"
            assert r["merge_target"] is not None
            assert r["merge_target"] != r["cid"]
        else:
            assert r["action"] == "keep"
            assert r["merge_target"] is None
        if r["disp_den"] is not None:
            assert r["disp_l1_q30"] == r["disp_l1_num"] / r["disp_den"]


def test_ivf_forget_merge_apply_consistent_with_plan(spark, sf_dir):
    """Cross-pin plan↔apply: the post-merge centroid set is EXACTLY
    the plan's keep cells; absorbed members are EXACTLY the retired
    merge cells' survivors (a kept cell's member can never move —
    its argmax winner survived, so its argmax over the post set is
    unchanged); retired-cell counts match the plan's action column."""
    plan = {r["cid"]: r for r in _q("llm_ivf_forget", spark, sf_dir).collect()}
    rows = _q("llm_ivf_forget_merge_apply", spark, sf_dir).collect()
    keep = {c for c, r in plan.items() if r["action"] == "keep"}
    assert {r["cid"] for r in rows} == keep
    merged_members = sum(
        r["n_after"] for r in plan.values() if r["action"] == "merge"
    )
    assert sum(r["n_absorbed"] for r in rows) == merged_members
    kept_members = sum(r["n_after"] for r in plan.values() if r["action"] == "keep")
    assert sum(r["n_members"] for r in rows) == kept_members + merged_members
    r0 = rows[0]
    assert r0["n_dropped_cells"] == sum(
        1 for r in plan.values() if r["action"] == "drop"
    )
    assert r0["n_merged_cells"] == sum(
        1 for r in plan.values() if r["action"] == "merge"
    )
    assert r0["not_worse"] == (r0["recall_post_num"] >= r0["recall_pre_num"])


def test_knn_graph_search_plan_has_no_cartesian(spark, sf_dir):
    """The plan gate VERDICT r13 asked for: every hop is an equi-join
    (frontier⋈edges on src, scoring on node/qid) — no CartesianProduct
    anywhere in the RAW (unstaged) lineage; the only nested-loop joins
    are broadcast-of-scalar/probe tables."""
    from maxscale_cdc_spark.operators.retrieval import llm_knn_graph_search
    from maxscale_cdc_spark.session import unstaged

    with unstaged():
        df = llm_knn_graph_search(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan


def test_knn_graph_search_beam_is_frontier_bounded(spark, sf_dir):
    """Beam discipline: the result is ≤ top-5 per probe query, ranks
    are 1..n with no gaps, and every exact-top-1 hit found by the walk
    is flagged in_exact_topk."""
    rows = _q("llm_knn_graph_search", spark, sf_dir).collect()
    assert rows
    by_q: dict[int, list] = {}
    for r in rows:
        by_q.setdefault(r["qid"], []).append(r)
    for qid, rs in by_q.items():
        rks = sorted(r["rk"] for r in rs)
        assert rks == list(range(1, len(rs) + 1))
        assert len(rs) <= 5
        assert all(r["vec_id"] != qid for r in rs)


def test_change_feed_consistent_with_time_travel(spark, sf_dir):
    """Cross-pin CDF ↔ time travel (same 2m/3 cut): every feed row's
    membership claims must hold against the two snapshots, and every
    pk the snapshots DISAGREE on must appear in the feed (the feed is
    complete, not just sound)."""
    tt = _q("snk_time_travel", spark, sf_dir).collect()
    s1 = {r["pk"]: r["last_seq"] for r in tt if r["as_of"] == 1}
    s2 = {r["pk"]: r["last_seq"] for r in tt if r["as_of"] == 2}
    feed = _q("snk_change_feed", spark, sf_dir).collect()
    seen = set()
    for r in feed:
        seen.add(r["pk"])
        if r["change_type"] == "insert":
            assert r["pk"] not in s1 and r["pk"] in s2
            assert r["before_seq"] is None and r["after_seq"] == s2[r["pk"]]
        elif r["change_type"] == "delete":
            assert r["pk"] in s1 and r["pk"] not in s2
            assert r["after_seq"] is None and r["before_seq"] == s1[r["pk"]]
        else:
            assert r["change_type"] == "update_postimage"
            assert s1[r["pk"]] == r["before_seq"] != r["after_seq"] == s2[r["pk"]]
    differing = {
        pk
        for pk in set(s1) | set(s2)
        if s1.get(pk) != s2.get(pk)
    }
    assert differing == seen


def test_manifest_sink_concurrent_writers_keep_foreign_tmps(tmp_path):
    """ADVICE r13: one writer's commit sweep must not delete ANOTHER
    writer's in-flight tmp files in the same path.  Simulate writer B's
    in-flight tmp on disk, then drive writer A's commit/abort sweeps
    directly — B's tmp must survive both, A's own orphan must not."""
    import os

    from maxscale_cdc_spark.sources.manifest_sink_ds import (
        _build_datasource_class,
    )

    ds_cls = _build_datasource_class()
    sink = ds_cls(options={"path": str(tmp_path)})
    wa = sink.writer(None, False)
    foreign = tmp_path / ".tmp-feedfacefeed-part-00000-x.parquet"
    foreign.write_bytes(b"in-flight")
    own_orphan = tmp_path / f"{wa._tmp_prefix()}00001-y.parquet"
    own_orphan.write_bytes(b"orphan")
    wa.commit([])
    assert foreign.exists(), "commit sweep deleted a foreign writer's tmp"
    assert not own_orphan.exists(), "commit sweep kept the writer's own orphan"
    own_orphan.write_bytes(b"orphan")
    wa.abort([])
    assert foreign.exists(), "abort sweep deleted a foreign writer's tmp"
    assert not own_orphan.exists()
    assert os.path.exists(tmp_path / "_manifest.json")


def test_sink_branch_api_fork_isolation_and_ff_rules(spark, tmp_path):
    """The promoted branch API (ADVICE r13): fork is zero-copy and
    isolated (branch merges never mutate main), ff_merge applies on an
    unchanged main and refuses on a diverged one."""
    from pyspark.sql import functions as F

    from maxscale_cdc_spark.streaming.ops import ManifestedUpsertSink

    def batch(rows):
        return spark.createDataFrame(
            rows, "pk bigint, last_seq bigint, last_dml string, last_value double"
        )

    main = ManifestedUpsertSink(spark, str(tmp_path / "main"), n_buckets=4)
    main.merge(batch([(1, 10, "insert", 1.0), (2, 11, "insert", 2.0)]), 0)
    pre = {r["pk"]: r["last_seq"] for r in main.state().collect()}

    tok = main.fork_point()
    br = main.fork(str(tmp_path / "branch"))
    assert br.gen_of == main.gen_of  # zero-copy: same generation dirs
    br.merge(batch([(2, 12, "update_after", 2.5), (3, 13, "insert", 3.0)]), 1)
    # isolation: main unchanged by the branch's merge
    assert {r["pk"]: r["last_seq"] for r in main.state().collect()} == pre
    # fast-forward applies on the unchanged main
    assert main.ff_merge(br, tok)
    assert {r["pk"]: r["last_seq"] for r in main.state().collect()} == {
        1: 10, 2: 12, 3: 13,
    }
    # conflict arm: a second branch merged after main advanced refuses
    tok2 = main.fork_point()
    br2 = main.fork(str(tmp_path / "branch2"))
    main.merge(batch([(4, 14, "insert", 4.0)]), 2)
    assert not main.ff_merge(br2, tok2)
    # a fresh recovery over main's root sees the ff'd + hotfixed state
    m2 = ManifestedUpsertSink(spark, str(tmp_path / "main"), n_buckets=4)
    got = {r["pk"] for r in m2.state().filter(F.col("last_dml") != "x").collect()}
    assert got == {1, 2, 3, 4}


def test_minhash_bbit_estimator_rules(spark, sf_dir):
    """b-bit invariants: match counts are monotone non-increasing in b
    (fewer bits = more chunk collisions = more matches), every b-bit
    match count dominates the full-width agreement, and each estimate
    is exactly the documented inversion (match·2^b − K)/(K·(2^b−1)).
    Cross-pin: est_full equals llm_minhash_accuracy's est_jaccard on
    the identical candidate pair set."""
    rows = _q("llm_minhash_bbit", spark, sf_dir).collect()
    assert rows
    base = {
        (r["doc_a"], r["doc_b"]): r["est_jaccard"]
        for r in _q("llm_minhash_accuracy", spark, sf_dir).collect()
    }
    K = 8
    seen = set()
    for r in rows:
        seen.add((r["doc_a"], r["doc_b"]))
        n_full = round(r["est_full"] * K)
        assert r["n_match_b1"] >= r["n_match_b2"] >= r["n_match_b4"] >= n_full
        for b in (1, 2, 4):
            n = r[f"n_match_b{b}"]
            assert r[f"est_b{b}"] == (n * 2**b - K) / (K * (2**b - 1))
        assert base[(r["doc_a"], r["doc_b"])] == r["est_full"]
    assert seen == set(base)


def test_bench_detail_path_modes():
    """Subset/isolated bench runs must never clobber the full-suite
    BENCH_DETAIL.json (VERDICT r13 #1)."""
    import os

    import bench

    assert os.path.basename(bench._detail_path(None)) == "BENCH_DETAIL.json"
    assert (
        os.path.basename(bench._detail_path("subset"))
        == "BENCH_DETAIL-subset.json"
    )
    assert (
        os.path.basename(bench._detail_path("isolated"))
        == "BENCH_DETAIL-isolated.json"
    )


def test_quiet_expected_failure_restores_caller_level(spark):
    """ADVICE r13: the context manager must restore the CALLER's log
    level (verify/bench sessions run at ERROR), not a hardcoded WARN."""
    from maxscale_cdc_spark.session import quiet_expected_failure

    sc = spark.sparkContext
    lvl = (
        lambda: str(
            sc._jvm.org.apache.logging.log4j.LogManager.getRootLogger().getLevel()
        )
    )
    sc.setLogLevel("ERROR")
    with quiet_expected_failure(spark):
        assert lvl() == "OFF"
    assert lvl() == "ERROR"
