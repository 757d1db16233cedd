"""Round-9 property tests: invariants the oracle hash can't state
directly — surgery conservation laws and the streaming banding
propagation's config consistency."""

from __future__ import annotations

import __spark_entry__ as entrymod


def _q(name, spark, sf_dir):
    return entrymod.queries()[name](spark, sf_dir)


def test_ivf_rebalance_apply_conserves_vectors(spark, sf_dir):
    """Post-surgery membership is a partition of the corpus: member
    counts sum to N, every centroid id is unique, split cells emit at
    most two sub-centroids, kept cells keep their (doubled) id."""
    rows = _q("llm_ivf_rebalance_apply", spark, sf_dir).collect()
    import duckdb

    n_vecs = duckdb.sql(
        f"SELECT count(*) FROM read_parquet('{sf_dir}/embeddings.parquet')"
    ).fetchone()[0]
    assert sum(r["n_members"] for r in rows) == n_vecs
    ids = [r["cid_out"] for r in rows]
    assert len(ids) == len(set(ids))
    from collections import Counter

    per_src = Counter((r["src_cid"], r["kind"]) for r in rows)
    for (src, kind), cnt in per_src.items():
        if kind == "kept":
            assert cnt == 1
        else:
            assert kind == "split" and cnt <= 2
    for r in rows:
        if r["kind"] == "kept":
            assert r["cid_out"] == 2 * r["src_cid"]
        else:
            assert r["cid_out"] in (2 * r["src_cid"], 2 * r["src_cid"] + 1)


def test_ivf_rebalance_apply_audit_consistent(spark, sf_dir):
    """The recall audit columns are constant across rows, the flag is
    the ≥ comparison, and the denominator is 5 neighbors per sampled
    query (the sample predicate admits at most 8 queries)."""
    rows = _q("llm_ivf_rebalance_apply", spark, sf_dir).collect()
    audits = {
        (r["recall_pre_num"], r["recall_post_num"], r["recall_den"], r["not_worse"])
        for r in rows
    }
    assert len(audits) == 1
    pre, post, den, flag = audits.pop()
    assert flag == (post >= pre)
    assert 0 <= pre <= den and 0 <= post <= den
    assert den % 5 == 0 and den <= 5 * 8


def test_nearwin_stream_bands_at_chosen_config(spark, sf_dir):
    """The streaming near-dup family must band at the measured config
    (r8 verdict ask #2) — the staged band rows carry exactly
    `chosen_banding` band indexes per document."""
    from maxscale_cdc_spark.operators.autotune import chosen_banding

    nb, _rpb = chosen_banding(spark, sf_dir)
    # one verified near-dup run flows through _nearwin_result; its
    # banding is observable from the staged parquet's band domain
    _q("str_dedup_near_windowed", spark, sf_dir).collect()
    from maxscale_cdc_spark.session import _KEPT

    staged = {
        k[2]: v
        for k, v in _KEPT.items()
        if k[1] == "stage_as_stream" and k[2].startswith("nearwin:")
    }
    key = next(iter(staged), None)
    assert key is not None, "nearwin staging must be cache-keyed"
    assert key == f"nearwin:{nb}x{_rpb}:{sf_dir}"
    staged_dir = staged[key]
    bands = spark.read.parquet(staged_dir).select("band").distinct().collect()
    assert sorted(r["band"] for r in bands) == list(range(nb))


def test_decontam_apply_conserves(spark, sf_dir):
    """after = before − removed for both docs and tokens, per source;
    removed docs equal the contamination verdicts."""
    rows = _q("llm_decontam_apply", spark, sf_dir).collect()
    for r in rows:
        assert r["n_after"] == r["n_docs_before"] - r["n_removed"]
        assert r["tok_after"] == r["tok_before"] - r["tok_removed"]
    n_removed = sum(r["n_removed"] for r in rows)
    flagged = (
        _q("llm_contamination", spark, sf_dir)
        .filter("contaminated")
        .count()
    )
    assert n_removed == flagged


def test_embedding_drift_monitor_shape(spark, sf_dir):
    """Exactly 64 dims; the flag is the documented double compare; the
    integer displacement matches its own numerator/denominator."""
    rows = _q("llm_embedding_drift_monitor", spark, sf_dir).collect()
    assert len(rows) == 64
    assert sorted(r["dim"] for r in rows) == list(range(1, 65))
    for r in rows:
        assert r["drift_den"] == r["n_old"] * r["n_new"]
        assert r["drift_q30"] == r["drift_num"] / r["drift_den"]
        assert r["drifted"] == (r["drift_q30"] > 0.05 * 1073741824.0)


def test_quality_gate_matches_batch_filters(spark, sf_dir):
    """The streaming gate's per-verdict doc totals equal the batch
    heuristic-filter verdict counts (window-summed)."""
    from collections import Counter

    stream_tot = Counter()
    for r in _q("str_quality_gate", spark, sf_dir).collect():
        stream_tot[r["verdict"]] += r["n_docs"]
    batch_tot = Counter(
        r["verdict"] for r in _q("llm_heuristic_filters", spark, sf_dir).collect()
    )
    assert stream_tot == batch_tot


def test_ivf_pq_search_rerank_is_exact_on_candidates(spark, sf_dir):
    """The exported top-5 is ordered by exact cosine (desc, vec_id)
    and rk is dense 1..5."""
    rows = sorted(
        _q("llm_ivf_pq_search", spark, sf_dir).collect(), key=lambda r: r["rk"]
    )
    assert [r["rk"] for r in rows] == list(range(1, len(rows) + 1))
    sims = [(r["cos_sim"], -r["vec_id"]) for r in rows]
    assert sims == sorted(sims, reverse=True)


def test_ann_join_routes_all_sampled_queries(spark, sf_dir):
    """Every sampled query exports a dense 1..k ranked list (k ≤ 3),
    ordered by exact cosine."""
    from collections import defaultdict

    per_q = defaultdict(list)
    for r in _q("llm_ann_join_topk", spark, sf_dir).collect():
        per_q[r["qid"]].append(r)
    import duckdb

    n_q = duckdb.sql(
        f"SELECT count(*) FROM read_parquet('{sf_dir}/embeddings.parquet') "
        "WHERE vec_id % 100 = 0"
    ).fetchone()[0]
    assert len(per_q) == n_q
    for qid, rows in per_q.items():
        rows.sort(key=lambda r: r["rk"])
        assert [r["rk"] for r in rows] == list(range(1, len(rows) + 1))
        sims = [(r["cos_sim"], -r["vec_id"]) for r in rows]
        assert sims == sorted(sims, reverse=True)
        assert all(r["vec_id"] != qid for r in rows)


def test_tuning_sample_pct_capped(spark, sf_dir):
    """The tuning-sample percentage is the corpus-size-capped formula —
    40 at every oracle-checked scale, and the curve exports it."""
    from maxscale_cdc_spark.operators.autotune import tuning_sample_pct
    from maxscale_cdc_spark.operators.banding import CAP_DOCS, SAMPLE_PCT
    import duckdb

    n = duckdb.sql(
        f"SELECT count(*) FROM read_parquet('{sf_dir}/documents.parquet')"
    ).fetchone()[0]
    want = min(SAMPLE_PCT, max(1, (100 * CAP_DOCS + n - 1) // n))
    assert tuning_sample_pct(spark, sf_dir) == want
    pcts = {
        r["sample_pct"]
        for r in _q("llm_banding_recall_curve", spark, sf_dir).collect()
    }
    assert pcts == {want}


# --- round-9 continuation batch (containment / MMR / backfill / ---------
# --- binaryFile / caption-align) ----------------------------------------


def test_containment_threshold_and_roles(spark, sf_dir):
    """Every exported pair respects the role order (small <= big), the
    0.9 integer threshold, and pair uniqueness; every exact-dup pair
    (identical text, >= 3 words) must surface with containment 1.0 —
    a completeness spot-check independent of the all-pairs oracle."""
    rows = _q("llm_dedup_containment", spark, sf_dir).collect()
    seen = set()
    for r in rows:
        assert r["sz_small"] <= r["sz_big"]
        assert 10 * r["n_common"] >= 9 * r["sz_small"]
        key = (r["doc_small"], r["doc_big"])
        assert key not in seen and r["doc_small"] != r["doc_big"]
        seen.add(key)
    import duckdb

    dup_pairs = duckdb.sql(
        f"""
        WITH d AS (SELECT doc_id, text FROM read_parquet('{sf_dir}/documents.parquet')
                   WHERE len(string_split(text, ' ')) >= 3)
        SELECT a.doc_id, b.doc_id FROM d a JOIN d b
          ON a.text = b.text AND a.doc_id < b.doc_id
        """
    ).fetchall()
    for lo, hi in dup_pairs:
        assert (lo, hi) in seen or (hi, lo) in seen
        pair = next(
            r for r in rows if {r["doc_small"], r["doc_big"]} == {lo, hi}
        )
        assert pair["containment"] == 1.0


def test_mmr_selection_shape(spark, sf_dir):
    """Per query: 5 distinct selections ranked 1..5, rank-1 is the
    relevance argmax among the selected, and its score is 7*rel_u."""
    rows = _q("llm_mmr_rerank", spark, sf_dir).collect()
    byq = {}
    for r in rows:
        byq.setdefault(r["qid"], []).append(r)
    assert byq, "no queries selected"
    for qid, sel in byq.items():
        assert sorted(r["rk"] for r in sel) == [1, 2, 3, 4, 5]
        assert len({r["vec_id"] for r in sel}) == 5
        r1 = next(r for r in sel if r["rk"] == 1)
        assert r1["score_u"] == 7 * r1["rel_u"]
        assert r1["rel_u"] == max(r["rel_u"] for r in sel)


def test_backfill_chunks_partition_the_key_domain(spark, sf_dir):
    """Chunks are key-atomic, contiguous, non-overlapping, and conserve
    both the key count and the event count."""
    rows = sorted(
        _q("cdc_backfill_chunk_plan", spark, sf_dir).collect(),
        key=lambda r: r["chunk_id"],
    )
    import duckdb

    n_keys, n_events = duckdb.sql(
        f"SELECT count(DISTINCT user_id), count(*) FROM read_parquet('{sf_dir}/events.parquet')"
    ).fetchone()
    assert sum(r["n_keys"] for r in rows) == n_keys
    assert sum(r["n_events"] for r in rows) == n_events
    for prev, cur in zip(rows, rows[1:]):
        assert prev["hi_pk"] < cur["lo_pk"]
    for r in rows:
        assert r["lo_pk"] <= r["hi_pk"]
        assert r["predicate"] == f"pk >= {r['lo_pk']} AND pk <= {r['hi_pk']}"


def test_binary_files_roundtrip_verifies(spark, sf_dir):
    """Every spooled file's content hash matches the source table
    recomputation, and the file count equals the sampled-doc count."""
    rows = _q("src_binary_files", spark, sf_dir).collect()
    import duckdb

    n_docs = duckdb.sql(
        f"SELECT count(*) FROM read_parquet('{sf_dir}/documents.parquet') WHERE doc_id % 10 = 0"
    ).fetchone()[0]
    assert sum(r["n_files"] for r in rows) == n_docs
    for r in rows:
        assert r["n_verified"] == r["n_files"]


def test_caption_align_asof_bounds(spark, sf_dir):
    """As-of semantics: the aligned frame is at or before the caption
    (lag >= 0), never beyond the caption's own 1000 ms bucket, and
    caption indices are dense from 0 per video."""
    rows = _q("mm_caption_align", spark, sf_dir).collect()
    byd = {}
    for r in rows:
        assert r["lag_ms"] >= 0
        assert r["frame_idx"] <= r["cap_ts_ms"] // 1000
        assert r["cap_ts_ms"] == 700 * r["caption_idx"]
        assert r["lag_ms"] == r["cap_ts_ms"] - 1000 * r["frame_idx"]
        byd.setdefault(r["doc_id"], []).append(r["caption_idx"])
    for doc, idxs in byd.items():
        assert sorted(idxs) == list(range(len(idxs)))


# --- continuation batch 2 (splice / vocab drift / rep policy / -----------
# --- rollup refresh / partition evolution / k-hop) ------------------------


def test_bootstrap_splice_state_shape(spark, sf_dir):
    """The spliced state is non-empty, one row per pk, and never
    carries a sequence beyond the log head."""
    rows = _q("str_cdc_bootstrap_splice", spark, sf_dir).collect()
    assert rows
    pks = [r["pk"] for r in rows]
    assert len(pks) == len(set(pks))
    import duckdb

    head = duckdb.sql(
        f"SELECT max(event_id) FROM read_parquet('{sf_dir}/events.parquet')"
    ).fetchone()[0]
    assert all(r["last_seq"] <= head for r in rows)


def test_vocab_drift_ratios_consistent(spark, sf_dir):
    rows = _q("llm_vocab_drift", spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 <= r["n_oov_tokens"] <= r["n_tokens"]
        assert 0 <= r["n_oov_types"] <= r["n_types"]
        assert r["oov_token_share"] == r["n_oov_tokens"] / r["n_tokens"]


def test_rep_policy_conservation(spark, sf_dir):
    """All policies see the same clusters and the same total token
    mass; 'first' never reports churn; 'longest' keeps at least as
    many tokens as any other policy (it maximizes kept per cluster)."""
    rows = {r["policy"]: r for r in _q("llm_dedup_rep_policy", spark, sf_dir).collect()}
    assert set(rows) == {"first", "longest", "diverse"}
    totals = {p: r["kept_tokens"] + r["removed_tokens"] for p, r in rows.items()}
    assert len(set(totals.values())) == 1
    assert len({r["n_clusters"] for r in rows.values()}) == 1
    assert rows["first"]["reps_changed"] == 0
    assert rows["longest"]["kept_tokens"] >= rows["first"]["kept_tokens"]
    assert rows["longest"]["kept_tokens"] >= rows["diverse"]["kept_tokens"]


def test_rollup_refresh_conserves_events(spark, sf_dir):
    rows = _q("rel_rollup_refresh", spark, sf_dir).collect()
    import duckdb

    n, cents = duckdb.sql(
        f"""SELECT count(*), SUM(CAST(round(value * 100, 0) AS BIGINT))
            FROM read_parquet('{sf_dir}/events.parquet')"""
    ).fetchone()
    assert sum(r["n_events"] for r in rows) == n
    assert sum(r["cents"] for r in rows) == cents
    assert any(r["refreshed"] for r in rows)


def test_partition_evolution_one_hot_day(spark, sf_dir):
    rows = _q("snk_partition_evolution", spark, sf_dir).collect()
    import duckdb

    n = duckdb.sql(
        f"SELECT count(*) FROM read_parquet('{sf_dir}/events.parquet')"
    ).fetchone()[0]
    assert sum(r["n"] for r in rows) == n
    hot_days = {r["day"] for r in rows if r["hourly_layout"]}
    assert len(hot_days) == 1


def test_khop_levels_bounded_and_seeded(spark, sf_dir):
    rows = _q("rel_graph_khop", spark, sf_dir).collect()
    assert rows
    from collections import defaultdict

    per_seed = defaultdict(int)
    for r in rows:
        assert r["seed"] % 10 == 0
        assert r["hops"] in (1, 2, 3)
        assert 1 <= r["n_nodes"] <= 96
        per_seed[r["seed"]] += r["n_nodes"]
    # first-reach levels are disjoint and exclude the seed itself
    assert all(tot <= 96 for tot in per_seed.values())
