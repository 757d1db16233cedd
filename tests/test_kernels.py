"""The shared operator kernels in `maxscale_cdc_spark/functions/`
(`minhash_sig`, `band_keys`, `band_pairs`, `set_overlap`,
`nearest_centroid`, `first_per`, `q30_mean_arrays`,
`q30_cell_displacement`, `q30_dim_drift`) on ≤10-row frames, and a
source scan that pins one definition of each (and of the CDC served-row
projection) so hand-written copies cannot grow back."""

from __future__ import annotations

import ast
import os
import re

import duckdb
from pyspark.sql import functions as F

from maxscale_cdc_spark.functions.text import (
    band_keys,
    band_pairs,
    minhash_sig,
    set_overlap,
)
from maxscale_cdc_spark.functions.vectors import (
    nearest_centroid,
    q30_cell_displacement,
    q30_dim_drift,
    q30_mean_arrays,
)
from maxscale_cdc_spark.functions.window import first_per
from maxscale_cdc_spark.operators.banding import bands_sql, cand_sql

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "maxscale_cdc_spark"
)


def test_minhash_sig_matches_duckdb_oracle_spelling(spark):
    sets = [
        (1, ["a b", "b c", "c d"]),
        (2, ["b c"]),
        (3, ["x y", "a b", "q r", "m n"]),
        (4, ["only"]),
    ]
    k = 12  # j >= 10: an index-bound lambda would salt with 0..n-1
    df = spark.createDataFrame(sets, "doc_id long, shs array<string>")
    got = {
        r["doc_id"]: [r[f"m{j}"] for j in range(k)]
        for r in df.select("doc_id", *minhash_sig("shs", k)).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE t (doc_id BIGINT, shs VARCHAR[])")
    con.executemany("INSERT INTO t VALUES (?, ?)", sets)
    cols = ", ".join(
        f"list_aggregate(list_transform(shs, x -> md5('{j}:' || x)), 'min')"
        for j in range(k)
    )
    want = {
        row[0]: list(row[1:])
        for row in con.execute(f"SELECT doc_id, {cols} FROM t").fetchall()
    }
    assert got == want
    assert df.select(*minhash_sig(F.col("shs"), 3)).columns == ["m0", "m1", "m2"]


def test_nearest_centroid_exact_tie_takes_smaller_cid(spark):
    vecs = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [1.0, 1.0])],
        "vec_id long, v array<double>",
    )
    # cid 7 and cid 4 are the same direction: every vector ties on them
    cents = spark.createDataFrame(
        [(7, [2.0, 2.0]), (4, [1.0, 1.0]), (9, [1.0, 0.0])],
        "cid long, cv array<double>",
    )
    out = nearest_centroid(vecs, cents)
    assert out.columns == ["vec_id", "v", "cid"]
    got = {r["vec_id"]: r["cid"] for r in out.collect()}
    assert got == {1: 9, 2: 4, 3: 4}


def test_first_per_one_row_per_key_second_order_breaks_ties(spark):
    df = spark.createDataFrame(
        [
            ("a", 3, 10),
            ("a", 3, 5),
            ("a", 1, 1),
            ("b", 2, 7),
            ("b", 2, 8),
            ("c", 0, 0),
        ],
        "k string, s int, t int",
    )
    out = first_per(df, "k", F.col("s").desc(), "t")
    assert out.columns == ["k", "s", "t"]
    assert sorted(tuple(r) for r in out.collect()) == [
        ("a", 3, 5),
        ("b", 2, 7),
        ("c", 0, 0),
    ]
    two = first_per(df, ["k", "s"], F.col("t").desc())
    assert "rn" not in two.columns
    assert sorted(tuple(r) for r in two.collect()) == [
        ("a", 1, 1),
        ("a", 3, 10),
        ("b", 2, 8),
        ("c", 0, 0),
    ]


def test_q30_mean_arrays_composite_keys_equal_packed_key(spark):
    rows = [
        (1, 0, [0.5, -0.25]),
        (1, 0, [0.1, 0.3]),
        (1, 1, [1.0, 2.0]),
        (2, 0, [-0.7, 0.7]),
        (2, 0, [0.3333333, 0.6666667]),
        (2, 0, [0.125, 0.0]),
        (2, 1, [3.0, -1.5]),
    ]
    df = spark.createDataFrame(rows, "a long, b long, v array<double>")
    two = {
        (r["a"], r["b"]): r["cv"] for r in q30_mean_arrays(df, "a", "b").collect()
    }
    packed = df.select((F.col("a") * 10 + F.col("b")).alias("ab"), "v")
    one = {
        divmod(r["ab"], 10): r["cv"] for r in q30_mean_arrays(packed, "ab").collect()
    }
    assert two == one
    assert two[(1, 1)] == [1.0, 2.0]


_Q = 1 << 30  # one Q1.30 unit


def _duck(ddl: str, rows: list) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute(f"CREATE TABLE src ({ddl})")
    marks = ", ".join("?" * len(rows[0]))
    con.executemany(f"INSERT INTO src VALUES ({marks})", rows)
    return con


def test_band_keys_match_bands_sql(spark):
    rows = [
        (d, *[f"{chr(97 + (d * 7 + j) % 5)}{j}" for j in range(8)]) for d in range(1, 7)
    ]
    ms = [f"m{j}" for j in range(8)]
    df = spark.createDataFrame(
        rows, ", ".join(["doc_id long"] + [f"{m} string" for m in ms])
    )
    con = _duck(", ".join(["doc_id BIGINT"] + [f"{m} VARCHAR" for m in ms]), rows)
    for nb, rpb in ((2, 4), (4, 2)):
        out = band_keys(df, nb, rpb, "doc_id")
        assert out.columns == ["doc_id", "band", "key"]
        want = con.execute(
            bands_sql("src", "doc_id", nb, rpb, ord_col="doc_id")
        ).fetchall()
        assert sorted(tuple(r) for r in out.collect()) == sorted(want)


def test_band_pairs_match_cand_sql_with_order_tie(spark):
    # ckey 1 and 2 share every band key AND their order value (rep 10):
    # the strict a.rep < b.rep rule pairs neither way; 3 collides with
    # both in band 0 only; 4 and 5 in both bands (one distinct pair)
    rows = [
        ("c1", 10, "x", "y", "p", "q"),
        ("c2", 10, "x", "y", "p", "q"),
        ("c3", 11, "x", "y", "r", "s"),
        ("c4", 12, "u", "v", "u", "v"),
        ("c5", 13, "u", "v", "u", "v"),
        ("c6", 14, "w", "w", "w", "w"),
    ]
    df = spark.createDataFrame(
        rows, "ckey string, rep long, m0 string, m1 string, m2 string, m3 string"
    )
    bands = band_keys(df, 2, 2, "ckey", "rep")
    out = band_pairs(bands, bands, "rep", ckey_a="a.ckey", ckey_b="b.ckey")
    assert out.columns == ["ckey_a", "ckey_b"]
    got = sorted(tuple(r) for r in out.collect())
    con = _duck(
        "ckey VARCHAR, rep BIGINT, m0 VARCHAR, m1 VARCHAR, m2 VARCHAR, m3 VARCHAR", rows
    )
    want = con.execute(
        f"WITH {cand_sql('src', 'ckey', 'ckey_a', 'ckey_b', 2, 2)} "
        "SELECT ckey_a, ckey_b FROM cand_src_2x2"
    ).fetchall()
    assert got == sorted(want) == [("c1", "c3"), ("c2", "c3"), ("c4", "c5")]


def test_set_overlap_matches_duckdb_list_intersect(spark):
    sets = [
        (1, ["a", "b", "c"]),
        (2, ["b", "c", "d", "e"]),
        (3, ["z"]),
        (4, ["a", "b", "c"]),
    ]
    pairs = [(1, 2), (1, 3), (1, 4), (2, 4)]
    sdf = spark.createDataFrame(sets, "doc_id long, shs array<string>")
    pdf = spark.createDataFrame(pairs, "doc_a long, doc_b long")
    con = duckdb.connect()
    con.execute("CREATE TABLE s (doc_id BIGINT, shs VARCHAR[])")
    con.executemany("INSERT INTO s VALUES (?, ?)", sets)
    con.execute("CREATE TABLE p (doc_a BIGINT, doc_b BIGINT)")
    con.executemany("INSERT INTO p VALUES (?, ?)", pairs)
    want = sorted(
        con.execute(
            "SELECT p.doc_a, p.doc_b, len(list_intersect(a.shs, b.shs)),"
            " len(a.shs) + len(b.shs) FROM p"
            " JOIN s a ON a.doc_id = p.doc_a JOIN s b ON b.doc_id = p.doc_b"
        ).fetchall()
    )
    out = set_overlap(pdf, sdf, "doc_id", "doc_a", "doc_b")
    assert out.columns == ["doc_a", "doc_b", "n_common", "sz_sum"]
    assert sorted(tuple(r) for r in out.collect()) == want
    # a precomputed `sz` gives the same sums
    sized = sdf.withColumn("sz", F.size("shs").cast("long"))
    out2 = set_overlap(pdf, sized, "doc_id", "doc_a", "doc_b")
    assert sorted(tuple(r) for r in out2.collect()) == want
    assert [f.dataType.simpleString() for f in out.schema.fields[2:]] == ["bigint"] * 2


def test_q30_cell_displacement_hand_computed(spark):
    seed = spark.createDataFrame(
        [(1, [0.5, 0.25]), (1, [0.25, 0.0]), (3, [0.125, 0.125])],
        "cid long, v array<double>",
    )
    new = spark.createDataFrame(
        [(1, [1.0, -0.5]), (2, [0.5, 0.5])], "cid long, v array<double>"
    )
    got = {
        r["cid"]: (r["disp_l1_num"], r["disp_den"])
        for r in q30_cell_displacement(seed, new).collect()
    }
    # cell 1, n_seed 2, n_all 3:
    #   dim 1: S_seed = .75Q, S_all = 1.75Q -> |.75Q·3 - 1.75Q·2| = 1.25Q
    #   dim 2: S_seed = .25Q, S_all = -.25Q -> |.25Q·3 + .25Q·2|  = 1.25Q
    # cell 3 is untouched (0 over 1·1); cell 2 has no seed centroid
    assert got == {1: (5 * _Q // 2, 6), 3: (0, 1)}


def test_q30_dim_drift_hand_computed(spark):
    df = spark.createDataFrame(
        [(1, [0.5, 0.0]), (2, [0.25, 1.0]), (3, [1.0, 0.5])],
        "vec_id long, v array<double>",
    )
    agg, num, den = q30_dim_drift(df, F.col("vec_id") <= 2, F.col("v"))
    got = sorted(
        tuple(r)
        for r in agg.select(
            "dim", "sold", "n_old", "snew", "n_new", num.alias("n"), den.alias("d")
        ).collect()
    )
    # dim 1: |Q·2 - .75Q·1| = 1.25Q over 2;  dim 2: |.5Q·2 - Q·1| = 0
    assert got == [
        (1, 3 * _Q // 4, 2, _Q, 1, 5 * _Q // 4, 2),
        (2, _Q, 2, _Q // 2, 1, 0, 2),
    ]


# -- one definition per kernel ----------------------------------------------

# Sites that keep a hand-written form, with the reason.  A new entry needs
# the same justification: its plan or its shape differs from the kernel's.
_INLINE_FIRST_ROW = {
    ("operators/pipeline.py", "llm_url_dedup"): (
        "its n_dups count window is added after the rn window; computing it "
        "before first_per swaps the two Window operators in the plan"
    ),
}
_INLINE_SERVED_ROWS = {
    ("operators/cdc.py", "cdc_snapshot_tail"): (
        "serves no ts column: its export is pk, last_seq, last_value"
    ),
    ("operators/cdc.py", "cdc_replay_idempotence"): (
        "exports the ts column as last_ts and joins on that name"
    ),
}
_INLINE_BAND_KEYS = {
    ("operators/llm.py", "llm_lsh_recall_audit"): (
        "one select per band unioned: the explode of band_keys changes its plan"
    ),
    ("operators/quality.py", "llm_minhash_accuracy"): (
        "one select per band unioned: the explode of band_keys changes its plan"
    ),
}
_INLINE_BAND_PAIRS = {
    ("operators/llm.py", "llm_dedup_simhash_pairs"): (
        "band-first equi-join on (band, bv), not (key, band)"
    ),
    ("operators/llm.py", "llm_dedup_embed"): (
        "band-first equi-join on (band, sig) of sign-bit signatures"
    ),
    ("operators/llm.py", "llm_knn_graph"): (
        "band-first equi-join on (band, sig) of sign-bit signatures"
    ),
    ("operators/multimodal.py", "mm_dedup_phash"): (
        "band-first equi-join on (band, bv) of perceptual-hash chunks"
    ),
    ("streaming/ops.py", "_nearwin_result"): (
        "event-time n/o stream-stream join: the order is in ts, within a horizon"
    ),
    ("streaming/ops.py", "_nearwin_prefiltered_result"): (
        "event-time n/o stream-stream join: the order is in ts, within a horizon"
    ),
    ("streaming/ops.py", "str_banding_swap_splice"): (
        "event-time n/o stream-stream join, keyed by generation too"
    ),
}
_INLINE_SET_OVERLAP = {
    ("operators/quality.py", "llm_minhash_accuracy"): (
        "joins the signature columns back beside the sets and exports "
        "exact_jaccard over int sizes: set_overlap's BIGINT columns change the plan"
    ),
    ("operators/quality.py", "llm_minhash_bbit"): (
        "joins the signature columns back beside the sets (the b-bit match "
        "counts need them), which set_overlap's sides do not carry"
    ),
    ("operators/autotune.py", "llm_dedup_containment_sampled"): (
        "small/big roles whose sides carry rep and n_docs beside the set"
    ),
    ("operators/autotune.py", "llm_dedup_containment_pairwise"): (
        "small/big roles whose sides carry rep and n_docs beside the set"
    ),
}
_INLINE_DIM_DRIFT = {
    ("streaming/ops.py", "str_embed_drift_stream"): (
        "per event-time window: a stream aggregate of the new side against "
        "a broadcast batch baseline of the old"
    ),
}
_INLINE_CENTROID_SCAN = {
    ("operators/retrieval.py", "_sd_kmeans_cells"): (
        "scores with a rounded dot / sqrt(nsq * cnsq) over precomputed "
        "norms and carries nsq through the assignment"
    ),
    ("operators/retrieval.py", "llm_ann_join_topk"): (
        "top-nprobe query routing: keeps nprobe cells per query, not one"
    ),
    ("operators/retrieval.py", "_ann_mmr_candidates"): (
        "top-nprobe query routing: keeps nprobe cells per query, not one"
    ),
    ("operators/retrieval.py", "llm_ann_join_topk_scaled"): (
        "top-nprobe query routing: keeps nprobe cells per query, not one"
    ),
}


def _sites(pattern: str, root: str = PKG) -> dict[tuple[str, str], int]:
    """{(path under `root`, outermost enclosing def): count} for every
    match of `pattern` in the Python source under `root` (default: the
    package; matches may span lines)."""
    rx = re.compile(pattern)
    found: dict[tuple[str, str], int] = {}
    for base, _, files in os.walk(root):
        for name in files:
            if not name.endswith(".py"):
                continue
            path = os.path.join(base, name)
            src = open(path).read()
            hits = [src.count("\n", 0, m.start()) + 1 for m in rx.finditer(src)]
            if not hits:
                continue
            defs = [
                (n.lineno, n.end_lineno, n.name)
                for n in ast.walk(ast.parse(src))
                if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
            ]
            rel = os.path.relpath(path, root)
            for ln in hits:
                inner = [d for d in defs if d[0] <= ln <= d[1]]
                fn = min(inner)[2] if inner else "<module>"
                found[(rel, fn)] = found.get((rel, fn), 0) + 1
    return found


def test_no_bassign_closures():
    assert _sites(r"def bassign\b") == {}


def test_minhash_closure_written_once():
    assert _sites(r"lambda [sx]: F\.md5\(F\.concat\(F\.lit\(") == {
        ("functions/text.py", "minhash_sig"): 1
    }


def test_first_row_window_written_once():
    sites = _sites(r'F\.col\("rn"\) == 1')
    assert sites.pop(("functions/window.py", "first_per")) == 1
    assert set(sites) == set(_INLINE_FIRST_ROW)


def test_served_row_projection_written_once():
    sites = _sites(r'F\.col\("sequence"\)\.alias\("last_seq"\)')
    assert sites.pop(("operators/cdc.py", "_live_images")) == 1
    assert set(sites) == set(_INLINE_SERVED_ROWS)


def test_centroid_scan_written_once():
    sites = _sites(r"crossJoin\(F\.broadcast\(cents")
    assert sites.pop(("functions/vectors.py", "nearest_centroid")) == 1
    assert set(sites) == set(_INLINE_CENTROID_SCAN)


def test_q30_mean_written_once():
    assert _sites(r'F\.struct\("dim", "m"\)') == {
        ("functions/vectors.py", "q30_mean_arrays"): 1
    }


def test_band_keys_written_once():
    sites = _sites(r'F\.lit\(b\)\.alias\("band"\),\s*F\.concat\(')
    assert sites.pop(("functions/text.py", "band_keys")) == 1
    assert set(sites) == set(_INLINE_BAND_KEYS)


def test_band_pairs_written_once():
    sites = _sites(r'F\.col\("[an]\.band"\) == F\.col\("[bo]\.band"\)')
    assert sites.pop(("functions/text.py", "band_pairs")) == 1
    assert set(sites) == set(_INLINE_BAND_PAIRS)


def test_set_overlap_written_once():
    sites = _sites(r'array_intersect\("shs_[as]", "shs_b"\)')
    assert sites.pop(("functions/text.py", "set_overlap")) == 1
    assert set(sites) == set(_INLINE_SET_OVERLAP)


def test_q30_drift_written_once():
    assert _sites(r'alias\("snum"\)') == {
        ("functions/vectors.py", "q30_cell_displacement"): 1
    }
    sites = _sites(r'alias\("sold"\)')
    assert sites.pop(("functions/vectors.py", "q30_dim_drift")) == 1
    assert set(sites) == set(_INLINE_DIM_DRIFT)
