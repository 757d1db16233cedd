"""The shared operator kernels in `maxscale_cdc_spark/functions/`
(`minhash_sig`, `nearest_centroid`, `first_per`, `q30_mean_arrays`) on
≤10-row frames, and a source scan that pins one definition of each (and
of the CDC served-row projection) so hand-written copies cannot grow
back."""

from __future__ import annotations

import ast
import os
import re

import duckdb
from pyspark.sql import functions as F

from maxscale_cdc_spark.functions.text import minhash_sig
from maxscale_cdc_spark.functions.vectors import nearest_centroid, q30_mean_arrays
from maxscale_cdc_spark.functions.window import first_per

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
