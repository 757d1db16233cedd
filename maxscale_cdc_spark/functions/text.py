"""Text-analysis column expressions (shingles, hashes, token stats).

Shared by the LLM-pipeline operators.  Everything is built-in Catalyst
expressions; hex-string MD5 minima serve as order-free "random
permutation" min-hashes (lexicographic min over a cryptographic hash of
the element is a valid MinHash permutation, and both engines order
ASCII hex identically).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def words(text: Column | str) -> Column:
    c = F.col(text) if isinstance(text, str) else text
    return F.split(c, " ")


def word_bigrams(w: Column) -> Column:
    """2-gram word shingles, 1-based element_at (mirrors DuckDB w[i])."""
    return F.transform(
        F.sequence(F.lit(1), F.size(w) - 1),
        lambda i: F.concat_ws(" ", F.element_at(w, i), F.element_at(w, i + 1)),
    )


def char_ngrams_md5_min(text: Column, n: int = 4) -> Column:
    """Winnowing-style document fingerprint: the minimum MD5 over all
    character n-grams.  array_min over a transform — no explode, no
    shuffle; one pass per row."""
    return F.array_min(
        F.transform(
            F.sequence(F.lit(1), F.length(text) - (n - 1)),
            lambda i: F.md5(text.substr(i, F.lit(n))),
        )
    )


def minhash_sig(shs: Column | str, k: int) -> list[Column]:
    """The k-permutation MinHash signature of a shingle-set ARRAY
    column, as columns `m0..m{k-1}`: `m{j}` = min(md5('j:'||sh)) over
    the set, per row (no explode, no shuffle).  The DuckDB mirror is
    `list_aggregate(list_transform(shs, x -> md5('j:' || x)), 'min')`.

    The permutation index j is bound through this closure, never as a
    lambda parameter: a two-parameter `transform` lambda (`lambda s,
    j=j: ...`) binds (element, array-index), so j would silently become
    the index Column (the two-parameter-lambda gotcha)."""

    def perm(j: int) -> Column:
        pref = f"{j}:"
        return F.array_min(
            F.transform(shs, lambda s: F.md5(F.concat(F.lit(pref), s)))
        ).alias(f"m{j}")

    return [perm(j) for j in range(k)]


def band_keys(df: DataFrame, nb: int, rpb: int, *keep: Column | str) -> DataFrame:
    """The LSH band keys of the signature columns `m0..m{nb*rpb-1}`:
    rows `(*keep, band, key)`, one per band `b < nb`, `key` the concat
    of `m{b*rpb}..m{(b+1)*rpb-1}`.  One explode of a struct array (one
    pass over `df`, not one scan per band); the DuckDB mirror is the
    per-band UNION ALL of `banding.bands_sql`."""
    banded = df.select(
        *keep,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.concat(
                            *[f"m{j}" for j in range(b * rpb, (b + 1) * rpb)]
                        ).alias("key"),
                    )
                    for b in range(nb)
                ]
            )
        ).alias("bk"),
    )
    return banded.select(
        *banded.columns[:-1],
        F.col("bk.band").alias("band"),
        F.col("bk.key").alias("key"),
    )


def band_pairs(a: DataFrame, b: DataFrame, order: str, **out: str) -> DataFrame:
    """Distinct candidate pairs of band-key rows: a row of `a` and a row
    of `b` that share a `(band, key)` bucket, with the strict tie rule
    `a.<order> < b.<order>` (no self pairs, one orientation).  Each
    output column `name=src` selects the qualified `a.<col>` / `b.<col>`
    named by `src`.  The DuckDB mirror is `banding.cand_sql`."""
    return (
        a.alias("a")
        .join(
            b.alias("b"),
            (F.col("a.key") == F.col("b.key"))
            & (F.col("a.band") == F.col("b.band"))
            & (F.col(f"a.{order}") < F.col(f"b.{order}")),
        )
        .select(*[F.col(src).alias(name) for name, src in out.items()])
        .distinct()
    )


def set_overlap(
    pairs: DataFrame, sets: DataFrame, key: str, a: str, b: str, *keep: Column | str
) -> DataFrame:
    """The exact set-overlap verify of candidate pairs: `pairs` names
    its members in columns `a` and `b`, `sets` holds each member's
    shingle set `shs` under `key` (and its size `sz`, when precomputed).
    Returns `(a, b, *keep, n_common, sz_sum)` per pair, the last two
    BIGINT `|A ∩ B|` and `|A| + |B|` — Jaccard is `n_common / (sz_sum -
    n_common)`.  The DuckDB mirror is `len(list_intersect(a, b))` and
    `len(a) + len(b)`."""
    has_sz = "sz" in sets.columns

    def side(member: str, s: str) -> DataFrame:
        return sets.select(
            F.col(key).alias(member),
            F.col("shs").alias(f"shs_{s}"),
            *([F.col("sz").alias(f"sz_{s}")] if has_sz else []),
        )

    sz = (
        F.col("sz_a") + F.col("sz_b")
        if has_sz
        else F.size("shs_a") + F.size("shs_b")
    )
    return (
        pairs.join(side(a, "a"), a)
        .join(side(b, "b"), b)
        .select(
            a,
            b,
            *keep,
            F.size(F.array_intersect("shs_a", "shs_b")).cast("long").alias("n_common"),
            sz.cast("long").alias("sz_sum"),
        )
    )


SQL_WORDS = "string_split({col}, ' ')"


def word_ngrams(w: Column, n: int) -> Column:
    """n-gram word shingles for arbitrary n, 1-based element_at
    (mirrors DuckDB w[i]).  Empty array when the document is shorter
    than n words."""
    return F.transform(
        F.sequence(F.lit(1), F.size(w) - (n - 1)),
        lambda i: F.concat_ws(" ", *[F.element_at(w, i + j) for j in range(n)]),
    )


def word_trigrams(w: Column) -> Column:
    """3-gram word shingles, 1-based element_at (mirrors DuckDB w[i]).
    Wider shingles than word_bigrams: the vocabulary grows ~|V|^(3/2),
    giving the long-tail document-frequency distribution that prefix
    filtering needs (measured on the sf0.1 corpus: 27k trigrams at
    median df 9 vs 931 bigrams at median df 285)."""
    return F.transform(
        F.sequence(F.lit(1), F.size(w) - 2),
        lambda i: F.concat_ws(
            " ", F.element_at(w, i), F.element_at(w, i + 1), F.element_at(w, i + 2)
        ),
    )
