"""Text-analysis column expressions (shingles, hashes, token stats).

Shared by the LLM-pipeline operators.  Everything is built-in Catalyst
expressions; hex-string MD5 minima serve as order-free "random
permutation" min-hashes (lexicographic min over a cryptographic hash of
the element is a valid MinHash permutation, and both engines order
ASCII hex identically).
"""

from __future__ import annotations

from pyspark.sql import Column
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
