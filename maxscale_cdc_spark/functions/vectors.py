"""Vector (embedding) column expressions.

All JVM-side Catalyst higher-order functions — no Python in the hot
path.  Dot products and norms fold left-to-right (`F.aggregate`), and
results that cross the oracle boundary are rounded to 6 decimals, which
absorbs any sub-ulp accumulation-order difference between engines.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from maxscale_cdc_spark.functions.window import first_per


def as_double(v: Column | str) -> Column:
    c = F.col(v) if isinstance(v, str) else v
    return c.cast("array<double>")


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def norm_sq(a: Column) -> Column:
    return F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x)


def cosine(a: Column, b: Column, decimals: int = 6) -> Column:
    """Rounded cosine similarity between two double arrays."""
    return F.round(dot(a, b) / F.sqrt(norm_sq(a) * norm_sq(b)), decimals)


def sql_dot(a: str, b: str, dim: int = 64) -> str:
    """DuckDB mirror of `dot` (1-based list indexing)."""
    return f"list_sum(list_transform(generate_series(1, {dim}), i -> {a}[i] * {b}[i]))"


def sql_cosine(a: str, b: str, dim: int = 64, decimals: int = 6) -> str:
    return (
        f"round(CAST({sql_dot(a, b, dim)} / sqrt("
        f"list_sum(list_transform({a}, x -> x * x)) * "
        f"list_sum(list_transform({b}, x -> x * x))) AS DOUBLE), {decimals})"
    )


def nearest_centroid(df: DataFrame, cents: DataFrame) -> DataFrame:
    """Assign each `(vec_id, v)` row to its most cosine-similar centroid
    of `cents` `(cid, cv)`: one broadcast crossJoin (centroid tables are
    KB-sized) and a first-per-`vec_id` window.  Returns `(vec_id, v,
    cid)`; an exact cosine tie goes to the smallest `cid`, the total
    order the oracles' `ORDER BY sim DESC, cid` mirrors."""
    scored = df.crossJoin(F.broadcast(cents)).select(
        "vec_id", "v", "cid", cosine(F.col("v"), F.col("cv")).alias("sim")
    )
    return first_per(scored, "vec_id", F.col("sim").desc(), "cid").select(
        "vec_id", "v", "cid"
    )


def q30_mean_arrays(df: DataFrame, *keys: str) -> DataFrame:
    """Elementwise mean of the double arrays `v` per `keys`, as `cv`,
    Q1.30 fixed-point exact: quantize each element with floor(x·2³⁰)
    BEFORE summation (power-of-two multiply never rounds; floor has no
    ties), sum as longs (order-invariant), divide once.  This is the
    repo's core cross-engine-exact prototype/centroid primitive — the
    DuckDB mirror is the flat/m/cent CTE triple in
    llm._sql_kmeans_ctes and llm_embed_outliers' oracle."""
    flat = df.select(*keys, F.posexplode(F.col("v")).alias("dim0", "val")).select(
        *keys,
        (F.col("dim0") + 1).alias("dim"),
        F.floor(F.col("val") * 1073741824.0).cast("long").alias("q30"),
    )
    m = flat.groupBy(*keys, "dim").agg(
        (F.sum("q30").cast("double") / (F.count("*") * F.lit(1073741824.0))).alias("m")
    )
    return m.groupBy(*keys).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "m"))), lambda s: s["m"]
        ).alias("cv")
    )
