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



def _q30_flat(df: DataFrame, key: Column | str, v: Column | str) -> DataFrame:
    """`(key, dim, q)`: one row per element of the double array `v`,
    1-based `dim`, `q` = floor(x·2³⁰) as a long (the Q1.30 quantum)."""
    pos = df.select(key, F.posexplode(v).alias("dim0", "val"))
    return pos.select(
        pos.columns[0],
        (F.col("dim0") + 1).alias("dim"),
        F.floor(F.col("val") * 1073741824.0).cast("long").alias("q"),
    )


def q30_cell_displacement(seed: DataFrame, new: DataFrame) -> DataFrame:
    """Per-cell centroid displacement when the `(cid, v)` rows of `new`
    join the cells of `seed`, in pure integer Q1.30 space: per `cid`,
    `disp_l1_num` = Σ_dim |S_seed·n_all − S_all·n_seed| and `disp_den`
    = n_seed·n_all, so `disp_l1_num / disp_den` is the L1 distance
    between the seed and the grown Q1.30 centroids (in units of 2⁻³⁰).
    Cells `new` does not touch read 0; cells only `new` fills are
    absent (no seed centroid to move)."""
    seed_flat = _q30_flat(seed, "cid", "v")
    seed_dim = seed_flat.groupBy("cid", "dim").agg(
        F.sum("q").cast("long").alias("snum"),
        F.count("*").cast("long").alias("n_old"),
    )
    all_dim = (
        seed_flat.unionByName(_q30_flat(new, "cid", "v"))
        .groupBy("cid", "dim")
        .agg(
            F.sum("q").cast("long").alias("cnum"),
            F.count("*").cast("long").alias("n_all"),
        )
    )
    return (
        seed_dim.join(all_dim, ["cid", "dim"])
        .groupBy("cid")
        .agg(
            F.sum(
                F.abs(F.col("snum") * F.col("n_all") - F.col("cnum") * F.col("n_old"))
            )
            .cast("long")
            .alias("disp_l1_num"),
            F.max(F.col("n_old") * F.col("n_all")).cast("long").alias("disp_den"),
        )
    )


def q30_dim_drift(
    df: DataFrame, is_old: Column, v: Column
) -> tuple[DataFrame, Column, Column]:
    """Per-dimension drift of the mean of the double arrays `v` between
    the rows where `is_old` holds and the rest, in integer Q1.30 space:
    the aggregate `(dim, sold, n_old, snew, n_new)` (one scan, one
    aggregation over the dims) and, over its rows, the columns `num` =
    |snew·n_old − sold·n_new| and `den` = n_old·n_new, so `num / den`
    is |mean_new − mean_old| in units of 2⁻³⁰.  The two columns are
    returned, not projected: a projection under a caller's aggregate
    or ratio stays in the plan as its own Project."""
    agg = (
        _q30_flat(df, is_old.alias("is_old"), v)
        .groupBy("dim")
        .agg(
            F.coalesce(F.sum(F.when(F.col("is_old"), F.col("q"))), F.lit(0))
            .cast("long")
            .alias("sold"),
            F.sum(F.when(F.col("is_old"), 1).otherwise(0)).cast("long").alias("n_old"),
            F.coalesce(F.sum(F.when(~F.col("is_old"), F.col("q"))), F.lit(0))
            .cast("long")
            .alias("snew"),
            F.sum(F.when(~F.col("is_old"), 1).otherwise(0)).cast("long").alias("n_new"),
        )
    )
    num = F.abs(F.col("snew") * F.col("n_old") - F.col("sold") * F.col("n_new"))
    return agg, num, F.col("n_old") * F.col("n_new")
