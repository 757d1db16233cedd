"""Loaders for the driver-generated synthetic tables (TESTDATA.md).

`spark.read.parquet` gives Catalyst full pushdown/pruning; loaders are
thin on purpose — every operator expresses its needs declaratively and
lets the optimizer prune columns and push filters into the scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from maxscale_cdc_spark.session import memo

TABLE_NAMES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


# Scan-construction memo, per (applicationId, sf_dir, name): building
# a parquet scan costs 66-87 ms of driver-side py4j/footer work per
# call (measured r14), and the suite makes ~2-3 calls per query — pure
# plan-construction overhead, ~30% of a warm tail query.  DataFrames
# are immutable plan handles, so handing every caller the same object
# is byte-identical plan-wise; NO results or lineage are cached (every
# action still computes from the parquet inputs).  Keyed by
# applicationId (session.memo) so a new session never sees a dead
# context's handle; kept across BENCH_COLD resets (cold=False).
#
# Two caveats for operator authors (ADVICE r14):
# * SHARED INSTANCE: two table() calls for the same table return the
#   SAME DataFrame object, so a self-join built from two calls with
#   Column-object conditions hits Spark's ambiguous-self-join path
#   where distinct instances would resolve.  Use df.alias("l") /
#   df.alias("r") (every current self-join does) or string join keys.
# * PINNED FILE LISTING: the cached plan pins the InMemoryFileIndex at
#   first construction — the fixture dirs under sf_dir are IMMUTABLE
#   for a session's lifetime (they are; the generators never rewrite
#   in place), and any future in-session fixture mutation would be
#   silently invisible through this cache.
def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    def build() -> DataFrame:
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        # events.ts is parquet TIMESTAMP(NANOS); with nanosAsLong it
        # arrives as long nanoseconds — convert to a microsecond
        # timestamp (floor), matching DuckDB's read of the same column.
        if name == "events" and isinstance(df.schema["ts"].dataType, T.LongType):
            # integral `div`, not `/`: ns values exceed double's 2^53 exactness
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        return df

    return memo(spark, ("table", sf_dir, name), build, cold=False)


def wide_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """`table()` with an adaptive parallelism floor for compute-heavy
    per-row work (shingling, hashing, vector projections).

    A small corpus arrives as one unsplittable parquet row group, so
    the scan yields ONE partition and per-row compute serializes on a
    single core — measured 10× slower than the same work spread over
    the machine (3.1 s vs 0.3 s for trigram shingling at sf0.1).  When
    the scan has fewer partitions than the session's cores, round-robin
    repartition up to core count; the shuffled bytes are exactly the
    small table, so the exchange costs ~ms and unlocks full
    parallelism.  At production scale (100 TB = thousands of row
    groups) the scan already carries >= cores splits and this returns
    the plain scan — NO added exchange; the check is plan-side only
    (no job is triggered)."""

    def build() -> DataFrame:
        df = table(spark, sf_dir, name)
        target = spark.sparkContext.defaultParallelism
        # the partition probe converts the plan to an RDD (full analysis,
        # ~30-50 ms) — memoized with the result; the decision is fixed
        # per (session, file set) anyway
        if df.rdd.getNumPartitions() < target:
            df = df.repartition(target)
        return df

    return memo(spark, ("wide_table", sf_dir, name), build, cold=False)


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {n: table(spark, sf_dir, n) for n in TABLE_NAMES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view (for the SQL surface)."""
    for n in TABLE_NAMES:
        table(spark, sf_dir, n).createOrReplaceTempView(n)
