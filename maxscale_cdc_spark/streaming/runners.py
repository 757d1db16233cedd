"""Streaming execution helpers for the operator surface.

The reference's stream lifecycle — RequestData starts a pump goroutine,
Stop() drains and closes (client.go:144-181) — maps to Structured
Streaming queries: `trigger(availableNow=True)` processes everything
currently available then stops (a bounded replay of the stream), memory
sinks collect results, and `foreachBatch` upsert gives the
exactly-once materialization sink.

The `queries()` wrappers here run a REAL streaming query to completion
inside the callable, so the driver's batch-style check still applies.
Each run uses a unique temp checkpoint/source dir.
"""

from __future__ import annotations

import os
import shutil
from maxscale_cdc_spark.tmputil import mkdtemp as _mkdtemp
import uuid

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

from maxscale_cdc_spark.session import memo

EVENTS_DDL = (
    "event_id bigint, ts timestamp, user_id bigint, event_type string, "
    "value double, props string"
)


def stage_as_stream(df: DataFrame, n_files: int = 4, cache_key: str | None = None) -> str:
    """Write a batch DataFrame into a temp dir of parquet files so a file
    source can replay it as a stream (stand-in for the CDC socket).

    With `cache_key`, the staged dir is memoized for the session
    (`session.memo`, kept across BENCH_COLD resets) — the replay input
    is immutable, so every streaming operator over the same table
    reuses one staging write instead of re-materializing it."""

    def build() -> str:
        out = _mkdtemp(prefix="cdc_stream_")
        df.repartition(n_files).write.mode("overwrite").parquet(out)
        return out

    if cache_key is None:
        return build()
    return memo(df.sparkSession, ("stage_as_stream", cache_key), build, cold=False)


def land_ordered(df: DataFrame, flat: str, idx: int) -> None:
    """Land `df` as ONE parquet file `part-<idx>-00000.parquet` in the
    flat source dir `flat`, stamped with mtime 1_000_000_000 + idx.
    The file source processes files oldest-first, so landings with
    increasing `idx` are delivered in `idx` order — also when the dir
    grows between runs of a restarted stream."""
    tmp = _mkdtemp(prefix="cdc_stage_part_")
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    (part,) = (f for f in os.listdir(tmp) if f.endswith(".parquet"))
    dst = os.path.join(flat, f"part-{idx}-00000.parquet")
    shutil.copy(os.path.join(tmp, part), dst)
    os.utime(dst, (1_000_000_000 + idx, 1_000_000_000 + idx))
    shutil.rmtree(tmp)


def stage_as_stream_ordered(df: DataFrame, late: Column) -> str:
    """Stage two arrival batches with deterministic order: rows where
    `late` is false arrive first (older file mtime), late rows second.
    The file source processes files oldest-first, so batch boundaries —
    and therefore watermark advancement — are reproducible."""
    flat = _mkdtemp(prefix="cdc_stream_")
    land_ordered(df.filter(~late), flat, 0)
    land_ordered(df.filter(late), flat, 1)
    return flat


def stage_as_stream_sequenced(
    df: DataFrame,
    order_col: str,
    n_batches: int = 4,
    cache_key: str | None = None,
) -> str:
    """Stage `df` as `n_batches` files RANGE-SPLIT on `order_col` with
    strictly increasing mtimes: the file source processes oldest-first,
    so with maxFilesPerTrigger=1 the stream replays as `n_batches`
    micro-batches whose `order_col` ranges are disjoint and ascending —
    the in-order delivery contract of the reference socket
    (client.go:219-251), reproduced batch-exactly.  Order-SENSITIVE
    stateful consumers (interval maintenance, SCD2) need this; the
    order-free aggregates keep using stage_as_stream."""
    from pyspark.sql import Window as _W
    from pyspark.sql import functions as _F

    def build() -> str:
        flat = _mkdtemp(prefix="cdc_stream_")
        ranked = df.withColumn(
            "__b", _F.ntile(n_batches).over(_W.orderBy(order_col))
        )
        for b in range(1, n_batches + 1):
            land_ordered(ranked.filter(_F.col("__b") == b).drop("__b"), flat, b)
        return flat

    if not cache_key:
        return build()
    key = ("stage_as_stream_sequenced", cache_key, order_col, n_batches)
    return memo(df.sparkSession, key, build, cold=False)


def read_stream(
    spark: SparkSession,
    staged_dir: str,
    schema: str = EVENTS_DDL,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    reader = spark.readStream.schema(schema).format("parquet")
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.load(staged_dir)


class _few_state_partitions:
    """Bounded-run streaming uses few state-store partitions: each one
    costs a store instance (and a Python worker round trip for pandas
    state ops) per micro-batch.  A long-lived production query on a big
    cluster would size this to cores; checkpoints pin it at creation.
    (Measured at sf0.01: 8→4 saves ~15% of the whole streaming-suite
    wall-clock; 4→2 is noise.)"""

    N = "4"

    def __init__(self, spark: SparkSession) -> None:
        self.spark = spark

    def __enter__(self):
        self.old = self.spark.conf.get("spark.sql.shuffle.partitions")
        self.spark.conf.set("spark.sql.shuffle.partitions", self.N)

    def __exit__(self, *exc):
        self.spark.conf.set("spark.sql.shuffle.partitions", self.old)


def _release_stream_state(spark: SparkSession) -> None:
    """Unload every loaded state-store provider and stop the maintenance
    thread.  A terminated availableNow query leaves its providers (and
    their RocksDB/HDFS-backed maps) loaded in the executor until the
    maintenance interval evicts them; in a shared bench/driver session
    that residue taxes every query that runs afterwards (round-3 lesson:
    unchanged tpch_q3/q10 measured 6-9x slower when run after the
    streaming suite).  StateStore.stop() is safe between queries — the
    coordinator and providers re-initialize lazily on next use."""
    try:
        jvm = spark._jvm  # noqa: SLF001 — no public API for this
        jvm.org.apache.spark.sql.execution.streaming.state.StateStore.stop()
    except Exception:
        pass  # non-JVM-backed session or internals moved: harmless


def run_bounded(
    writer: DataStreamWriter, ckpt: str | None = None
) -> StreamingQuery:
    """Run a bounded replay of a stream to completion: the one lifecycle
    every registered stream and sink query goes through.  The caller
    builds `writer` with Spark's own API (output mode, sink or
    foreachBatch); this owns the rest — a fresh checkpoint dir unless
    `ckpt` is given (restart queries pass their shared one),
    availableNow, few state partitions while the query runs, and on the
    way out (also on failure) a stop of a still-active query and a
    release of the state-store providers.  A failed query's exception
    propagates.  Returns the terminated query (for recentProgress)."""
    spark = writer._spark  # noqa: SLF001 — the writer's own session
    if ckpt is None:
        ckpt = _mkdtemp(prefix="ckpt_")
    q = None
    try:
        with _few_state_partitions(spark):
            q = (
                writer.option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
    finally:
        if q is not None and q.isActive:
            q.stop()
        _release_stream_state(spark)
    return q


def run_to_memory(stream_df: DataFrame, output_mode: str) -> DataFrame:
    """Run a streaming DataFrame to completion into a memory sink; return
    the sink contents as a batch DataFrame.

    For COMPLETE/UPDATE-mode bounded aggregates only (the sink holds the
    full result; fine when the result is an aggregate, wrong for raw
    append output — use run_to_files for that).  The sink's temp view is
    dropped before returning: the returned DataFrame is an eager
    localCheckpoint, so it owns its data and the session carries nothing
    over to the next query."""
    spark = stream_df.sparkSession
    name = "snk_" + uuid.uuid4().hex[:12]
    run_bounded(
        stream_df.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(name)
    )
    out = spark.table(name).localCheckpoint(eager=True)
    spark.catalog.dropTempView(name)
    return out


def run_to_files(
    stream_df: DataFrame, progress_out: list | None = None
) -> DataFrame:
    """Run an APPEND-mode streaming DataFrame to completion through a
    parquet file sink and return a batch read of the output — the
    scale-safe path for queries whose streaming output is row-shaped
    (joins, dedup passes): rows go executor→disk, never through the
    driver or a memory-sink table.  With `progress_out`, the query's
    recent StreamingQueryProgress dicts are appended to it (state-store
    row evidence for the bench notes)."""
    out_dir = _mkdtemp(prefix="snk_files_")
    q = run_bounded(
        stream_df.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
    )
    if progress_out is not None:
        progress_out.extend(q.recentProgress)
    return stream_df.sparkSession.read.parquet(out_dir)


def run_many_to_memory(
    streams: list[tuple[DataFrame, str]],
) -> list[DataFrame]:
    """Run N streaming DataFrames CONCURRENTLY to completion (memory
    sinks, availableNow), returning their sink contents in order.

    The multi-table consumer shape: the reference binds one connection
    per `db.table` (client.go:144-162), so a fleet ingesting N tables
    runs N streams side by side — here all N queries are STARTED before
    any is awaited, so their micro-batches interleave on the shared
    scheduler exactly as N live tails would.  Same sink/state hygiene
    as run_to_memory (checkpointed results, views dropped, state store
    released once at the end)."""
    assert streams, "no streams given"
    spark = streams[0][0].sparkSession
    started = []
    with _few_state_partitions(spark):
        for stream_df, output_mode in streams:
            name = "snk_" + uuid.uuid4().hex[:12]
            ckpt = _mkdtemp(prefix="ckpt_")
            q = (
                stream_df.writeStream.outputMode(output_mode)
                .format("memory")
                .queryName(name)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            started.append((name, q))
        for _, q in started:
            q.awaitTermination()
    outs = []
    for name, _ in started:
        outs.append(spark.table(name).localCheckpoint(eager=True))
        spark.catalog.dropTempView(name)
    _release_stream_state(spark)
    return outs
