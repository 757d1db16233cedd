"""Streaming query observability — the Stop()/progress surface.

The reference exposes stream health only implicitly (blocking reads,
error-closed channels); an operable engine needs numbers.  This module
turns `StreamingQuery.recentProgress` into a DataFrame: rows/sec,
batch durations, watermark lag, state size — the metrics a 100 TB
deployment alerts on (consumer lag ≙ watermark lag; state growth ≙
missing watermark eviction)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def progress_frame(spark: SparkSession, query) -> DataFrame:
    """recentProgress → one row per (micro-batch, state operator).

    `state_op` is the operator's index in the batch's `stateOperators`
    (a chained aggregation reports one entry per stateful operator); a
    batch without state operators keeps one row with `state_op` NULL
    and zero state counts.  The batch-level columns repeat on each of a
    batch's rows — `summarize` counts them once per batch."""
    rows = []
    for p in query.recentProgress:
        batch = (
            int(p.get("batchId", -1)),
            float(p.get("inputRowsPerSecond") or 0.0),
            float(p.get("processedRowsPerSecond") or 0.0),
            int(p.get("numInputRows") or 0),
            int(p.get("batchDuration") or 0),
            (p.get("eventTime") or {}).get("watermark"),
        )
        ops = p.get("stateOperators") or []
        for i, state in enumerate(ops or [{}]):
            rows.append(
                batch
                + (
                    i if ops else None,
                    int(state.get("numRowsTotal") or 0),
                    int(state.get("numRowsUpdated") or 0),
                )
            )
    return spark.createDataFrame(
        rows,
        "batch_id int, input_rows_per_sec double, processed_rows_per_sec double, "
        "num_input_rows bigint, batch_duration_ms bigint, watermark string, "
        "state_op int, state_rows_total bigint, state_rows_updated bigint",
    )


def transport_frame(spark: SparkSession, transport) -> DataFrame:
    """One-row health frame for a CDCTransport: delivered vs skipped
    (tolerated pre-schema ERR) event counts, pump liveness, and the
    terminal pump error if any — the dead-letter surface a deployment
    alerts on alongside the streaming progress frame."""
    alive = transport._thread is not None and transport._thread.is_alive()
    err = transport._pump_error
    return spark.createDataFrame(
        [
            (
                transport.address,
                int(transport.events_pumped),
                int(transport.err_lines),
                bool(alive),
                type(err).__name__ if err is not None else None,
                str(err) if err is not None else None,
            )
        ],
        "address string, events_pumped bigint, skipped_err_lines bigint, "
        "pump_alive boolean, pump_error_type string, pump_error string",
    )


def summarize(progress_df: DataFrame) -> DataFrame:
    """Per-query health summary (throughput, latency, state growth).
    Batch-level sums read each batch's first row only (`state_op` 0 or
    NULL); the state maximum reads every operator's rows."""
    from pyspark.sql import functions as F

    first = F.coalesce(F.col("state_op"), F.lit(0)) == 0
    return progress_df.agg(
        F.count(F.when(first, 1)).alias("n_batches"),
        F.sum(F.when(first, F.col("num_input_rows"))).alias("total_rows"),
        F.max("batch_duration_ms").alias("max_batch_ms"),
        F.max("state_rows_total").alias("max_state_rows"),
        F.max("watermark").alias("last_watermark"),
    )
