"""Streaming observability tests: progress metrics surface real batch
counts, row totals, watermark, and state size."""

from __future__ import annotations

import tempfile

from pyspark.sql import functions as F

from maxscale_cdc_spark.streaming.monitor import progress_frame, summarize
from maxscale_cdc_spark.streaming.runners import read_stream, stage_as_stream
from maxscale_cdc_spark.tables import table


def test_progress_metrics(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    staged = stage_as_stream(ev, n_files=3)
    stream = read_stream(spark, staged, max_files_per_trigger=1)
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "6 hours"), "event_type")
        .agg(F.count("*").alias("n"))
    )
    ckpt = tempfile.mkdtemp(prefix="mon_ckpt_")
    q = (
        agg.writeStream.outputMode("update")
        .format("memory")
        .queryName("mon_test")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    pf = progress_frame(spark, q)
    rows = pf.collect()
    assert len(rows) >= 3  # one per staged file
    assert sum(r["num_input_rows"] for r in rows) == ev.count()
    s = summarize(pf).collect()[0]
    assert s["total_rows"] == ev.count()
    assert s["max_state_rows"] > 0  # windowed agg keeps state
    assert s["last_watermark"] is not None  # watermark advanced


def test_progress_rows_per_state_operator(spark, sf_dir):
    """A chained aggregation reports two state operators per batch:
    each gets its own row (`state_op` 0 and 1), and `summarize` still
    counts every batch and its input rows once."""
    ev = table(spark, sf_dir, "events")
    staged = stage_as_stream(ev, n_files=2)
    stream = read_stream(spark, staged, max_files_per_trigger=1)
    lvl1 = (
        stream.withWatermark("ts", "30 minutes")
        .groupBy(F.window("ts", "6 hours").alias("w1"), "user_id")
        .agg(F.count("*").alias("n1"))
    )
    lvl2 = lvl1.groupBy(
        F.window(F.window_time("w1"), "24 hours").alias("w2")
    ).agg(F.sum("n1").alias("n"))
    ckpt = tempfile.mkdtemp(prefix="mon_chain_ckpt_")
    q = (
        lvl2.writeStream.outputMode("append")
        .format("memory")
        .queryName("mon_chain_test")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = progress_frame(spark, q).collect()
    batches = {r["batch_id"] for r in rows}
    ops = {(r["batch_id"], r["state_op"]) for r in rows}
    assert ops == {(b, i) for b in batches for i in (0, 1)}
    assert any(r["state_op"] == 1 and r["state_rows_total"] > 0 for r in rows)
    first = [r for r in rows if r["state_op"] == 0]
    assert sum(r["num_input_rows"] for r in first) == ev.count()
    s = summarize(progress_frame(spark, q)).collect()[0]
    assert s["n_batches"] == len(batches)
    assert s["total_rows"] == ev.count()
