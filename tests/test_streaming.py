"""Streaming semantics tests: multi-batch upsert convergence, streaming
session windows, stop/resume via checkpoint (the reference's
Stop()/RequestData-with-GTID lifecycle, client.go:122-181)."""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import functions as F

from maxscale_cdc_spark.streaming.runners import (
    read_stream,
    run_bounded,
    run_to_memory,
    stage_as_stream,
    stage_as_stream_ordered,
    stage_as_stream_sequenced,
)
from maxscale_cdc_spark.tables import table


def test_multibatch_upsert_converges(spark, sf_dir):
    """foreachBatch upsert over 2 ordered arrival batches ends at the
    same per-key state as a single batch — idempotent-merge exactly-once.

    The upsert is executor-side: each update-mode micro-batch appends
    its rows stamped with the epoch to a keyed parquet table; the final
    state is last-epoch-wins per key (one window), the same MERGE shape
    `snk_upsert` uses.  No driver collect anywhere in the sink path."""
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events")
    staged = stage_as_stream_ordered(ev, late=(F.col("event_id") % 3 == 0))
    stream = read_stream(spark, staged, max_files_per_trigger=1)
    agg = stream.groupBy("user_id").agg(
        F.count("*").alias("n"),
        F.max("event_id").alias("last_id"),
    )
    state_dir = tempfile.mkdtemp(prefix="upsert_state_")

    def upsert(batch_df, epoch_id):
        batch_df.withColumn("epoch", F.lit(epoch_id)).write.mode(
            "append"
        ).parquet(state_dir)

    ckpt = tempfile.mkdtemp(prefix="ckpt_upsert_")
    q = (
        agg.writeStream.outputMode("update")
        .foreachBatch(upsert)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    w = Window.partitionBy("user_id").orderBy(F.col("epoch").desc())
    final = (
        spark.read.parquet(state_dir)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
    )
    got = {r["user_id"]: (r["n"], r["last_id"]) for r in final.collect()}
    want = {
        r["user_id"]: (r["n"], r["last_id"])
        for r in ev.groupBy("user_id")
        .agg(F.count("*").alias("n"), F.max("event_id").alias("last_id"))
        .collect()
    }
    assert got == want


def test_streaming_session_window(spark, sf_dir):
    """session_window in a real streaming query (complete mode) matches
    the batch session_window result."""
    ev = table(spark, sf_dir, "events")
    staged = stage_as_stream(ev)
    stream = read_stream(spark, staged)
    agg = stream.groupBy(
        F.session_window("ts", "30 minutes").alias("w"), "user_id"
    ).agg(F.count("*").alias("n"))
    out = run_to_memory(agg, "complete").select(
        "user_id", F.col("w.start").alias("s"), "n"
    )
    batch = (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("n"))
        .select("user_id", F.col("w.start").alias("s"), "n")
    )
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, batch.collect()))


def test_checkpoint_stop_resume(spark, sf_dir):
    """Stop mid-stream, restart from the checkpoint, and verify no event
    is lost or duplicated — query.stop() + checkpoint ≙ the reference's
    Stop()/WithGTID resume contract (client.go:122-126, 166-181)."""
    ev = table(spark, sf_dir, "events")
    staged = stage_as_stream_ordered(ev, late=(F.col("event_id") % 2 == 0))
    ckpt = tempfile.mkdtemp(prefix="ckpt_resume_")
    sink_dir = tempfile.mkdtemp(prefix="resume_sink_")

    def run_once():
        stream = read_stream(spark, staged, max_files_per_trigger=1)
        q = (
            stream.writeStream.format("parquet")
            .option("path", sink_dir)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        return q

    # first run: stop after the first micro-batch commits
    q = run_once()
    while not q.recentProgress:
        q.awaitTermination(0.2)
    q.stop()
    # resume: same checkpoint → continues at the recorded offset
    q2 = run_once()
    q2.awaitTermination()
    got = spark.read.parquet(sink_dir)
    assert got.count() == ev.count()
    assert got.select("event_id").distinct().count() == ev.count()


def test_update_mode_bucketed_merge_stop_resume(spark, sf_dir):
    """The str_cdc_upsert_e2e sink shape under the reference's
    Stop()/resume contract: an update-mode per-key aggregate MERGEd
    into a bucket-generation parquet target, interrupted after the
    first micro-batch and resumed from the same checkpoint, must end
    at exactly the batch ground-truth state — a replayed micro-batch
    re-asserts the same per-key rows (idempotent MERGE), so restart
    can neither lose nor double-apply keys."""
    from collections import defaultdict
    from functools import reduce

    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events")
    staged = stage_as_stream_ordered(ev, late=(F.col("event_id") % 2 == 0))
    ckpt = tempfile.mkdtemp(prefix="ckpt_merge_resume_")
    root = tempfile.mkdtemp(prefix="merge_tgt_")
    n_buckets = 4
    gen_of: dict[int, str] = {}

    def merge(batch_df, epoch_id):
        new = batch_df.withColumn(
            "b", F.pmod(F.hash("user_id"), F.lit(n_buckets))
        )
        touched = sorted(r["b"] for r in new.select("b").distinct().collect())
        if not touched:
            return
        by_gen = defaultdict(list)
        for b in touched:
            if b in gen_of:
                by_gen[gen_of[b]].append(b)
        olds = [
            spark.read.parquet(g).filter(F.col("b").isin(bs))
            for g, bs in by_gen.items()
        ]
        if olds:
            carried = reduce(lambda a, x: a.unionByName(x), olds).join(
                new.select("user_id"), "user_id", "left_anti"
            )
            merged = carried.unionByName(new)
        else:
            merged = new
        gen_dir = os.path.join(root, f"gen_{epoch_id}")
        merged.write.mode("overwrite").partitionBy("b").parquet(gen_dir)
        for b in touched:
            gen_of[b] = gen_dir

    def run_once():
        stream = read_stream(spark, staged, max_files_per_trigger=1)
        agg = stream.groupBy("user_id").agg(
            F.count("*").alias("n"), F.max("event_id").alias("last_id")
        )
        return (
            agg.writeStream.outputMode("update")
            .foreachBatch(merge)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )

    q = run_once()
    while not q.recentProgress:
        q.awaitTermination(0.2)
    q.stop()
    q2 = run_once()
    q2.awaitTermination()

    by_gen_final = defaultdict(list)
    for b, g in gen_of.items():
        by_gen_final[g].append(b)
    state = reduce(
        lambda a, x: a.unionByName(x),
        [
            spark.read.parquet(g).filter(F.col("b").isin(bs))
            for g, bs in by_gen_final.items()
        ],
    )
    got = {r["user_id"]: (r["n"], r["last_id"]) for r in state.collect()}
    want = {
        r["user_id"]: (r["n"], r["last_id"])
        for r in ev.groupBy("user_id")
        .agg(F.count("*").alias("n"), F.max("event_id").alias("last_id"))
        .collect()
    }
    assert got == want


def test_run_bounded_failure_then_resume(spark):
    """run_bounded's lifecycle contract: a failing epoch's error
    propagates out, the session's shuffle-partition setting comes back
    and no stream is left running; a second run on the same checkpoint
    commits exactly the epochs the first one did not."""
    import pytest
    from pyspark.errors import StreamingQueryException

    from maxscale_cdc_spark.session import quiet_expected_failure
    from maxscale_cdc_spark.sources.manifest_sink_ds import (
        read_committed_epochs,
        register,
    )
    from maxscale_cdc_spark.tmputil import mkdtemp

    register(spark)
    staged = stage_as_stream_sequenced(
        spark.range(40).withColumnRenamed("id", "seq"), "seq", n_batches=4
    )
    sink_dir = mkdtemp(prefix="runner_sink_")
    ckpt = mkdtemp(prefix="runner_ckpt_")

    def writer():
        return (
            read_stream(spark, staged, schema="seq bigint", max_files_per_trigger=1)
            .writeStream.format("manifest_parquet")
            .option("path", sink_dir)
        )

    key = "spark.sql.shuffle.partitions"
    prior = spark.conf.get(key)
    spark.conf.set(key, "7")
    try:
        with quiet_expected_failure(spark), pytest.raises(StreamingQueryException):
            run_bounded(writer().option("fail_epoch", "2"), ckpt)
        assert spark.conf.get(key) == "7"
        assert not spark.streams.active
    finally:
        spark.conf.set(key, prior)
    _, mans = read_committed_epochs(spark, sink_dir)
    assert [m["epoch"] for m in mans] == [0, 1]

    q = run_bounded(writer(), ckpt)
    assert [p["batchId"] for p in q.recentProgress] == [2, 3]
    back, mans = read_committed_epochs(spark, sink_dir)
    assert [m["epoch"] for m in mans] == [0, 1, 2, 3]
    assert sorted(r["seq"] for r in back.collect()) == list(range(40))


def test_multi_table_registry_versions_side_by_side(spark, sf_dir):
    """The r5 verdict's ask: two tables with DIFFERENT schema versions
    materialize correctly side by side — users decodes with v1 (no
    qty), orders with the post-ALTER v2 (qty present, typed long), and
    the registry holds both orders versions."""
    from maxscale_cdc_spark.operators.sources import _render_multi_wire
    from maxscale_cdc_spark.sources.cdc_source import collect_schemas

    dirs = _render_multi_wire(spark, sf_dir)
    raw = spark.read.text(dirs["users"]).union(spark.read.text(dirs["orders"]))
    reg = collect_schemas(raw)
    assert reg.versions("app", "orders") == [1, 2]
    assert reg.versions("app", "users") == [1]
    u_fields = {f.name for f in reg.get("app", "users").payload_fields()}
    o1_fields = {f.name for f in reg.get("app", "orders", 1).payload_fields()}
    o2 = reg.get("app", "orders")
    o2_fields = {f.name: f.spark_type().simpleString() for f in o2.payload_fields()}
    assert u_fields == {"pk", "value"}
    assert o1_fields == {"pk", "value"}
    assert o2.version == 2 and o2_fields["qty"] == "bigint"
    # side-by-side materialization: the registered query's union export
    from maxscale_cdc_spark import registry as r

    r.load_all()
    out = r.QUERIES["src_cdc_multi"](spark, sf_dir).toPandas()
    assert set(out["tbl"]) == {"users", "orders"}
    assert out[out.tbl == "users"]["sum_qty"].isna().all()
    assert out[out.tbl == "orders"]["sum_qty"].notna().all()
    assert (out[out.tbl == "orders"]["schema_version"] == 2).all()


# -- the change-log helpers of streaming/ops.py, on hand-built frames --

_CDC_DDL = "sequence bigint, dml_type string, pk bigint, value double, ts_unix bigint"
_MOR_DATA_DDL = (
    "pk bigint, last_seq bigint, last_value double, last_ts_unix bigint, "
    "epoch int"
)


def test_cdc_log_matches_the_when_chain_spelling(spark):
    """`_cdc_log`'s CASE text gives the same dml_type as the F.when
    chain it replaced, for every event_type including NULL."""
    import datetime

    from maxscale_cdc_spark.streaming.ops import _cdc_log

    types = ["signup", "purchase", "view", "click", "error", "refund", None]
    ts = datetime.datetime(2024, 1, 1)
    ev = spark.createDataFrame(
        [(i, ts, i, t, 1.0) for i, t in enumerate(types)],
        "event_id bigint, ts timestamp, user_id bigint, event_type string, "
        "value double",
    )
    when = (
        F.when(F.col("event_type").isin("signup", "purchase"), F.lit("insert"))
        .when(F.col("event_type") == "view", F.lit("update_before"))
        .when(F.col("event_type") == "click", F.lit("update_after"))
        .otherwise(F.lit("delete"))
    )
    got = dict(_cdc_log(ev).select("sequence", "dml_type").collect())
    want = dict(ev.select("event_id", when).collect())
    assert got == want
    assert got[len(types) - 1] == "delete"  # NULL event_type


def test_state_asof_touched_keys_latest_image(spark):
    """Only keys touched in (lo, hi], each with its last image as of
    `hi` — later events and untouched keys stay out."""
    from maxscale_cdc_spark.streaming.ops import _seq_cuts, _state_asof

    cdc = spark.createDataFrame(
        [
            (1, "insert", 40, 0.5, 50),
            (2, "insert", 10, 1.0, 100),
            (3, "insert", 20, 2.0, 200),
            (4, "update_after", 10, 3.0, 300),
            (5, "insert", 30, 4.0, 400),
            (6, "update_after", 20, 5.0, 500),
            (7, "delete", 10, 6.0, 600),
        ],
        _CDC_DDL,
    )
    assert _seq_cuts(cdc, 3) == [(0, 2), (2, 4), (4, 7)]
    got = {tuple(r) for r in _state_asof(cdc, 3, 5).collect()}
    assert got == {
        (10, 4, "update_after", 3.0, 300),
        (30, 5, "insert", 4.0, 400),
    }


def test_mor_reconcile_epoch_rule(spark):
    """A delete in a later epoch hides an earlier data row; a row
    written in the same epoch as its delete marker survives."""
    from maxscale_cdc_spark.streaming.ops import _mor_reconcile

    data = spark.createDataFrame(
        [(1, 1, 1.0, 10, 1), (2, 2, 2.0, 20, 2), (3, 3, 3.0, 30, 1)],
        _MOR_DATA_DDL,
    )
    dels = spark.createDataFrame(
        [(1, 1), (1, 2), (2, 2), (3, 1)], "pk bigint, epoch int"
    )
    alive = sorted(r["pk"] for r in _mor_reconcile(data, dels).collect())
    assert alive == [2, 3]


def test_same_rows_is_multiset_equality(spark):
    from maxscale_cdc_spark.streaming.ops import _same_rows

    a = spark.createDataFrame([(1, "x"), (2, "y")], "k bigint, v string")
    assert _same_rows(a, a.select("k", "v"))
    assert not _same_rows(a, a.unionAll(a))
    assert not _same_rows(a.unionAll(a), a)


def test_mor_epoch_writer_is_replay_idempotent(spark, tmp_path):
    """Writing the same epoch twice (a replayed micro-batch) leaves the
    reconciled read unchanged — overwrite per epoch dir, no doubling."""
    from maxscale_cdc_spark.streaming.ops import (
        _final_image,
        _mor_read,
        _mor_reconcile,
        _mor_write_epoch,
    )

    batch = spark.createDataFrame(
        [
            (1, "insert", 10, 1.0, 100),
            (2, "update_after", 10, 2.0, 200),
            (3, "insert", 20, 3.0, 300),
            (4, "delete", 30, 4.0, 400),
        ],
        _CDC_DDL,
    )
    root = str(tmp_path / "mor")

    def served():
        return sorted(tuple(r) for r in _mor_reconcile(*_mor_read(spark, root)).collect())

    _mor_write_epoch(_final_image(batch, "pk"), root, 0)
    once = served()
    assert once == [(10, 2, 2.0, 200), (20, 3, 3.0, 300)]
    _mor_write_epoch(_final_image(batch, "pk"), root, 0)
    assert served() == once
