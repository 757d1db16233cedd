"""Tests for the custom `maxscale_cdc` streaming data source: delivery,
GTID resume via option, incremental burst pickup, and checkpoint
restart continuity (the reference's RequestData/Stop lifecycle)."""

from __future__ import annotations

import os
import tempfile
import time

import pytest
from pyspark.sql import functions as F

from maxscale_cdc_spark.sources.cdc_datasource import SOURCE_NAME, register
from maxscale_cdc_spark.sources.cdc_source import render_dml_line, write_stream_files


def _lines(n0: int, n1: int) -> list[str]:
    return [
        render_dml_line("test", "tests", 0, 3000, seq, 1, 1693300000 + seq,
                        "insert", {"id": seq, "val": seq * 1.5})
        for seq in range(n0, n1)
    ] + ["ERR transient"]


@pytest.fixture()
def spool(tmp_path):
    d = str(tmp_path / "spool")
    write_stream_files(_lines(0, 20), d, files=2)
    return d


def _read(spark, spool_dir, **opts):
    register(spark)
    reader = spark.readStream.format(SOURCE_NAME).option("path", spool_dir)
    for k, v in opts.items():
        reader = reader.option(k, v)
    return reader.load()


def test_delivers_all_events(spark, spool):
    from maxscale_cdc_spark.streaming.runners import run_to_memory

    out = run_to_memory(_read(spark, spool, table="tests"), "append")
    assert out.count() == 20
    row = out.filter(F.col("sequence") == 3).collect()[0]
    assert row["event_type"] == "insert"
    assert '"id": 3' in row["payload"] or '"id":3' in row["payload"]


def test_typed_payload_fast_path(spark, spool):
    """payloadSchema option: PyArrow C++ parse, typed payload columns."""
    from maxscale_cdc_spark.streaming.runners import run_to_memory

    out = run_to_memory(
        _read(
            spark,
            spool,
            table="tests",
            payloadSchema="id bigint, val double",
        ),
        "append",
    )
    assert out.schema["val"].dataType.typeName() == "double"
    rows = {r["sequence"]: r for r in out.collect()}
    assert len(rows) == 20
    assert rows[3]["id"] == 3 and rows[3]["val"] == 4.5
    # resume works identically on the typed path
    out2 = run_to_memory(
        _read(
            spark,
            spool,
            table="tests",
            payloadSchema="id bigint, val double",
            startingGtid="0-3000-8",
        ),
        "append",
    )
    assert sorted(r["sequence"] for r in out2.collect()) == list(range(8, 20))


def test_starting_gtid_resume(spark, spool):
    from maxscale_cdc_spark.streaming.runners import run_to_memory

    out = run_to_memory(
        _read(spark, spool, table="tests", startingGtid="0-3000-8"), "append"
    )
    seqs = sorted(r["sequence"] for r in out.collect())
    assert seqs == list(range(8, 20))


def test_incremental_burst_pickup(spark, spool):
    """Files appearing between micro-batches are picked up by the next
    offset range — the socket-pump analogue (client.go:253-287)."""
    register(spark)
    sink = tempfile.mkdtemp(prefix="dsrc_sink_")
    ckpt = tempfile.mkdtemp(prefix="dsrc_ckpt_")

    def run():
        q = (
            _read(spark, spool, table="tests")
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run()
    got1 = spark.read.parquet(sink).count()
    assert got1 == 20
    # new burst arrives; restart from checkpoint picks up ONLY the new file
    with open(os.path.join(spool, "events-burst2.jsonl"), "w") as f:
        f.write("\n".join(_lines(20, 25)[:-1]) + "\n")
    run()
    got2 = spark.read.parquet(sink)
    assert got2.count() == 25
    assert got2.select("sequence").distinct().count() == 25


def test_crash_resume_no_dupes_no_gaps(spark, tmp_path):
    """Stop() mid-stream under concurrent burst arrival, then restart
    from the checkpoint (client.go:166-181 Stop contract + WithGTID
    resume): the sink must hold every event EXACTLY once — no replayed
    duplicates, no gaps — matching the batch read of the full spool."""
    import threading

    register(spark)
    spool_dir = str(tmp_path / "spool")
    os.makedirs(spool_dir)
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")

    n_bursts, per = 10, 5

    def burst(i):
        return [
            render_dml_line("test", "tests", 0, 3000, i * per + j, 1,
                            1693300000, "insert",
                            {"id": i * per + j, "val": float(j)})
            for j in range(per)
        ]

    # two bursts exist up front; the rest arrive while the query runs
    for i in range(2):
        write_stream_files(burst(i), spool_dir)
        os.rename(os.path.join(spool_dir, "events-00000.jsonl"),
                  os.path.join(spool_dir, f"burst-{i:05d}.jsonl"))

    stop_writer = threading.Event()

    def writer():
        for i in range(2, n_bursts):
            if stop_writer.is_set():
                return
            write_stream_files(burst(i), spool_dir)
            os.rename(os.path.join(spool_dir, "events-00000.jsonl"),
                      os.path.join(spool_dir, f"burst-{i:05d}.jsonl"))
            time.sleep(0.15)

    def start_query(trigger_kwargs):
        return (
            _read(spark, spool_dir, table="tests")
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(**trigger_kwargs)
            .start()
        )

    w = threading.Thread(target=writer, daemon=True)
    q = start_query({"processingTime": "200 milliseconds"})
    w.start()
    # let it commit a few micro-batches, then kill it mid-stream
    deadline = time.time() + 30
    while time.time() < deadline:
        try:
            if spark.read.parquet(sink).count() >= per * 2:
                break
        except Exception:
            pass
        time.sleep(0.2)
    q.stop()  # conn.Close() analogue: abrupt, between/inside batches
    w.join(timeout=10)

    # restart from the same checkpoint; drain everything that arrived
    q2 = start_query({"availableNow": True})
    q2.awaitTermination()

    got = spark.read.parquet(sink)
    seqs = sorted(r["sequence"] for r in got.collect())
    assert seqs == list(range(n_bursts * per)), (
        f"dupes/gaps after crash-resume: {len(seqs)} rows"
    )


def test_bad_records_fail_default_generic_path(spark, tmp_path):
    """Default badRecords=fail mirrors the reference: a decode error
    terminates the stream (client.go:240-246) on the generic path."""
    d = str(tmp_path / "spool")
    write_stream_files(['{"domain": 0, "server_id": 1, "sequence": 1}',
                        '{"domain": THIS IS NOT JSON'], d)
    from maxscale_cdc_spark.streaming.runners import run_to_memory
    from pyspark.errors.exceptions.captured import StreamingQueryException

    with pytest.raises(StreamingQueryException) as ei:
        run_to_memory(_read(spark, d), "append")
    assert "malformed CDC line" in str(ei.value)


def test_bad_records_skip_counts(spark, tmp_path):
    """badRecords=skip keeps the stream alive and drops only the
    malformed lines (both read paths share the policy)."""
    from maxscale_cdc_spark.streaming.runners import run_to_memory

    d = str(tmp_path / "spool")
    good = [
        render_dml_line("test", "tests", 0, 3000, s, 1, 1693300000, "insert",
                        {"id": s, "val": 1.0})
        for s in range(3)
    ]
    write_stream_files(good + ['{"domain": BROKEN'], d)
    out = run_to_memory(
        _read(spark, d, table="tests", badRecords="skip"), "append"
    )
    assert sorted(r["sequence"] for r in out.collect()) == [0, 1, 2]
    # typed path, same spool
    out2 = run_to_memory(
        _read(spark, d, table="tests", badRecords="skip",
              payloadSchema="id bigint, val double"),
        "append",
    )
    assert sorted(r["sequence"] for r in out2.collect()) == [0, 1, 2]


def test_typed_decimal_and_two_word_types(spark, tmp_path):
    """payloadSchema accepts decimal(p,s) and 'double precision'
    (split on first whitespace only); values arrive typed."""
    from decimal import Decimal

    from maxscale_cdc_spark.streaming.runners import run_to_memory

    d = str(tmp_path / "spool")
    write_stream_files([
        render_dml_line("test", "tests", 0, 3000, 1, 1, 1693300000, "insert",
                        {"amt": 12.3456, "ratio": 0.5}),
    ], d)
    out = run_to_memory(
        _read(spark, d, table="tests",
              payloadSchema="amt decimal(18,4), ratio double precision"),
        "append",
    )
    row = out.collect()[0]
    assert row["amt"] == Decimal("12.3456")
    assert row["ratio"] == 0.5


def test_bad_payload_schema_fails_at_construction(spark, tmp_path):
    """An unsupported payload type errors when the stream starts, not
    mid-micro-batch on an executor."""
    from maxscale_cdc_spark.streaming.runners import run_to_memory

    d = str(tmp_path / "spool")
    write_stream_files(['{"domain": 0, "server_id": 1, "sequence": 1}'], d)
    with pytest.raises(Exception) as ei:
        run_to_memory(
            _read(spark, d, payloadSchema="x sometype"), "append"
        )
    assert "unsupported type" in str(ei.value)


def test_max_files_per_trigger_backpressure(spark, tmp_path):
    """maxFilesPerTrigger bounds each micro-batch after the initial
    drain (cap-1 channel analogue, client.go:220): 1 initial file, then
    6 more arriving at cap 2 need >= 3 additional batches; a restart
    with yet more files re-delivers nothing (the first window of a
    restarted query is uncapped precisely so the planner can never
    regress below the checkpointed start)."""
    spool_dir = str(tmp_path / "spool")
    os.makedirs(spool_dir)

    def burst(i):
        write_stream_files(
            [render_dml_line("test", "tests", 0, 3000, i * 5 + j, 1,
                             1693300000, "insert", {"id": j, "val": 1.0})
             for j in range(5)],
            spool_dir,
        )
        os.rename(os.path.join(spool_dir, "events-00000.jsonl"),
                  os.path.join(spool_dir, f"burst-{i:05d}.jsonl"))

    burst(0)
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")

    def start():
        return (
            _read(spark, spool_dir, table="tests", maxFilesPerTrigger="2")
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(processingTime="150 milliseconds")
            .start()
        )

    q = start()
    deadline = time.time() + 30
    while time.time() < deadline:  # initial drain commits file 0
        try:
            if spark.read.parquet(sink).count() >= 5:
                break
        except Exception:
            pass
        time.sleep(0.2)
    for i in range(1, 7):  # 6 more bursts arrive mid-stream
        burst(i)
    deadline = time.time() + 60
    while time.time() < deadline:
        try:
            if spark.read.parquet(sink).count() == 35:
                break
        except Exception:
            pass
        time.sleep(0.2)
    q.stop()
    got = sorted(r["sequence"] for r in spark.read.parquet(sink).collect())
    assert got == list(range(35))
    n_batches = len([f for f in os.listdir(os.path.join(ckpt, "offsets"))
                     if not f.startswith(".")])
    # 1 drain batch + >=3 capped batches for the 6 late files (+ empty ticks)
    assert n_batches >= 4, f"expected >=4 batches, got {n_batches}"

    # restart with two more bursts: everything new arrives exactly once
    burst(7)
    burst(8)
    q2 = start()
    deadline = time.time() + 30
    while time.time() < deadline:
        try:
            if spark.read.parquet(sink).count() >= 45:
                break
        except Exception:
            pass
        time.sleep(0.2)
    q2.stop()
    got = sorted(r["sequence"] for r in spark.read.parquet(sink).collect())
    assert got == list(range(45)), "duplicates or gaps after capped restart"


def test_bad_records_skip_type_mismatch_typed_path(spark, tmp_path):
    """badRecords=skip must survive lines that are VALID JSON but fail
    the Arrow schema conversion (string where the schema says double) —
    a json.loads prefilter alone cannot catch these."""
    from maxscale_cdc_spark.streaming.runners import run_to_memory

    d = str(tmp_path / "spool")
    good = [
        render_dml_line("test", "tests", 0, 3000, s, 1, 1693300000, "insert",
                        {"id": s, "val": 1.5})
        for s in range(3)
    ]
    bad = render_dml_line("test", "tests", 0, 3000, 99, 1, 1693300000,
                          "insert", {"id": 99, "val": "oops"})
    write_stream_files(good + [bad], d)
    out = run_to_memory(
        _read(spark, d, table="tests", badRecords="skip",
              payloadSchema="id bigint, val double"),
        "append",
    )
    assert sorted(r["sequence"] for r in out.collect()) == [0, 1, 2]


def test_schema_from_spool_discovery(spark, tmp_path):
    """schemaFromSpool: the payload schema comes from the stream's own
    DDL events (client.go:254-271 readSchema) — nothing declared by the
    consumer; ALTER bumps the version and the latest wins; an explicit
    schemaVersion pins the old shape (client.go:114-119)."""
    from maxscale_cdc_spark.sources.cdc_source import render_ddl_line
    from maxscale_cdc_spark.streaming.runners import run_to_memory

    d = str(tmp_path / "spool")
    lines = [
        render_ddl_line("test", "tests", 1, "0-3000-1",
                        [("id", "int"), ("val", "double")]),
        render_dml_line("test", "tests", 0, 3000, 1, 1, 1693300000, "insert",
                        {"id": 1, "val": 1.5}),
        render_ddl_line("test", "tests", 2, "0-3000-2",
                        [("id", "int"), ("val", "double"), ("tag", "varchar")]),
        render_dml_line("test", "tests", 0, 3000, 2, 1, 1693300001, "insert",
                        {"id": 2, "val": 2.5, "tag": "x"}),
    ]
    write_stream_files(lines, d)
    out = run_to_memory(
        _read(spark, d, table="tests", database="test", schemaFromSpool="true"),
        "append",
    )
    assert "tag" in out.columns  # latest version discovered
    rows = {r["sequence"]: r for r in out.collect()}
    assert rows[1]["tag"] is None and rows[2]["tag"] == "x"
    assert rows[2]["val"] == 2.5 and rows[2]["id"] == 2
    # pinned version: v1 shape, no tag column
    out1 = run_to_memory(
        _read(spark, d, table="tests", database="test",
              schemaFromSpool="true", schemaVersion="1"),
        "append",
    )
    assert "tag" not in out1.columns and "val" in out1.columns


def test_schema_from_spool_widens_unsigned_ints(spark, tmp_path):
    """schemaFromSpool types an `unsigned` column as the schema registry
    does: `int unsigned` as bigint and `bigint unsigned` as
    decimal(20,0), so both columns' maximum values read exactly."""
    import json
    from decimal import Decimal

    from maxscale_cdc_spark.sources.cdc_source import render_ddl_line
    from maxscale_cdc_spark.sources.schema_registry import decode_ddl
    from maxscale_cdc_spark.streaming.runners import run_to_memory

    ddl = json.loads(render_ddl_line(
        "test", "tests", 1, "0-3000-1",
        [("id", "int"), ("u32", "int"), ("u64", "bigint")],
    ))
    for f in ddl["fields"]:
        if f["name"] in ("u32", "u64"):
            f["unsigned"] = True
    d = str(tmp_path / "spool")
    write_stream_files([
        json.dumps(ddl),
        render_dml_line("test", "tests", 0, 3000, 1, 1, 1693300000, "insert",
                        {"id": 1, "u32": 4294967295, "u64": 18446744073709551615}),
        render_dml_line("test", "tests", 0, 3000, 2, 1, 1693300001, "insert",
                        {"id": 2, "u32": 3000000000, "u64": 0}),
    ], d)
    out = run_to_memory(
        _read(spark, d, table="tests", database="test", schemaFromSpool="true"),
        "append",
    )
    registry = {f.name: f.dataType for f in decode_ddl(ddl).payload_struct()}
    types = {f.name: f.dataType for f in out.schema}
    assert types["u32"] == registry["u32"] and types["u32"].simpleString() == "bigint"
    assert types["u64"] == registry["u64"]
    assert types["u64"].simpleString() == "decimal(20,0)"
    rows = {r["sequence"]: r for r in out.collect()}
    assert rows[1]["u32"] == 4294967295
    assert rows[1]["u64"] == Decimal("18446744073709551615")
    assert rows[2]["u32"] == 3000000000 and rows[2]["u64"] == Decimal(0)


def test_register_failure_propagates():
    """A failed registration raises out of `register` instead of
    surfacing later as an unknown `maxscale_cdc` format."""
    from types import SimpleNamespace

    def refuse(_cls):
        raise RuntimeError("registration refused")

    fake = SimpleNamespace(dataSource=SimpleNamespace(register=refuse))
    with pytest.raises(RuntimeError, match="registration refused"):
        register(fake)


def test_register_twice_still_reads(spark, spool):
    """Re-registering replaces the source; the session still reads."""
    from maxscale_cdc_spark.streaming.runners import run_to_memory

    register(spark)
    register(spark)
    assert run_to_memory(_read(spark, spool, table="tests"), "append").count() == 20
