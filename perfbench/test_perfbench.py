"""Unit tests of the benchmark's own accounting (no Spark needed):

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import gen  # noqa: E402
import run as bench_run  # noqa: E402
import stats  # noqa: E402
from spans import Tracer  # noqa: E402


# -- event -> spool file -> batch mapping ------------------------------------


def test_ddl_is_line_zero_of_file_zero():
    assert stats.file_of_line(0, 10_000) == 0
    assert stats.file_of_line(9_999, 10_000) == 0
    assert stats.file_of_line(10_000, 10_000) == 1


def test_batch_of_file_follows_end_offsets():
    ends = [5, 6, 6, 8]  # batch 2 read no new file
    assert [stats.batch_of_file(f, ends) for f in range(9)] == [0, 0, 0, 0, 0, 1, 3, 3, None]


def test_lags_exclude_events_still_in_the_pump_buffer():
    burst = 4
    # lines 1..11 due at t = line; files 0-1 landed in the window, file 2
    # (lines 8-11) only flushed after the window closed at t = 20
    due = [(line, float(line)) for line in range(1, 12)]
    landed = {0: 10.0, 1: 15.0, 2: 25.0}
    ends, pubs = [1, 3], [12.0, 30.0]
    got = stats.event_lags(due, burst, landed, 20.0, ends, pubs)
    assert [b for _, b in got] == [0, 0, 0, 1, 1, 1, 1]
    assert [lag for lag, _ in got] == [11.0, 10.0, 9.0, 26.0, 25.0, 24.0, 23.0]


def test_lags_exclude_events_no_batch_read():
    due = [(1, 0.0), (5, 0.0)]
    got = stats.event_lags(due, 4, {0: 1.0, 1: 1.0}, 10.0, [1], [2.0])
    assert got == [(2.0, 0)]


def test_wire_lines_land_in_spool_files_as_mapped(tmp_path):
    """The real pump, fed by the benchmark's server: wire line L lands in
    spool file L // burst_lines, with the DDL line first."""
    import time

    import wire
    from maxscale_cdc_spark.sources.transport import CDCTransport

    log = gen.ChangeLog(20, seed=3)
    head = [gen.ddl_line()] + log.bootstrap()
    paced = log.events(50)
    server = wire.WireServer(gen.DATABASE, gen.TABLE, head, paced, rate=2_000)
    spool = str(tmp_path / "spool")
    t = CDCTransport(server.address, wire.USER, wire.PASSWORD, wire.CLIENT_UUID)
    t.request_data(gen.DATABASE, gen.TABLE, spool_dir=spool, burst_lines=16)
    server.begin(time.time())
    server.close()
    t.drain(10)
    t.stop()
    sent = head + paced
    files = sorted(os.listdir(spool))
    assert len(files) == -(-len(sent) // 16)
    for i, f in enumerate(files):
        with open(os.path.join(spool, f), "rb") as fh:
            got = fh.read().split(b"\n")[:-1]
        assert got == [ln for n, ln in enumerate(sent) if stats.file_of_line(n, 16) == i]
    assert "fields" in json.loads(sent[0])  # line 0 is the DDL


# -- percentiles and their sample counts -------------------------------------


def test_p90_needs_100_samples():
    with pytest.raises(ValueError, match="p90 needs 100 samples, got 99"):
        stats.percentile(list(range(99)), 90)
    assert stats.percentile(list(range(100)), 90) == {"value": 89, "n": 100}


def test_p50_needs_20_samples():
    with pytest.raises(ValueError):
        stats.percentile([1.0] * 19, 50)
    assert stats.percentile(list(range(1, 21)), 50) == {"value": 10, "n": 20}


# -- the correctness gate ----------------------------------------------------


def _replay(lines: list[bytes]) -> dict[int, tuple[int, float]]:
    """Reference latest-state: last image per pk in (sequence,
    event_number) order, deletes removed."""
    last: dict[int, tuple[tuple[int, int], str, float]] = {}
    for raw in lines:
        e = json.loads(raw)
        if "fields" in e:
            continue
        key = (e["sequence"], e["event_number"])
        if e["pk"] not in last or key > last[e["pk"]][0]:
            last[e["pk"]] = (key, e["event_type"], e["value"])
    return {pk: (k[0], v) for pk, (k, t, v) in last.items() if t != "delete"}


def _gate_result(served, expected) -> dict:
    failed = len(stats.state_mismatches(served, expected))
    res = {"attempted": len(expected), "failed": failed, "e2e": {}, "layer": {}}
    return bench_run.result_line(res, {"per_layer": [], "end_to_end": []}, trace=1)


def test_gate_passes_on_the_generators_own_state():
    log = gen.ChangeLog(200, seed=5)
    lines = [gen.ddl_line()] + log.bootstrap() + log.events(2_000)
    served = _replay(lines)
    assert stats.state_mismatches(served, log.expected) == []
    assert _gate_result(served, log.expected)["correct"] is True


def test_corrupted_expectation_trips_the_gate():
    log = gen.ChangeLog(200, seed=5)
    served = _replay([gen.ddl_line()] + log.bootstrap() + log.events(2_000))
    corrupt = dict(log.expected)
    pk = next(iter(corrupt))
    seq, value = corrupt[pk]
    corrupt[pk] = (seq, value + 0.01)  # wrong value
    del corrupt[next(k for k in corrupt if k != pk)]  # missing key
    line = _gate_result(served, corrupt)
    assert line["correct"] is False and line["failed"] == 2


# -- spans -------------------------------------------------------------------


def test_coverage_counts_direct_children_only():
    tr = Tracer(enabled=True)
    root = tr.add("window", 0.0, 10.0, None)
    q = tr.add("query", 1.0, 9.0, root)
    tr.add("query.build", 1.0, 3.0, q)
    tr.add("query.action", 3.0, 8.0, q)
    assert tr.coverage("window") == 0.8


def test_disabled_tracer_records_nothing():
    tr = Tracer(enabled=False)
    with tr.span("x"):
        pass
    assert tr.add("y", 0.0, 1.0, None) == -1 and tr.spans == []
