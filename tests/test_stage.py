"""`session.stage`, the one staging call, and `session.unstaged()`, the
plan gates' switch, on a stub session (no JVM), and a source scan that
pins them as the only staging path."""

from __future__ import annotations

import ast
import os

import pytest
from pyspark.sql import DataFrame

from maxscale_cdc_spark import session
from maxscale_cdc_spark.session import memo, stage, unstaged
from tests.test_kernels import PKG, _sites
from tests.test_memo import _Session

ROOT = os.path.dirname(PKG)


class _Frame(DataFrame):
    """A DataFrame that records the checkpoints asked of it."""

    def __new__(cls):
        return object.__new__(cls)

    def __init__(self):
        self.checkpoints: list[bool] = []

    def localCheckpoint(self, eager: bool = True):
        self.checkpoints.append(eager)
        return _Frame()


@pytest.fixture(autouse=True)
def _fresh_state(monkeypatch):
    monkeypatch.setattr(session, "_COLD", {})
    monkeypatch.setattr(session, "_KEPT", {})
    monkeypatch.setattr(session, "_memo_app", None)
    monkeypatch.setattr(session, "_unstaged", False)


def test_stage_passes_eager_through():
    df = _Frame()
    assert stage(df) is not df
    assert stage(df, eager=True) is not df
    assert df.checkpoints == [False, True]


def test_unstaged_stage_returns_its_input():
    df = _Frame()
    with unstaged():
        assert stage(df) is df
        assert stage(df, eager=True) is df
    assert df.checkpoints == []
    assert stage(df) is not df


def test_unstaged_memo_skips_cold_frames_but_serves_scalars():
    spark = _Session()
    staged = memo(spark, ("kmeans_cells", "sf", 16), lambda: (_Frame(), _Frame()), cold=True)
    choice = memo(spark, ("chosen_banding", "sf"), lambda: (8, 2), cold=True)
    table = _Frame()
    memo(spark, ("table", "sf", "docs"), lambda: table, cold=False)
    with unstaged():
        raw = memo(spark, ("kmeans_cells", "sf", 16), lambda: (_Frame(), _Frame()), cold=True)
        assert raw is not staged
        fresh = memo(spark, ("trigram_sets", "sf"), _Frame, cold=True)
        assert memo(spark, ("trigram_sets", "sf"), _Frame, cold=True) is not fresh
        assert memo(spark, ("chosen_banding", "sf"), lambda: (1, 1), cold=True) == choice
        pct = memo(spark, ("tuning_sample_pct", "sf"), lambda: 40, cold=True)
        assert memo(spark, ("table", "sf", "docs"), _Frame, cold=False) is table
    assert pct == 40
    assert memo(spark, ("kmeans_cells", "sf", 16), lambda: None, cold=True) is staged
    assert ("app-1", "trigram_sets", "sf") not in session._COLD
    assert session._COLD[("app-1", "tuning_sample_pct", "sf")] == 40


def test_unstaged_restores_state_after_an_exception():
    df = _Frame()
    with pytest.raises(RuntimeError):
        with unstaged():
            raise RuntimeError("gate failed")
    assert stage(df) is not df
    with unstaged():
        with unstaged():
            pass
        assert stage(df) is df
    assert df.checkpoints == [False]


# -- one staging call -------------------------------------------------------

# The checkpoints that are not lineage staging: each reads back or pins
# data for its own reason, so `unstaged()` must not turn it off.
_DIRECT_CHECKPOINTS = {
    ("session.py", "stage"): "the one staging call",
    ("streaming/runners.py", "run_to_memory"): (
        "memory-sink read-back: the query's result, before its table is dropped"
    ),
    ("streaming/runners.py", "run_many_to_memory"): (
        "memory-sink read-backs, before their tables are dropped"
    ),
    ("streaming/ops.py", "str_restart_continuation"): (
        "memory-sink read-back of the restarted run, before its table is dropped"
    ),
    ("operators/relational2.py", "bloom_join_result"): (
        "materialized while its join confs are set; they are restored after"
    ),
    ("operators/relational2.py", "cbo_join_result"): (
        "materialized while the CBO confs are set; they are restored after"
    ),
    ("streaming/ops.py", "compact_closed"): (
        "pinned before the write: the write targets the dir the lineage reads"
    ),
    ("streaming/ops.py", "str_mor_stream_restart"): (
        "the pre-replay snapshot, compared with the state after the replay"
    ),
}


def test_local_checkpoint_only_in_stage_and_listed_sites():
    sites = _sites(r"\.localCheckpoint\(")
    assert set(sites) == set(_DIRECT_CHECKPOINTS)
    assert sites.pop(("session.py", "stage")) == 1


def test_no_function_takes_a_stage_parameter():
    found = []
    for base, _, files in os.walk(PKG):
        for name in files:
            if name.endswith(".py"):
                path = os.path.join(base, name)
                for n in ast.walk(ast.parse(open(path).read())):
                    if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef)):
                        a = n.args
                        args = a.posonlyargs + a.args + a.kwonlyargs
                        if any(x.arg == "stage" for x in args):
                            found.append((os.path.relpath(path, PKG), n.name))
    assert found == []


def test_no_caller_passes_stage():
    rx = r"\bstage=(True|False)\b"
    assert _sites(rx) == {}
    assert _sites(rx, os.path.join(ROOT, "tests")) == {}
    assert _sites(rx, os.path.join(ROOT, "tools")) == {}
