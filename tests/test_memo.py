"""`session.memo`, the one memo behind every cached build, on a stub
session (no JVM), and a source scan that pins it as the only one."""

from __future__ import annotations

import os
import re

import pytest

from maxscale_cdc_spark import session
from maxscale_cdc_spark.session import memo, reset_family_caches
from tests.test_kernels import PKG, _sites

ROOT = os.path.dirname(PKG)


class _Context:
    def __init__(self, app: str):
        self.app = app
        self.reads = 0

    @property
    def applicationId(self) -> str:
        self.reads += 1
        return self.app


class _Session:
    def __init__(self, app: str = "app-1"):
        self.sparkContext = _Context(app)


@pytest.fixture(autouse=True)
def _fresh_memo(monkeypatch):
    """Run each test on empty memo dicts; the real ones (the Tier-1
    session's entries) come back afterwards."""
    monkeypatch.setattr(session, "_COLD", {})
    monkeypatch.setattr(session, "_KEPT", {})
    monkeypatch.setattr(session, "_memo_app", None)


def _counting():
    """A build returning a fresh object, and the list of its calls."""
    calls = []

    def build():
        calls.append(1)
        return object()

    return build, calls


def test_hit_returns_same_object_with_one_id_read_per_call():
    spark = _Session()
    build, calls = _counting()
    first = memo(spark, ("table", "sf", "events"), build, cold=False)
    reads = spark.sparkContext.reads
    assert memo(spark, ("table", "sf", "events"), build, cold=False) is first
    assert len(calls) == 1
    assert spark.sparkContext.reads - reads == 1
    assert memo(spark, ("table", "sf", "orders"), build, cold=False) is not first


def test_new_application_id_misses_and_drops_old_entries():
    spark = _Session("app-1")
    build, calls = _counting()
    old = memo(spark, ("kmeans_cells", "sf", 16), build, cold=True)
    memo(spark, ("avro", "sf"), build, cold=False)
    spark.sparkContext.app = "app-2"
    new = memo(spark, ("kmeans_cells", "sf", 16), build, cold=True)
    assert new is not old and len(calls) == 3
    assert list(session._COLD) == [("app-2", "kmeans_cells", "sf", 16)]
    assert session._KEPT == {}


def test_reset_drops_only_cold_entries():
    spark = _Session()
    build, calls = _counting()
    lineage = memo(spark, ("shingle_classes", "sf"), build, cold=True)
    spool = memo(spark, ("avro", "sf"), build, cold=False)
    scan = memo(spark, ("table", "sf", "documents"), build, cold=False)
    reset_family_caches()
    assert memo(spark, ("avro", "sf"), build, cold=False) is spool
    assert memo(spark, ("table", "sf", "documents"), build, cold=False) is scan
    assert len(calls) == 3
    assert memo(spark, ("shingle_classes", "sf"), build, cold=True) is not lineage
    assert len(calls) == 4


def test_raising_build_stores_nothing():
    spark = _Session()

    def boom():
        raise RuntimeError("build failed")

    with pytest.raises(RuntimeError):
        memo(spark, ("chosen_banding", "sf"), boom, cold=True)
    assert session._COLD == {}
    assert memo(spark, ("chosen_banding", "sf"), lambda: (8, 2), cold=True) == (8, 2)


def test_nested_memo_inside_build():
    spark = _Session()
    inner_build, inner_calls = _counting()

    def outer_build():
        return ("curve", memo(spark, ("trigram_sets", "sf"), inner_build, cold=True))

    outer = memo(spark, ("chosen_banding", "sf"), outer_build, cold=True)
    assert memo(spark, ("chosen_banding", "sf"), outer_build, cold=True) is outer
    assert outer[1] is memo(spark, ("trigram_sets", "sf"), inner_build, cold=True)
    assert len(inner_calls) == 1
    assert set(session._COLD) == {
        ("app-1", "chosen_banding", "sf"),
        ("app-1", "trigram_sets", "sf"),
    }


# -- one memo ---------------------------------------------------------------

_GONE = r"\b(register_family_cache|prune_dead_cache_entries|session_cache_key|FAMILY_CACHES)\b"


def test_no_module_level_cache_dict():
    assert _sites(r"(?m)^_\w*_CACHE\b") == {}


def test_removed_cache_helpers_stay_gone():
    assert _sites(_GONE) == {}
    here = os.path.basename(__file__)
    tests = _sites(_GONE, os.path.join(ROOT, "tests"))
    assert {path for path, _ in tests} <= {here}
    assert _sites(_GONE, os.path.join(ROOT, "tools")) == {}
    with open(os.path.join(ROOT, "bench.py")) as fh:
        assert not re.search(_GONE, fh.read())


def test_application_id_read_only_by_the_memo():
    assert _sites(r"\.applicationId\b") == {("session.py", "memo"): 1}
