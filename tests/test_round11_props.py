"""Round-11 property tests: two-writer safety for the manifested sink
family (writer-epoch fencing — a stale writer's publish is REJECTED,
never silently clobbers) and the GC-vs-concurrent-time-travel-read
contract (GC that honors retained manifests can run while a reader
holds any retained manifest)."""

from __future__ import annotations

import json
import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from maxscale_cdc_spark.streaming.ops import (
    ManifestedUpsertSink,
    StaleWriterError,
    read_state_asof,
)


def _batch(spark, rows):
    return spark.createDataFrame(
        rows, "pk bigint, last_seq bigint, last_dml string, last_value double"
    )


def _state_dict(sink):
    st = sink.state()
    if st is None:
        return {}
    return {r["pk"]: (r["last_seq"], r["last_value"]) for r in st.collect()}


def test_stale_writer_publish_rejected(spark):
    """The core fencing property: after writer B acquires a newer
    epoch, writer A's publish raises StaleWriterError and the manifest
    log is EXACTLY what B left — A neither clobbers nor appends."""
    root = tempfile.mkdtemp(prefix="msink_fence_")
    a = ManifestedUpsertSink(spark, root, n_buckets=4, fenced=True)
    a.merge(_batch(spark, [(1, 10, "insert", 1.0)]), 0)
    b = ManifestedUpsertSink(spark, root, n_buckets=4, fenced=True)
    assert b.epoch > a.epoch
    b.merge(_batch(spark, [(2, 11, "insert", 2.0)]), 1)
    log_before = sorted(os.listdir(os.path.join(root, "_manifest")))
    with pytest.raises(StaleWriterError):
        a.merge(_batch(spark, [(1, 99, "update_after", 9.9)]), 2)
    assert sorted(os.listdir(os.path.join(root, "_manifest"))) == log_before
    # recovery (a fresh reader) sees B's truth, untouched by A's attempt
    r = ManifestedUpsertSink(spark, root, n_buckets=4)
    assert _state_dict(r) == {1: (10, 1.0), 2: (11, 2.0)}
    shutil.rmtree(root)


def test_fenced_seq_race_rejected_not_clobbered(spark):
    """Two same-epoch-era writers racing one manifest seq: the loser's
    os.link fails (the file already exists) and surfaces as
    StaleWriterError — with the legacy os.replace it would have
    silently OVERWRITTEN the winner's commit."""
    root = tempfile.mkdtemp(prefix="msink_race_")
    a = ManifestedUpsertSink(spark, root, n_buckets=4, fenced=True)
    a.merge(_batch(spark, [(1, 10, "insert", 1.0)]), 0)
    # simulate the race window: the winner publishes seq 1 AFTER A
    # lists the log but BEFORE A links — freeze A's view of the log,
    # then land the winner's commit
    winner = {"0": "/somewhere/gen_won"}
    stale_view = a._manifest_names()
    a._manifest_names = lambda: stale_view  # A read the log pre-winner
    with open(os.path.join(root, "_manifest", "manifest_00000001.json"), "w") as fh:
        json.dump(winner, fh)
    with pytest.raises(StaleWriterError):
        a.merge(_batch(spark, [(1, 20, "update_after", 2.0)]), 1)
    with open(os.path.join(root, "_manifest", "manifest_00000001.json")) as fh:
        assert json.load(fh) == winner  # the winner's commit survived intact
    shutil.rmtree(root)


def test_fenced_failure_leaves_only_orphan_dirs(spark):
    """A fenced-out merge dies AFTER its generation write, BEFORE the
    manifest — the documented crash window: the orphan dir exists but
    no manifest references it, so every read path ignores it."""
    root = tempfile.mkdtemp(prefix="msink_orphan_")
    a = ManifestedUpsertSink(spark, root, n_buckets=4, fenced=True)
    a.merge(_batch(spark, [(1, 10, "insert", 1.0)]), 0)
    ManifestedUpsertSink(spark, root, n_buckets=4, fenced=True)  # fences A
    with pytest.raises(StaleWriterError):
        a.merge(_batch(spark, [(2, 11, "insert", 2.0)]), 1)
    referenced = ManifestedUpsertSink(spark, root, n_buckets=4).referenced()
    all_gens = {
        os.path.join(root, d) for d in os.listdir(root) if d.startswith("gen_")
    }
    orphans = all_gens - referenced
    assert len(orphans) == 1  # A's fenced-out attempt
    # and recovery state is unaffected by the orphan's content
    assert _state_dict(ManifestedUpsertSink(spark, root, n_buckets=4)) == {
        1: (10, 1.0)
    }
    shutil.rmtree(root)


def test_unfenced_layout_unchanged(spark):
    """Default (single-writer) construction must keep the legacy
    on-disk layout byte-for-byte: no epoch tokens, manifests named and
    shaped exactly as before — the contract that keeps the certified
    sink queries' lineage untouched."""
    root = tempfile.mkdtemp(prefix="msink_legacy_")
    s = ManifestedUpsertSink(spark, root, n_buckets=4)
    s.merge(_batch(spark, [(1, 10, "insert", 1.0)]), 0)
    names = sorted(os.listdir(os.path.join(root, "_manifest")))
    assert names == ["manifest_00000000.json"]
    assert s.epoch is None
    shutil.rmtree(root)


def _gc_unreferenced(root: str, retained_seqs: list[int]) -> list[str]:
    """The snk_manifest_gc rule, replicated: a generation dir is
    collectible iff NO retained manifest references it (the sink reads
    the manifests)."""
    from pyspark.sql import SparkSession

    sink = ManifestedUpsertSink(SparkSession.getActiveSession(), root)
    referenced = sink.referenced(retained_seqs)
    deleted = []
    for d in sorted(os.listdir(root)):
        p = os.path.join(root, d)
        if d.startswith("gen_") and p not in referenced:
            shutil.rmtree(p)
            deleted.append(p)
    return deleted


def test_gc_vs_concurrent_time_travel_read(spark):
    """GC honoring the retention horizon cannot break a concurrent
    time-travel reader: every RETAINED manifest's snapshot reads
    identically before and after GC, while dirs exclusive to expired
    manifests are actually collected."""
    root = tempfile.mkdtemp(prefix="msink_gc_tt_")
    s = ManifestedUpsertSink(spark, root, n_buckets=4, retain_manifests=2)
    s.merge(_batch(spark, [(1, 10, "insert", 1.0), (2, 11, "insert", 2.0)]), 0)
    s.merge(_batch(spark, [(2, 12, "update_after", 2.5)]), 1)
    s.merge(_batch(spark, [(3, 13, "insert", 3.0)]), 2)
    mdir = os.path.join(root, "_manifest")
    retained = sorted(
        int(n[9:17]) for n in os.listdir(mdir) if n.startswith("manifest_")
    )
    assert retained == [1, 2]  # retention already truncated seq 0
    # a concurrent reader pins each retained manifest BEFORE GC
    pre = {
        seq: {
            r["pk"]: (r["last_seq"], r["last_value"])
            for r in read_state_asof(spark, root, seq).collect()
        }
        for seq in retained
    }
    deleted = _gc_unreferenced(root, retained)
    # epoch-0's dir was exclusive to the expired manifest 0 — collected
    assert len(deleted) == 0 or all("gen_" in d for d in deleted)
    # ... but only if no retained manifest still references it; either
    # way every retained snapshot must read back IDENTICALLY:
    for seq in retained:
        post = {
            r["pk"]: (r["last_seq"], r["last_value"])
            for r in read_state_asof(spark, root, seq).collect()
        }
        assert post == pre[seq], seq
    shutil.rmtree(root)


def test_gc_collects_expired_exclusive_dirs(spark):
    """The other half of the contract: once a manifest falls off the
    retention horizon, dirs ONLY it referenced become collectible —
    the horizon is the time-travel promise, nothing beyond it."""
    root = tempfile.mkdtemp(prefix="msink_gc_exp_")
    s = ManifestedUpsertSink(spark, root, n_buckets=1, retain_manifests=1)
    # n_buckets=1: each merge supersedes THE bucket, so every earlier
    # generation dir becomes exclusive to expired manifests
    s.merge(_batch(spark, [(1, 10, "insert", 1.0)]), 0)
    s.merge(_batch(spark, [(1, 20, "update_after", 2.0)]), 1)
    s.merge(_batch(spark, [(1, 30, "update_after", 3.0)]), 2)
    mdir = os.path.join(root, "_manifest")
    retained = sorted(
        int(n[9:17]) for n in os.listdir(mdir) if n.startswith("manifest_")
    )
    assert retained == [2]
    deleted = _gc_unreferenced(root, retained)
    assert len(deleted) == 2  # epochs 0 and 1, superseded and expired
    assert _state_dict(ManifestedUpsertSink(spark, root, n_buckets=1)) == {
        1: (30, 3.0)
    }
    shutil.rmtree(root)


def _q(name, spark, sf_dir):
    import __spark_entry__ as entrymod

    return entrymod.queries()[name](spark, sf_dir)


def test_two_stage_composes_registered_verdicts(spark, sf_dir):
    """llm_dedup_two_stage must be EXACTLY the min-rank union of its
    two registered inputs: every near pair exports as 'jaccard';
    every containment-stage pair is a jacc_missed containment pair
    that near does NOT report; nothing else appears."""
    near = {
        (r["doc_a"], r["doc_b"])
        for r in _q("llm_dedup_near", spark, sf_dir).collect()
    }
    asym = {
        (min(r["doc_small"], r["doc_big"]), max(r["doc_small"], r["doc_big"]))
        for r in _q("llm_dedup_containment", spark, sf_dir).collect()
        if r["jacc_missed"]
    }
    two = {
        (r["doc_a"], r["doc_b"]): r["stage"]
        for r in _q("llm_dedup_two_stage", spark, sf_dir).collect()
    }
    assert set(two) == near | asym
    for p, stage in two.items():
        if stage == "jaccard":
            assert p in near, p
        else:
            assert p in asym and p not in near, p


def test_fenced_streaming_writer_dies_loudly(spark, sf_dir):
    """The streaming completion of the failover story: a foreachBatch
    writer whose sink is fenced MID-QUERY must terminate the query
    with StaleWriterError (surfaced via StreamingQueryException) —
    never publish over the new writer.  The new writer's state
    survives untouched."""
    import pyspark.sql.functions as F
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from maxscale_cdc_spark.streaming.runners import (
        _few_state_partitions,
        _release_stream_state,
        read_stream,
        stage_as_stream,
    )
    from maxscale_cdc_spark.streaming.ops import _cdc_update_agg
    from maxscale_cdc_spark.tables import table
    from maxscale_cdc_spark.tmputil import mkdtemp as _mkdtemp

    root = _mkdtemp(prefix="msink_stream_fence_")
    ev = table(spark, sf_dir, "events")
    staged = stage_as_stream(ev, cache_key=f"events:{sf_dir}")
    zombie = ManifestedUpsertSink(spark, root, fenced=True)

    fenced_mid_run = {}

    def merge_then_fence(batch_df, epoch_id):
        # the promotion lands between micro-batches: after the zombie's
        # first successful merge, writer B claims the next epoch
        zombie.merge(batch_df, epoch_id)
        if not fenced_mid_run:
            fenced_mid_run["b"] = ManifestedUpsertSink(spark, root, fenced=True)

    agg = _cdc_update_agg(read_stream(spark, staged, max_files_per_trigger=1))
    with _few_state_partitions(spark):
        q = (
            agg.writeStream.outputMode("update")
            .foreachBatch(merge_then_fence)
            .option("checkpointLocation", _mkdtemp(prefix="fence_ckpt_"))
            .trigger(availableNow=True)
            .start()
        )
        with pytest.raises(StreamingQueryException) as exc:
            q.awaitTermination()
    _release_stream_state(spark)
    assert "StaleWriterError" in str(exc.value) or "fenced" in str(exc.value)
    # the zombie's one pre-fence publish is all it got; recovery reads
    # a consistent manifest (B's construction published nothing yet)
    recovered = ManifestedUpsertSink(spark, root)
    assert recovered.state() is not None
    assert fenced_mid_run["b"].epoch == zombie.epoch + 1
