"""Custom Python DataSource WRITE path (Spark 4 `pyspark.sql.datasource`
DataSourceArrowWriter) — the other half of the DSv2 Python API surface
(sources/cdc_datasource.py covers the streaming READ half).

`manifest_parquet` is a batch sink with the classic two-phase commit
file protocol, implemented entirely in the public writer API:

  write (executors)   each task streams its Arrow batches to ONE
                      HIDDEN file (".tmp-part-<uuid>.parquet", written
                      with pyarrow) and returns a commit message
                      carrying (tmp name, row count).  Hidden names
                      mean a crashed/retried task can never make rows
                      visible.
  commit (driver)     rename every tmp to its visible name, then
                      atomically publish `_manifest.json` (tmp +
                      os.replace) listing files and per-file counts —
                      the manifest IS the commit point: readers
                      resolve the file list from it, so a dir without
                      a manifest serves zero rows.
  abort (driver)      delete every tmp file — a failed job leaves the
                      directory exactly as it found it.

Readers consume the manifest's file list with the ordinary parquet
scan (`spark.read.parquet(*files)`) — commit-protocol sinks do not
need a custom read path.

Scale: one file per task (no driver data movement; commit is O(files)
renames), the same write topology as every FileFormatWriter — the
Python layer only decides names and the commit point.

IMPLEMENTATION NOTE — like cdc_datasource, the classes are built in a
factory so the pickled class graph reaching executors references no
module globals; all imports are method-local.
"""

from __future__ import annotations

SINK_NAME = "manifest_parquet"
MANIFEST = "_manifest.json"


def _build_datasource_class():
    from dataclasses import dataclass

    from pyspark.sql.datasource import (
        DataSource,
        DataSourceArrowWriter,
        WriterCommitMessage,
    )

    @dataclass
    class _FileMsg(WriterCommitMessage):
        fname: str | None
        n_rows: int

    class _TwoPhaseFiles:
        """The protocol both writers share.  Tasks write hidden tmp
        files named with this writer's id; the driver renames the
        committed ones visible and publishes a manifest, or aborts.

        Per-writer attempt id: the commit/abort sweep removes ONLY this
        writer's tmp files, so a second concurrent writer appending to
        the same path keeps its in-flight tmps (ADVICE r13).  Assigned
        on the driver; executors see the same id via the pickled
        writer.

        Abort vs. late tasks: `abort` publishes `.abort-<wid>` BEFORE
        it sweeps, and a task checks for that marker AFTER its tmp is
        on disk.  A tmp either exists when the sweep lists the
        directory, or its task sees the marker and removes it — a
        sibling task that finishes after the abort leaves no file."""

        def _init_files(self, path: str) -> None:
            import uuid

            self.path = path
            self.wid = uuid.uuid4().hex[:12]

        def _tmp_prefix(self) -> str:
            return f".tmp-{self.wid}-part-"

        def _abort_marker(self) -> str:
            import os

            return os.path.join(self.path, f".abort-{self.wid}")

        def _write_tmp(self, batches) -> "_FileMsg":  # executor-side
            import os
            import uuid

            import pyarrow as pa
            import pyarrow.parquet as pq
            from pyspark import TaskContext

            if not batches:
                return _FileMsg(None, 0)
            pid = TaskContext.get().partitionId()
            tbl = pa.Table.from_batches(batches)
            fname = f"{self._tmp_prefix()}{pid:05d}-{uuid.uuid4().hex}.parquet"
            tmp = os.path.join(self.path, fname)
            pq.write_table(tbl, tmp)
            if os.path.exists(self._abort_marker()):
                try:
                    os.remove(tmp)
                except OSError:
                    pass
            return _FileMsg(fname, tbl.num_rows)

        def _publish(self, messages, manifest: str, doc: dict) -> None:
            """Driver-side commit point: rename every committed tmp
            visible, then atomically publish `manifest` (doc + file
            list), then sweep this writer's orphans — any own-id tmp
            left is by construction uncommitted (a retried or
            speculative attempt; ADVICE r12)."""
            import json
            import os

            files = []
            for m in messages:
                if m is None or m.fname is None:
                    continue
                visible = "part-" + m.fname[len(self._tmp_prefix()) :]
                os.replace(
                    os.path.join(self.path, m.fname),
                    os.path.join(self.path, visible),
                )
                files.append({"file": visible, "n_rows": m.n_rows})
            tmp = os.path.join(self.path, f".{manifest}.tmp")
            with open(tmp, "w") as fh:
                json.dump({**doc, "files": files}, fh)
            os.replace(tmp, os.path.join(self.path, manifest))
            self._sweep_own_tmps()

        def _sweep_own_tmps(self) -> None:
            import os

            for f in os.listdir(self.path):
                if f.startswith(self._tmp_prefix()):
                    try:
                        os.remove(os.path.join(self.path, f))
                    except OSError:
                        pass

        def _abort(self) -> None:  # driver-side: leave no trace
            with open(self._abort_marker(), "w"):
                pass
            self._sweep_own_tmps()

    class ManifestParquetWriter(_TwoPhaseFiles, DataSourceArrowWriter):
        def __init__(self, path: str, inject_fail: bool) -> None:
            self._init_files(path)
            self.inject_fail = inject_fail

        def write(self, iterator):  # executor-side
            from pyspark import TaskContext

            batches = list(iterator)
            if self.inject_fail and TaskContext.get().partitionId() == 0:
                # the crash fixture: fail AFTER consuming input so the
                # abort path has real work to prove it cleans up
                raise RuntimeError("injected task failure (fixture)")
            return self._write_tmp(batches)

        def commit(self, messages):  # driver-side: the commit point
            self._publish(messages, MANIFEST, {})

        def abort(self, messages):
            self._abort()

    from pyspark.sql.datasource import DataSourceStreamArrowWriter

    class ManifestParquetStreamWriter(_TwoPhaseFiles, DataSourceStreamArrowWriter):
        """The streaming twin: one manifest PER EPOCH
        (`_manifest-<batchId>.json`), each published atomically at
        commit(batchId) — committed epochs stay readable across a
        failure, the failing epoch is invisible, and a retried epoch
        re-publishes its manifest so only ITS files are referenced
        (orphaned tmp data from the failed attempt is never resolved
        by a reader) — exactly-once visibility from at-least-once
        execution.  One writer id per streaming query run; its epochs
        are sequential, so the sweep after an epoch's renames only
        removes residue of a failed prior attempt."""

        def __init__(self, path: str, fail_epoch: int | None) -> None:
            self._init_files(path)
            self.fail_epoch = fail_epoch

        def write(self, iterator):  # executor-side, same as batch
            return self._write_tmp(list(iterator))

        def commit(self, messages, batchId: int) -> None:
            if self.fail_epoch is not None and batchId == self.fail_epoch:
                # crash fixture: die BETWEEN write and manifest publish
                # (the worst spot — data written, commit point not)
                raise RuntimeError(
                    f"injected commit failure at epoch {batchId}"
                )
            self._publish(
                messages, f"_manifest-{batchId}.json", {"epoch": batchId}
            )

        def abort(self, messages, batchId: int) -> None:
            self._abort()

    class ManifestParquetSink(DataSource):
        @classmethod
        def name(cls) -> str:
            return "manifest_parquet"

        def writer(self, schema, overwrite: bool):
            import os

            path = self.options.get("path")
            if not path:
                raise ValueError("manifest_parquet requires option 'path'")
            os.makedirs(path, exist_ok=True)
            return ManifestParquetWriter(
                path, self.options.get("inject_fail") == "1"
            )

        def streamWriter(self, schema, overwrite: bool):
            import os

            path = self.options.get("path")
            if not path:
                raise ValueError("manifest_parquet requires option 'path'")
            os.makedirs(path, exist_ok=True)
            fe = self.options.get("fail_epoch")
            return ManifestParquetStreamWriter(
                path, int(fe) if fe is not None else None
            )

    return ManifestParquetSink


def register(spark) -> None:
    """Idempotently register the sink with a SparkSession."""
    spark.dataSource.register(_build_datasource_class())


def read_committed(spark, path: str):
    """Resolve the manifest's file list and scan it with the ordinary
    parquet reader; a directory without a manifest serves NOTHING
    (the commit-point contract)."""
    import json
    import os

    mpath = os.path.join(path, MANIFEST)
    if not os.path.exists(mpath):
        return None
    with open(mpath) as fh:
        man = json.load(fh)
    files = [os.path.join(path, f["file"]) for f in man["files"]]
    if not files:
        return None
    return spark.read.parquet(*files), man


def read_committed_epochs(spark, path: str):
    """Union every epoch manifest's file list (the streaming sink's
    read path): only files a committed epoch references are served —
    orphans from failed attempts are invisible.  Returns
    (DataFrame | None, manifests sorted by epoch)."""
    import json
    import os
    import re

    mans = []
    for f in sorted(os.listdir(path)):
        if re.fullmatch(r"_manifest-(\d+)\.json", f):
            with open(os.path.join(path, f)) as fh:
                mans.append(json.load(fh))
    mans.sort(key=lambda m: m["epoch"])
    files = [
        os.path.join(path, e["file"]) for m in mans for e in m["files"]
    ]
    if not files:
        return None, mans
    return spark.read.parquet(*files), mans
