"""SparkSession factory tuned for the test/bench environment.

Local mode is a single JVM; on a real cluster the same configs apply,
with `spark.sql.shuffle.partitions` sized to ~2-3x total cores and AQE
coalescing handling the rest.  Session timezone is pinned to UTC so
timestamp semantics match the DuckDB oracle.
"""

from __future__ import annotations

import contextlib
import os
from typing import Callable, Iterator, TypeVar

from pyspark.sql import DataFrame, SparkSession

# The `file:` scheme's FileSystem and AbstractFileSystem, fork-free
# subclasses of Hadoop's local ones (source beside the jar, built by
# tools/build_localfs_jar.py).  Without the native Hadoop library the
# stock classes fork `chmod` for every file or dir they create and
# `readlink` twice per FileContext rename: ~120-150 forks per streaming
# micro-batch, which the state-store commit and the offset/commit logs
# wait on.  The jar is committed, so a checkout always has it.
LOCALFS_JAR = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "jvm", "forkfree-localfs.jar"
)


def driver_heap(mem_total_kib: int) -> tuple[str, str]:
    """(spark.driver.memory, -Xms option) for a host with `mem_total_kib`
    of RAM (/proc/meminfo MemTotal): two thirds of RAM, capped at 16g.
    -Xms is pinned to the heap only where 8 GiB still stay for the OS
    and the Python workers; elsewhere the heap starts at 2g, because a
    pinned heap the host cannot commit stops the JVM at launch (a
    15 GiB host without swap cannot start with -Xms16g)."""
    total_gib = mem_total_kib / 2**20
    heap = max(1, min(16, int(total_gib * 2 / 3)))
    xms = heap if total_gib - heap >= 8 else min(heap, 2)
    return f"{heap}g", f"-Xms{xms}g"


def _host_mem_kib() -> int:
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 64 * 2**20  # unknown host: size as a large one


def get_spark(app_name: str = "maxscale-cdc-spark") -> SparkSession:
    heap, xms = driver_heap(_host_mem_kib())
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    shuffle = os.environ.get("SPARK_SHUFFLE_PARTITIONS", "32")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", shuffle)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE's byte-based coalescing can't see per-row EXPRESSION cost:
        # at bench scale a few MB of class/candidate rows carrying
        # md5-minhash transforms or array_intersect verifies coalesce to
        # 1-3 post-shuffle partitions and the whole stage serializes on
        # one core (measured r14: the staged trigram class table
        # materialized as ONE partition, 1.8 s vs 0.3 s spread; the
        # dedup/banding heavies min-of-4 improved 13.5→10.2, 12.4→9.8,
        # 8.4→6.9 s with a 64k floor, kmeans/streaming/tail flat-to-
        # better — interleaved A/B, OPTIMIZATION_r14.md).  64k keeps
        # genuinely tiny scalar stages fully coalesced while spreading
        # KB-per-row compute stages across cores.  Scale-adaptive: at
        # production volumes every partition exceeds any floor, so the
        # floor is inert there.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", heap))
        # Pre-size the heap: in local mode the driver JVM IS the
        # cluster, and letting the heap grow from the JDK's small
        # default -Xms means the first memory-heavy query pays a
        # cascade of full GCs while the heap expands (measured: the
        # same self-join query 11-131 s cold vs 6.6 s warm).  -Xms at
        # -Xmx removes heap-growth GCs entirely (see driver_heap for
        # where the host allows it).
        .config(
            "spark.driver.extraJavaOptions",
            os.environ.get("SPARK_DRIVER_JAVA_OPTS", xms),
        )
        # the fork-free `file:` classes (LOCALFS_JAR above)
        .config("spark.driver.extraClassPath", LOCALFS_JAR)
        .config("spark.hadoop.fs.file.impl", "maxscale.cdc.fs.ForkFreeLocalFileSystem")
        .config(
            "spark.hadoop.fs.AbstractFileSystem.file.impl",
            "maxscale.cdc.fs.ForkFreeLocalFs",
        )
    )
    # A/B instrument + ops escape hatch: `SPARK_EXTRA_CONF="k=v;k2=v2"`
    # applies arbitrary conf overrides at session build.  Unset (the
    # driver default) this is a no-op, so the bench contract is
    # unchanged; it exists so config experiments (GC, codegen cache,
    # shuffle knobs) run the REAL get_spark() path instead of a
    # hand-rolled session that silently drifts from it.
    extra = os.environ.get("SPARK_EXTRA_CONF", "")
    for kv in extra.split(";"):
        if "=" in kv:
            k, _, v = kv.partition("=")
            builder = builder.config(k.strip(), v.strip())
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


# One memo for every cached build, keyed (applicationId, *key).  Keyed
# by the SparkContext applicationId, NOT id(spark): a stopped-and-GC'd
# session's id can be reused by a new SparkSession, which would return
# DataFrames bound to a dead SparkContext.  One context lives per
# process, so the first call that sees a new applicationId drops every
# entry.  Two policies, chosen per call by `cold`:
# * cold=True — compute lineage of the shared operator families (staged
#   shingle/trigram sets, CC components, k-means chains, BPE merges,
#   the chooser curve and choice).  The r10 verdict's instrument
#   finding: min-of-3 in one session amortizes these, turning the
#   per-query floor of a cached-family query into a suite floor (0.02 s
#   recorded for a 12 s query).  bench.py's BENCH_COLD=1 clears them
#   before every attempt via reset_family_caches(), so the recorded
#   floor prices each query's own lineage.
# * cold=False — immutable fixture spools, scan plan handles and catalog
#   state: setup the query does not own, kept across BENCH_COLD resets.
_COLD: dict[tuple, object] = {}
_KEPT: dict[tuple, object] = {}
_memo_app: str | None = None
_MISS = object()
T = TypeVar("T")


def memo(spark: SparkSession, key: tuple, build: Callable[[], T], *, cold: bool) -> T:
    """`build()` memoized under (applicationId, *key).  The value is
    stored only after `build()` returns (a raise stores nothing), and no
    lock is held across it: a build may call `memo` again.  Under
    `unstaged()` a `cold=True` entry holding a DataFrame is neither
    served nor stored (it would be staged lineage); scalar entries
    still are."""
    global _memo_app
    app = spark.sparkContext.applicationId
    if app != _memo_app:
        _COLD.clear()
        _KEPT.clear()
        _memo_app = app
    entries = _COLD if cold else _KEPT
    full = (app, *key)
    got = entries.get(full, _MISS)
    if got is _MISS or (cold and _unstaged and _holds_frame(got)):
        got = build()
        if not (cold and _unstaged and _holds_frame(got)):
            entries[full] = got
    return got


def reset_family_caches() -> None:
    """Drop every `cold=True` memo entry (BENCH_COLD instrument)."""
    _COLD.clear()


# The one staging call.  `localCheckpoint` cuts a lineage that is
# consumed more than once (or iterated) so it computes once; it also
# hides everything upstream behind a `Scan ExistingRDD`, which is why
# the plan gates build their frames under `unstaged()`.  The policy
# (what to stage, eager or lazy) stays at each call site — CLAUDE.md
# rule 5 and SCALING.md "Staging (localCheckpoint) is NOT free".
_unstaged = False


def stage(df: DataFrame, *, eager: bool = False) -> DataFrame:
    """`df` pinned by a local checkpoint (built now if `eager`), or `df`
    itself under `unstaged()`."""
    return df if _unstaged else df.localCheckpoint(eager=eager)


@contextlib.contextmanager
def unstaged() -> Iterator[None]:
    """Build frames with their full lineage visible: `stage` returns its
    input and `memo` skips cold DataFrame entries (a plan gate's
    switch; scalar entries such as the chosen banding still serve)."""
    global _unstaged
    prior, _unstaged = _unstaged, True
    try:
        yield
    finally:
        _unstaged = prior


def _holds_frame(value: object) -> bool:
    return isinstance(value, DataFrame) or (
        isinstance(value, tuple) and any(isinstance(v, DataFrame) for v in value)
    )


@contextlib.contextmanager
def quiet_expected_failure(spark: SparkSession):
    """Silence JVM log output around a stage that is EXPECTED to fail
    (fault-injection fixtures): executor tracebacks from the injected
    raise otherwise spray the driver/sweep logs that real failures
    must be grepped from (VERDICT r12 #3).  The exception itself still
    propagates to the caller — only the log4j noise is suppressed."""
    sc = spark.sparkContext
    # Restore the CALLER's effective root level, not a hardcoded WARN:
    # verify/bench sessions run at ERROR (the documented recipe) and a
    # WARN restore silently re-noised them after any manifest-sink
    # fixture (ADVICE r13).  Spark 4 logs through log4j2.
    try:
        prior = str(
            sc._jvm.org.apache.logging.log4j.LogManager.getRootLogger().getLevel()
        )
    except Exception:
        prior = "WARN"
    sc.setLogLevel("OFF")
    try:
        yield
    finally:
        sc.setLogLevel(prior)


def tune_for_oracle(spark: SparkSession) -> SparkSession:
    """Settings the driver-provided session needs for oracle parity.

    `nanosAsLong` lets Spark read parquet TIMESTAMP(NANOS) columns
    (events.ts) as long; the loader converts them to microsecond
    timestamps, matching DuckDB's truncation.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:
        pass
    _ship_package(spark)
    return spark


def _ship_package(spark: SparkSession) -> None:
    """Make `maxscale_cdc_spark` importable on Python workers regardless
    of the driver's cwd: UDF closures that touch module-level helpers
    are pickled by reference, so executors must be able to import the
    package.  Zipped once per SparkContext and shipped via addPyFile."""
    sc = spark.sparkContext
    if getattr(sc, "_maxscale_pkg_shipped", False):
        return
    import os
    import shutil
    import tempfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    staging = tempfile.mkdtemp(prefix="pkg_ship_")
    zip_base = os.path.join(staging, "maxscale_cdc_spark")
    shutil.copytree(pkg_dir, os.path.join(zip_base, "maxscale_cdc_spark"))
    zip_path = shutil.make_archive(zip_base, "zip", zip_base)
    sc.addPyFile(zip_path)
    sc._maxscale_pkg_shipped = True
