"""Benchmark harness: run every registered query at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and print ONE
compact JSON line (the LAST stdout line): {"metric": ..., "value":
total_sec, "unit": "sec", "queries": {...}, "sf": ...}.

The per-query timing dict is also written to BENCH_DETAIL.json next to
this file, so the summary survives even if a log collector truncates the
long stdout line (round-1 lesson: a ~3.5 KB line got tail-truncated and
the driver recorded parsed:null).

Each query materializes fully through the `noop` sink (forces every
operator to execute; no output-write cost).  Set BENCH_QUERIES=a,b,c to
bench a subset; BENCH_REPEAT=n to take the min of n runs (use 3 when
recording baselines — host load makes single runs vary 94-157s on
identical code); BENCH_COLD=1 to drop the family compute lineage (the
`cold=True` entries of session.memo) before every attempt
(cache-honest per-query floors);
BENCH_ISOLATE=a,b,c to run each listed id in its own fresh process
(suite-order-immune floors — the mover adjudicator; see
_run_isolated).  Shuffle partitions are pinned by session.get_spark()
so runs compare like with like.
"""

from __future__ import annotations

import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)


# module-level import: PEP 563 turns the warm-UDF's `pd.Series` hints
# into strings that pyspark resolves against MODULE globals
import pandas as pd  # noqa: E402


def _warm_udf():
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def warm(v: pd.Series) -> pd.Series:
        return v * 1.0

    return warm


def _detail_path(mode: str | None) -> str:
    """BENCH_DETAIL.json is the full-suite record of the driver's run —
    subset (BENCH_QUERIES) and isolated (BENCH_ISOLATE) runs must NOT
    clobber it (VERDICT r13 #1: a 4-query spot-check destroyed the
    driver's 407-query detail, and the r12-era committed detail file
    turned out to be a 9-query isolated run).  Mode-suffixed files keep
    every instrument's last record side by side.  Full-suite runs at a
    non-default core count get their own file too (VERDICT r14 #7: the
    driver's 8-core scaling run clobbered the 32-core per-query
    detail) — main() passes mode "c8" for BENCH_DETAIL-c8.json next to
    BENCH_DETAIL.json."""
    name = f"BENCH_DETAIL-{mode}.json" if mode else "BENCH_DETAIL.json"
    return os.path.join(HERE, name)


def _run_isolated(ids: list[str]) -> None:
    """BENCH_ISOLATE mode: run each listed id in a FRESH PROCESS (own
    JVM + Spark session), so suite-order residue — state-store
    providers, block-manager pressure, JIT profile pollution — cannot
    move its number.  This is the one-env-var replacement for the
    manual re-measurement of apparent movers (r11: 7 of 7 >1.5x
    'regressions' reverted under isolation).  Each child pays its own
    session warmup in SETUP (excluded from the per-query timing, as in
    suite mode), honors BENCH_REPEAT/BENCH_COLD, and reports through
    the same BENCH_DETAIL.json contract; the parent merges children
    into one detail file with "isolated": true."""
    import subprocess

    timings: dict[str, float] = {}
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").split("sf")[-1]
    for qid in ids:
        env = dict(os.environ)
        env.pop("BENCH_ISOLATE", None)
        env["BENCH_QUERIES"] = qid
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__)],
            env=env,
            capture_output=True,
            text=True,
        )
        sys.stderr.write(proc.stderr)
        ok = False
        if proc.returncode == 0:
            for line in reversed(proc.stdout.strip().splitlines()):
                try:
                    payload = json.loads(line)
                except json.JSONDecodeError:
                    continue
                if qid in payload.get("queries", {}):
                    timings[qid] = payload["queries"][qid]
                    ok = True
                break
        if not ok:
            print(f"  {qid}: ISOLATED RUN FAILED", file=sys.stderr)
            # None (JSON null), never float('nan'): json.dump emits bare
            # NaN which strict parsers — including this function's own
            # suite-mode re-parse — reject (ADVICE r12).
            timings[qid] = None
        else:
            print(f"  {qid}: {timings[qid]:.3f}s (isolated)", file=sys.stderr)
    total = round(sum(v for v in timings.values() if v is not None), 3)
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    detail = {
        "metric": "total_wall_sec_isolated_queries",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf_val,
        "repeat": int(os.environ.get("BENCH_REPEAT", "1")),
        "cold": os.environ.get("BENCH_COLD", "0") == "1",
        "isolated": True,
        "n_queries": len(timings),
    }
    with open(_detail_path("isolated"), "w") as f:
        json.dump(detail, f, indent=1, sort_keys=True)
    print(
        json.dumps(
            {
                "metric": "total_wall_sec_isolated_queries",
                "value": total,
                "unit": "sec",
                "sf": sf_val,
                "n_queries": len(timings),
                "queries": timings,
                "detail": "BENCH_DETAIL-isolated.json",
            }
        )
    )
    sys.stdout.flush()


def warm_session(spark, sf_dir: str) -> None:
    """The bench warmup block, callable by the profiling/experiment
    tools so they measure against the SAME warm state as the bench
    (tools/tail_experiment.py etc.).  Body unchanged from the inline
    block it replaces; the timed region in main() is untouched."""
    # Warm the session: JVM JIT + whole-stage-codegen compile paths +
    # parquet footers.  The round-3 lesson: a tiny region-count warmup
    # leaves ~6 s of one-time compile cost to be absorbed by whichever
    # query runs first (tpch_q1 measured 7.6 s cold vs 1.2 s warm on
    # identical code).  One small representative query per major shape
    # (scan+decimal agg, higher-order array fns + explode + keyed agg,
    # window) moves that cost to setup where it belongs.
    from pyspark.sql import Window as _W
    from pyspark.sql import functions as _F

    _li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    _li.filter(_F.col("l_shipdate") > "1995-01-01").groupBy("l_returnflag").agg(
        _F.sum(_F.col("l_quantity").cast("decimal(18,4)")),
        _F.count("*"),
    ).collect()
    _doc = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(2000)
    _w = _F.split("text", " ")
    _doc.select("doc_id", _F.explode(_F.array_distinct(_w)).alias("t")).groupBy(
        "t"
    ).count().orderBy(_F.desc("count")).limit(5).collect()
    # Shingle-expression warmup: the n-gram builders (sequence +
    # transform + element_at + concat_ws) are the heaviest per-row
    # expressions in the suite, and the corpus has FEW rows — cold,
    # the generated code never reaches JIT thresholds inside one query
    # (measured: the same shingle pipeline 24-130 s cold vs 6.6 s warm).
    # One pass here JIT-compiles the shared UTF8String/array machinery
    # every llm_* shingle query reuses.
    _seq = _F.sequence(_F.lit(1), _F.greatest(_F.size(_w) - 4, _F.lit(0)))
    _gram5 = _F.transform(
        _seq,
        lambda i: _F.concat_ws(
            " ", *[_F.element_at(_w, i + k) for k in range(5)]
        ),
    )
    _doc.select(
        "doc_id", _F.explode(_F.array_distinct(_gram5)).alias("g")
    ).groupBy("g").count().orderBy(_F.desc("count")).limit(5).collect()
    _li.limit(5000).select(
        "l_orderkey",
        _F.row_number()
        .over(_W.partitionBy("l_returnflag").orderBy("l_orderkey"))
        .alias("rn"),
    ).filter(_F.col("rn") == 1).collect()
    # Arrow/pandas-UDF path: the first pandas_udf call pays the Python
    # worker pool + Arrow serializer spin-up (~2 s); warm it with a
    # 100-row batch so udf_* queries measure the operator, not the pool.
    # Spread over core-count partitions: a single-partition warmup
    # starts ONE worker, and the first wide mapInPandas stage then
    # forks the other ~31 inside its own timing (r14 profile: 28-task
    # Python stages with ~1 s/task wall at ~0.05 s/task CPU).
    (
        _li.limit(3200)
        .repartition(spark.sparkContext.defaultParallelism)
        .select(_warm_udf()(_F.col("l_quantity").cast("double")))
        .collect()
    )
    # Collation machinery: the first UNICODE_CI/UTF8_LCASE expression
    # in a JVM initializes the ICU collation tables — measured charged
    # to fn_collation as 14.8-48.9 s in-suite on a cold host vs a
    # 0.7-5 s isolated floor.  Two-row warmup absorbs it in setup.
    spark.sql(
        "SELECT count(DISTINCT collate(c, 'UNICODE_CI')), "
        "count(DISTINCT collate(c, 'UTF8_LCASE')) "
        "FROM VALUES ('a'), ('A') t(c)"
    ).collect()
    # Vector + staging shapes (round 4b): md5-over-array transforms
    # (minhash signatures), zip_with folds (kmeans/PQ distances), and
    # one localCheckpoint round-trip (block-manager first-touch) — the
    # three machineries the retrieval/semdedup/minhash queries hit.
    _emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(500)
    _v = _F.col("embedding").cast("array<double>")
    _staged = _emb.select(
        "vec_id",
        _F.array_min(_F.transform(_v, lambda x: _F.md5(x.cast("string")))).alias("m"),
        _F.aggregate(
            _F.zip_with(_v, _v, lambda a, b: (a - b) * (a - b)),
            _F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("d"),
    ).localCheckpoint(eager=False)
    _staged.groupBy().count().collect()
    # Python-DataSource worker pools (Spark 4 DSv2-in-Python): the
    # batch/stream write workers (write_into_data_source), the
    # driver-side DS planner workers and the DS read partition workers
    # run in their OWN worker-module pools — the pandas-UDF warmup
    # never touches them (PythonWorkerFactory pools are keyed by worker
    # module), so the first pyds query paid the fork+import of a whole
    # pool inside its own timing (r15 profile: snk_pyds_writer
    # first-run 7.1 s warm-session vs 3.4 s with warm pools at an
    # unchanged ~1.8 s min-of-3 floor; the suite runs repeat=1, so the
    # driver bench always pays first-run cost).  Warm both halves with
    # FIXTURE-FREE micro-jobs (nothing the queries read is
    # precomputed): an n-partition two-phase-commit write, and a
    # 2-line wire-spool availableNow read through a stateful
    # complete-mode aggregate — the latter also pulls the one-time
    # streaming machinery (MicroBatchExecution, state-store provider,
    # memory sink) into setup, where the round-3 warmup rationale says
    # one-time machinery belongs.
    from maxscale_cdc_spark.sources.cdc_datasource import (
        SOURCE_NAME as _CDC_DS,
        register as _reg_cdc_ds,
    )
    from maxscale_cdc_spark.sources.manifest_sink_ds import (
        register as _reg_sink_ds,
    )
    from maxscale_cdc_spark.streaming.runners import (
        run_bounded as _run_bounded,
        run_to_memory as _rtm,
    )
    from maxscale_cdc_spark.tmputil import mkdtemp as _mkdtemp

    _reg_sink_ds(spark)
    _reg_cdc_ds(spark)
    _n = spark.sparkContext.defaultParallelism
    _wdir = _mkdtemp(prefix="bench_warm_pyds_sink_")
    (
        spark.range(_n)
        .repartition(_n)
        .write.format("manifest_parquet")
        .option("path", _wdir)
        .mode("append")
        .save()
    )
    _sdir = _mkdtemp(prefix="bench_warm_pyds_src_")
    with open(os.path.join(_sdir, "w.txt"), "w") as _fh:
        for _i in (1, 2):
            _fh.write(
                '{"domain":0,"server_id":1,"sequence":%d,"event_number":1,'
                '"timestamp":0,"event_type":"insert","table_name":"warm",'
                '"table_schema":"warm","pk":%d}\n' % (_i, _i)
            )
    _warm_stream = (
        spark.readStream.format(_CDC_DS)
        .option("path", _sdir)
        .option("database", "warm")
        .option("table", "warm")
        .load()
    )
    _rtm(_warm_stream.groupBy("event_type").count(), "complete")
    # … and the STREAMING half of the DSv2 write path: per-epoch
    # commits run through a dedicated driver-side Python stream-writer
    # runner that the batch write above does not start (measured:
    # str_pyds_stream_writer first-run 8.7 s vs a 4.5 s warm floor
    # with only the batch-write warmup).
    _run_bounded(
        _warm_stream.writeStream.format("manifest_parquet").option(
            "path", _mkdtemp(prefix="bench_warm_pyds_ssink_")
        )
    )


def main() -> None:
    isolate = os.environ.get("BENCH_ISOLATE")
    if isolate:
        _run_isolated([n for n in isolate.split(",") if n])
        return
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").split("sf")[-1]

    from maxscale_cdc_spark.session import get_spark

    spark = get_spark("maxscale-cdc-spark-bench")

    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    only = os.environ.get("BENCH_QUERIES")
    if only:
        names = [n for n in only.split(",") if n in qs]
    else:
        # Streaming / sink / Python-DataSource queries run LAST: they
        # spin up state stores, checkpoint dirs and streaming-specific
        # session machinery whose residue taxes whatever runs after them
        # in a shared session (round-3 driver bench: unchanged tpch_q3 /
        # tpch_q10 measured 6-9x slower purely from running after the
        # alphabetically-earlier str_* suite).  Batch queries first,
        # stream-lifecycle queries at the end.
        def _is_stream_lifecycle(n: str) -> bool:
            return n.startswith(("str_", "snk_", "src_cdc", "src_tcp"))

        names = sorted(qs, key=lambda n: (_is_stream_lifecycle(n), n))
    repeat = int(os.environ.get("BENCH_REPEAT", "1"))

    warm_session(spark, sf_dir)

    from maxscale_cdc_spark.streaming.runners import _release_stream_state

    # BENCH_COLD=1 drops the cold=True session.memo entries
    # (shingle/trigram lineage, CC components, k-means chains, BPE
    # merges, chooser curve and choice) BEFORE EVERY ATTEMPT, while
    # fixture spools and scan handles stay (cold=False); min-of-N then
    # prices each query's own
    # lineage instead of a suite-amortized floor (the r10 instrument
    # finding: llm_banding_recall_curve recorded 0.02 s warm vs 12.2 s
    # in the driver's cold sequential run).  JVM/JIT/parquet-footer
    # warmth is deliberately kept — that is legitimate steady-state.
    cold = os.environ.get("BENCH_COLD", "0") == "1"
    from maxscale_cdc_spark.session import reset_family_caches

    timings: dict[str, float] = {}
    for name in names:
        best = float("inf")
        for _ in range(repeat):
            if cold:
                reset_family_caches()
            t0 = time.perf_counter()
            df = qs[name](spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            best = min(best, time.perf_counter() - t0)
        timings[name] = round(best, 3)
        # Safety net: a query must not leak session state into the next
        # measurement — stop any streaming query it left running and
        # unload state-store providers (the runners already do this for
        # the registered streaming queries; this catches everything else).
        for q in spark.streams.active:
            q.stop()
        if name.startswith(("str_", "snk_", "src_")):
            _release_stream_state(spark)
        print(f"  {name}: {timings[name]:.3f}s", file=sys.stderr)

    total = round(sum(timings.values()), 3)
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    detail = {
        "metric": "total_wall_sec_all_queries",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf_val,
        "repeat": repeat,
        "cold": cold,
        "n_queries": len(timings),
    }
    # the core count get_spark() runs on: SPARK_GRAFT_CPUS, else local[*]
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or "*"
    n_cpus = os.cpu_count() if cpus == "*" else int(cpus)
    detail_file = _detail_path(
        "subset" if only else (None if n_cpus == 32 else f"c{n_cpus}")
    )
    with open(detail_file, "w") as f:
        json.dump(detail, f, indent=1, sort_keys=True)

    # Compact summary as the LAST stdout line; keep it short enough that
    # tail-truncating log collectors still capture the whole line.  The
    # "queries" dict holds only the 10 slowest (name -> sec); the full
    # per-query dict is in the detail file.
    slowest = dict(sorted(timings.items(), key=lambda kv: -kv[1])[:10])
    print(
        json.dumps(
            {
                "metric": "total_wall_sec_all_queries",
                "value": total,
                "unit": "sec",
                "sf": sf_val,
                "n_queries": len(timings),
                "queries": slowest,
                "detail": os.path.basename(detail_file),
            }
        )
    )
    sys.stdout.flush()


if __name__ == "__main__":
    main()
