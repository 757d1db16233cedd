"""Tail fixed-cost experiment (guide §1, VERDICT r14 ask #2).

Runs a list of queries ONCE each (the suite's cost model: every plan is
first-seen) in one warm session — same get_spark() + same bench warmup
— and reports per-query wall plus the JVM codegen-compiler counters
(janino compile count / time, generated bytecode bytes) so the split
between "codegen compile" and "everything else" is measurable.

Usage:
    TAIL_QUERIES=a,b,c python tools/tail_experiment.py
Env:
    SPARK_EXTRA_CONF="k=v;k2=v2"  — conf overrides to A/B
"""

from __future__ import annotations

import json
import os
import sys
import time

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)


def codegen_stats(spark):
    src = getattr(
        getattr(spark._jvm.org.apache.spark.metrics.source, "CodegenMetrics$"),
        "MODULE$",
    )
    hist_t = src.METRIC_COMPILATION_TIME()
    return {
        "compile_count": hist_t.getCount(),
        "compile_ms_mean": hist_t.getSnapshot().getMean(),
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from maxscale_cdc_spark.session import get_spark

    spark = get_spark("tail-experiment")

    import bench
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    spec = os.environ.get("TAIL_QUERIES", "")
    names = [n for n in spec.split(",") if n in qs]
    if not names:
        raise SystemExit(f"no valid TAIL_QUERIES given: {spec!r}")

    bench.warm_session(spark, sf_dir)

    cg0 = codegen_stats(spark)
    t_all0 = time.perf_counter()
    rows = []
    for name in names:
        c0 = codegen_stats(spark)
        t0 = time.perf_counter()
        df = qs[name](spark, sf_dir)
        t_build = time.perf_counter() - t0
        df.write.format("noop").mode("overwrite").save()
        wall = time.perf_counter() - t0
        c1 = codegen_stats(spark)
        rows.append(
            {
                "q": name,
                "wall": round(wall, 3),
                "build": round(t_build, 3),
                "compiles": c1["compile_count"] - c0["compile_count"],
            }
        )
        print(
            f"  {name}: {wall:.3f}s (build {t_build:.3f}s, "
            f"{rows[-1]['compiles']} compiles)",
            file=sys.stderr,
        )
    total = time.perf_counter() - t_all0
    cg1 = codegen_stats(spark)
    n_compiles = cg1["compile_count"] - cg0["compile_count"]
    # mean is over the whole app; approximate total compile ms by mean *
    # count at the end (reservoir-sampled — indicative, not exact)
    print(
        json.dumps(
            {
                "total_sec": round(total, 3),
                "n_queries": len(names),
                "sum_build": round(sum(r["build"] for r in rows), 3),
                "sum_wall": round(sum(r["wall"] for r in rows), 3),
                "n_compiles": n_compiles,
                "approx_compile_ms_mean": round(cg1["compile_ms_mean"], 2),
                "approx_compile_total_ms": round(
                    cg1["compile_ms_mean"] * n_compiles, 0
                ),
                "per_query": rows,
            }
        )
    )


if __name__ == "__main__":
    main()
