"""Fresh-process per-query profiler (guide §1/§7).

Runs ONE registered query in its own Spark session with the UI enabled,
executes it through the noop sink exactly like bench.py, then reports:

  * wall seconds (same timed region as bench.py)
  * QueryExecution phase times (analysis / optimization / planning)
  * per-job and per-stage wall, task counts, executorRunTime vs
    executorCpuTime (UI REST API), sorted by stage wall
  * the number of jobs (driver-sequenced job count is the tail killer)

Usage:  python tools/profile_query.py <query_id> [sf_dir]
Env:    PROFILE_REPEAT=n (default 1, report each attempt),
        PROFILE_COLD=1 (clear family caches before each attempt).
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)


def main() -> None:
    qid = sys.argv[1]
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    os.environ.setdefault("SPARK_GRAFT_SF_DIR", sf_dir)

    # The bench session with the UI on (its REST API is read below).
    os.environ["SPARK_EXTRA_CONF"] = ";".join(
        kv
        for kv in (
            os.environ.get("SPARK_EXTRA_CONF", ""),
            "spark.ui.enabled=true",
            f"spark.ui.port={os.environ.get('SPARK_UI_PORT', '4040')}",
        )
        if kv
    )
    from maxscale_cdc_spark.session import get_spark

    spark = get_spark("profiler")

    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    fn = qs[qid]

    if os.environ.get("PROFILE_WARM", "1") == "1":
        import bench

        bench.warm_session(spark, sf_dir)

    repeat = int(os.environ.get("PROFILE_REPEAT", "1"))
    cold = os.environ.get("PROFILE_COLD", "0") == "1"
    from maxscale_cdc_spark.session import reset_family_caches

    ui = f"http://localhost:{spark.sparkContext.uiWebUrl.rsplit(':', 1)[1]}"
    app_id = spark.sparkContext.applicationId

    def rest(path: str):
        with urllib.request.urlopen(f"{ui}/api/v1/applications/{app_id}{path}") as r:
            return json.load(r)

    for attempt in range(repeat):
        if cold:
            reset_family_caches()
        jobs_before = {j["jobId"] for j in rest("/jobs")}
        t0 = time.perf_counter()
        df = fn(spark, sf_dir)
        t_build = time.perf_counter() - t0
        df.write.format("noop").mode("overwrite").save()
        wall = time.perf_counter() - t0
        print(f"\n=== {qid} attempt {attempt}: wall {wall:.3f}s "
              f"(build {t_build:.3f}s) ===")

        # phase times of the final plan
        try:
            tracker = df._jdf.queryExecution().tracker()
            phases = tracker.phases()
            for ph in ["analysis", "optimization", "planning"]:
                try:
                    span = phases.get(ph).get()
                    ms = span.endTimeMs() - span.startTimeMs()
                    print(f"  phase {ph}: {ms} ms")
                except Exception:
                    pass
        except Exception as exc:
            print(f"  (phase probe failed: {exc})")

        jobs = [j for j in rest("/jobs") if j["jobId"] not in jobs_before]
        jobs.sort(key=lambda j: j["jobId"])
        print(f"  jobs this attempt: {len(jobs)}")
        total_job_wall = 0.0
        stage_rows = []
        for j in jobs:
            try:
                from datetime import datetime

                fmt = "%Y-%m-%dT%H:%M:%S.%fGMT"
                dur = (
                    datetime.strptime(j["completionTime"], fmt)
                    - datetime.strptime(j["submissionTime"], fmt)
                ).total_seconds()
            except Exception:
                dur = 0.0
            total_job_wall += dur
        print(f"  sum of job walls: {total_job_wall:.3f}s")
        for st in rest("/stages?status=complete"):
            stage_rows.append(
                (
                    st.get("executorRunTime", 0),
                    st.get("executorCpuTime", 0) / 1e6,
                    st.get("numCompleteTasks", 0),
                    st["stageId"],
                    (st.get("description") or st.get("name", ""))[:90],
                )
            )
        stage_rows.sort(reverse=True)
        print("  top stages by executorRunTime (runMs, cpuMs, tasks, id, name):")
        for run, cpu, ntask, sid, name in stage_rows[:15]:
            print(f"    {run:>8} {cpu:>10.0f} {ntask:>5} {sid:>5}  {name}")


if __name__ == "__main__":
    main()
