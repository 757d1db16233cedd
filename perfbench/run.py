"""Benchmark command: one run of one workload.

    python3 perfbench/run.py --workload cdc_tail --seed 1 --seconds 10 --trace 0

Run from the repository root.  Sets the environment the run needs,
starts the workload in a fresh Python process (perfbench/workloads.py)
inside a private work directory, waits for it and every process it
started, deletes the work directory and prints, as the last line of
standard output, one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are BENCHMARK.json's end_to_end metrics,
with --trace 1 its per_layer metrics.  A run whose outputs fail the
correctness checks prints correct=false and exits 1; a run that cannot
start (for instance without the package next to it) exits 2 and
prints no result.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("cdc_tail", "query_light")
DRIVER_MEMORY = "2g"
CHILD_TIMEOUT_S = 150


def _group_alive(pgid: int) -> list[int]:
    alive = []
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                if os.getpgid(int(d)) == pgid:
                    alive.append(int(d))
            except OSError:
                pass
    return alive


def _reap_group(pgid: int) -> None:
    """Wait for every process of the run's group (the JVM outlives its
    Python parent briefly); kill what is left after a grace period."""
    deadline = time.time() + 15
    while _group_alive(pgid) and time.time() < deadline:
        time.sleep(0.1)
    if _group_alive(pgid):
        try:
            os.killpg(pgid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        deadline = time.time() + 10
        while _group_alive(pgid) and time.time() < deadline:
            time.sleep(0.1)


def child_env(work: str) -> dict[str, str]:
    """The session default heap (16g, pinned by -Xms) does not fit a
    15 GiB host; one core stays free for the generator and the pump."""
    env = dict(os.environ)
    slots = max(1, len(os.sched_getaffinity(0)) - 1)
    env.update(
        SPARK_DRIVER_MEMORY=DRIVER_MEMORY,
        # the heap is touched up front, so resident memory does not
        # depend on which heap regions the collector happened to use
        SPARK_DRIVER_JAVA_OPTS=f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch",
        # every JVM's scratch files, crash logs included, stay in `work`;
        # this also reaches the launcher JVM that spark-submit starts first
        JAVA_TOOL_OPTIONS=(
            f"-Djava.io.tmpdir={work}/tmp -XX:ErrorFile={work}/hs_err_pid%p.log -XX:-UsePerfData"
        ),
        SPARK_GRAFT_CPUS=str(slots),
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        SPARK_EXTRA_CONF="spark.ui.showConsoleProgress=false",
        TMPDIR=os.path.join(work, "tmp"),
        PYTHONDONTWRITEBYTECODE="1",
        PYSPARK_PYTHON=sys.executable,
    )
    return env


def result_line(res: dict, spec: dict, trace: int) -> dict:
    """The printed result: every metric BENCHMARK.json names for this
    mode.  Layers a workload does not touch read 0."""
    if trace:
        metrics = {m["name"]: {"value": float(res["layer"].get(m["name"], 0.0)), "unit": m["unit"]} for m in spec["per_layer"]}
    else:
        metrics = {m["name"]: {"value": float(res["e2e"][m["name"]]), "unit": m["unit"]} for m in spec["end_to_end"]}
    return {
        "correct": res["failed"] == 0,
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": metrics,
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated run still stops its processes and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isfile(os.path.join(ROOT, "maxscale_cdc_spark", "__init__.py")):
        print(f"perfbench: no maxscale_cdc_spark package under {ROOT}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)

    parent = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(parent, f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "result.json")
    cmd = [
        sys.executable, os.path.join(HERE, "workloads.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace), "--out", out,
    ]
    child = None
    try:
        # the child's own output (Spark logs) goes to stderr, so the
        # result is the last line of stdout
        child = subprocess.Popen(cmd, cwd=work, env=child_env(work), stdout=sys.stderr, start_new_session=True)
        try:
            rc = child.wait(CHILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(child.pid, signal.SIGKILL)
            rc = child.wait()
        if rc != 0 or not os.path.exists(out):
            print(f"perfbench: workload process exited {rc}", file=sys.stderr)
            return 2
        with open(out) as fh:
            res = json.load(fh)
    finally:
        if child is not None:
            if child.poll() is None:
                os.killpg(child.pid, signal.SIGKILL)
                child.wait()
            _reap_group(child.pid)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(parent)
        except OSError:
            pass  # another run still uses it
    print(json.dumps({"detail": res["detail"], "layer": res["layer"], "e2e": res["e2e"]}))
    line = result_line(res, spec, args.trace)
    print(json.dumps(line))
    return 0 if line["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
