"""One measured run of one workload, in a fresh process.

Started by run.py, which sets the environment, owns the work directory
and prints the result.  This process starts the Spark session, makes
the inputs from the seed, warms up, measures one window, checks the
outputs and writes a result JSON to --out.

    cdc_tail     transport -> spool -> maxscale_cdc stream -> max_by
                 latest state -> merge, behind a server sending at a
                 fixed rate
    query_light  a recorded list of light registered batch queries,
                 closed loop, one client
"""

from __future__ import annotations

import argparse
import ast
import inspect
import json
import math
import os
import random
import statistics
import sys
import time
from datetime import datetime

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import gen  # noqa: E402
import stats  # noqa: E402
import wire  # noqa: E402
from spans import ProcTree, Tracer  # noqa: E402

N_KEYS = 50_000
# Open-loop tail rate: the stream is 35-50 % busy at 2 000 ev/s on a
# 4-core host; at 4 000 ev/s batches coalesce and lag drifts (README).
TAIL_RATE = 2_000
TAIL_MIN_WARM_S = 5.0
QUERY_SCALE = 0.01
MIN_QUERY_SAMPLES = 100  # p90 needs 100 samples (stats.MIN_TAIL_SAMPLES)

# The recorded light-query mix; README.md gives the selection rule.
LIGHT_QUERIES = [
    "cdc_gtid", "fn_bitwise", "fn_date", "fn_json", "fn_map", "fn_math",
    "fn_string", "rel_filter", "rel_histogram", "rel_join_anti",
    "rel_project", "rel_sort_limit", "src_parquet_scan",
]


def _burst_lines() -> int:
    """The pump's default flush size; the lag mapping follows it."""
    from maxscale_cdc_spark.sources.transport import CDCTransport

    return inspect.signature(CDCTransport.request_data).parameters["burst_lines"].default


def _next_job_id(spark) -> int:
    return int(spark.sparkContext._jsc.sc().dagScheduler().nextJobId())


def _median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


class Run:
    """What one process measures: clocks, tracer, process tree."""

    def __init__(self, args) -> None:
        self.t_start = time.time()
        self.args = args
        self.work = os.getcwd()
        self.tracer = Tracer(bool(args.trace))
        self.proc = ProcTree()
        self.layer: dict[str, float] = {}
        self.detail: dict = {"workload": args.workload, "seed": args.seed}
        self.attempted = 0
        self.failed = 0
        self.spark = None

    def start_session(self) -> None:
        from maxscale_cdc_spark.session import get_spark

        t0 = time.time()
        self.spark = get_spark("perfbench")
        self.spark.sparkContext.setLogLevel("ERROR")
        self.layer["session.start_s"] = time.time() - t0
        self.phase("session")

    def phase(self, name: str) -> None:
        """Note when a phase of the run ended (seconds since start)."""
        self.detail.setdefault("timeline", {})[name] = round(time.time() - self.t_start, 3)

    def path(self, name: str) -> str:
        return os.path.join(self.work, name)


# -- the CDC path ----------------------------------------------------------


def _offset_files(off) -> int:
    """`files` of a maxscale_cdc offset; progress reports carry it as a
    JSON string or as a Python dict literal."""
    if isinstance(off, str):
        try:
            off = json.loads(off)
        except ValueError:
            off = ast.literal_eval(off)
    return int(off["files"])


def _epoch_s(iso: str) -> float:
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


class CdcPipeline:
    """transport -> spool -> `maxscale_cdc` stream (schema from the spool)
    -> update-mode max_by latest state -> foreachBatch
    ManifestedUpsertSink.merge, as the package composes it."""

    def __init__(self, run: Run, tag: str) -> None:
        from maxscale_cdc_spark.streaming.ops import ManifestedUpsertSink

        self.run = run
        self.spark = run.spark
        self.spool = run.path(f"{tag}_spool")
        self.ckpt = run.path(f"{tag}_ckpt")
        self.sink_root = run.path(f"{tag}_sink")
        self.sink = ManifestedUpsertSink(self.spark, self.sink_root)
        self.published: dict[int, tuple[float, float]] = {}  # batch -> merge start, end
        self.merge_jobs: dict[int, int] = {}  # batch -> Spark jobs (traced)
        self.transport = None
        self.query = None

    def connect(self, server: wire.WireServer) -> None:
        from maxscale_cdc_spark.sources.transport import CDCTransport

        self.transport = CDCTransport(server.address, wire.USER, wire.PASSWORD, wire.CLIENT_UUID)
        self.transport.request_data(gen.DATABASE, gen.TABLE, spool_dir=self.spool)

    def _publish(self, batch_df, epoch_id: int) -> None:
        traced = self.run.tracer.enabled
        j0 = _next_job_id(self.spark) if traced else 0
        t0 = time.time()
        self.sink.merge(batch_df, epoch_id)
        t1 = time.time()
        self.published[epoch_id] = (t0, t1)
        if traced:
            self.merge_jobs[epoch_id] = _next_job_id(self.spark) - j0

    def start(self):
        from pyspark.sql import functions as F

        from maxscale_cdc_spark.sources.cdc_datasource import SOURCE_NAME, register
        from maxscale_cdc_spark.streaming.runners import _few_state_partitions

        register(self.spark)
        src = (
            self.spark.readStream.format(SOURCE_NAME)
            .option("path", self.spool)
            .option("database", gen.DATABASE)
            .option("table", gen.TABLE)
            .option("schemaFromSpool", "true")
            .load()
        )
        # total order within a GTID: an update's after-image follows its
        # before-image (event_number 2 > 1)
        order = F.col("sequence") * 4 + F.col("event_number")
        latest = src.groupBy("pk").agg(
            F.max("sequence").alias("last_seq"),
            F.max_by("event_type", order).alias("last_dml"),
            F.max_by("value", order).alias("last_value"),
        )
        writer = (
            latest.writeStream.outputMode("update")
            .foreachBatch(self._publish)
            .option("checkpointLocation", self.ckpt)
        )
        with _few_state_partitions(self.spark):
            self.query = writer.start()
        return self.query

    def spool_files(self) -> list[str]:
        return sorted(f for f in os.listdir(self.spool) if f.endswith(".jsonl"))

    def landed(self) -> dict[int, float]:
        """Spool file -> time it landed (the pump writes, then renames)."""
        return {
            i: os.stat(os.path.join(self.spool, f)).st_mtime
            for i, f in enumerate(self.spool_files())
        }

    def data_batches(self) -> list[dict]:
        """Progress reports of batches that read input, by batch id."""
        out = []
        for p in self.query.recentProgress:
            if p["numInputRows"] > 0:
                out.append(
                    {
                        "id": p["batchId"],
                        "rows": p["numInputRows"],
                        "end_files": _offset_files(p["sources"][0]["endOffset"]),
                        "start": _epoch_s(p["timestamp"]),
                        "durations": dict(p["durationMs"]),
                        "state": dict(p["stateOperators"][0]) if p["stateOperators"] else {},
                    }
                )
        return sorted(out, key=lambda b: b["id"])

    def check(self, expected: dict[int, tuple[int, float]]) -> None:
        """Correctness gate: the served state must equal the generator's
        expected latest non-delete state; each wrong key is a failure."""
        from pyspark.sql import functions as F

        t0 = time.time()
        state = self.sink.state()
        pdf = (
            state.filter(F.col("last_dml") != "delete")
            .select("pk", "last_seq", "last_value")
            .toPandas()
        )
        self.run.layer["sink.serve_read_ms"] = (time.time() - t0) * 1000
        served = dict(zip(pdf["pk"].tolist(), zip(pdf["last_seq"].tolist(), pdf["last_value"].tolist())))
        bad = stats.state_mismatches(served, expected)
        self.run.failed += len(bad)
        if bad:
            self.run.detail.setdefault("mismatched_keys", []).extend(bad[:10])

    def layer_report(self, batches: list[dict]) -> None:
        """Traced run only: the per-layer record of the sink, the stream
        and the source over `batches`, read from outside after the
        window."""
        import pyarrow.parquet as pq

        lay = self.run.layer
        ids = {b["id"] for b in batches}
        n_events = sum(b["rows"] for b in batches)
        lay["sink.merge_ms"] = _median((e - s) * 1000 for i, (s, e) in self.published.items() if i in ids)
        lay["sink.jobs_per_merge"] = _median(j for i, j in self.merge_jobs.items() if i in ids)
        rows = size = 0
        for d in os.listdir(self.sink_root):
            # generation dirs are gen_<batch id>_<attempt>
            if not d.startswith("gen_") or int(d.split("_")[1]) not in ids:
                continue
            for dirpath, _, files in os.walk(os.path.join(self.sink_root, d)):
                for f in files:
                    if f.endswith(".parquet"):
                        p = os.path.join(dirpath, f)
                        rows += pq.ParquetFile(p).metadata.num_rows
                        size += os.path.getsize(p)
        lay["sink.rows_rewritten_per_event"] = rows / n_events
        lay["sink.bytes_written_per_event"] = size / n_events
        lay["stream.batches"] = len(batches)
        for k in ("queryPlanning", "addBatch", "walCommit", "commitOffsets", "latestOffset", "triggerExecution"):
            lay[f"stream.{k}_ms"] = _median(b["durations"].get(k, 0) for b in batches)
        st = batches[-1]["state"] if batches else {}
        lay["stream.state_rows"] = st.get("numRowsTotal", 0)
        lay["stream.state_mem_mb"] = st.get("memoryUsedBytes", 0) / 2**20
        lay["pump.events"] = self.transport.events_pumped
        lay["pump.files"] = len(self.spool_files())
        self._decode_probe()

    def _decode_probe(self) -> None:
        """The source reader alone, driven through its public
        DataSource API over this run's spool, outside Spark."""
        from maxscale_cdc_spark.sources.cdc_datasource import build_cdc_datasource

        ds = build_cdc_datasource()(
            {"path": self.spool, "database": gen.DATABASE, "table": gen.TABLE, "schemaFromSpool": "true"}
        )
        reader = ds.streamReader(None)
        lat = []
        for _ in range(5):
            t0 = time.perf_counter()
            end = reader.latestOffset()
            lat.append(time.perf_counter() - t0)
        self.run.layer["ds.latest_offset_ms"] = _median(lat) * 1000
        t0 = time.perf_counter()
        rows = sum(
            b.num_rows for p in reader.partitions(reader.initialOffset(), end) for b in reader.read(p)
        )
        dt = time.perf_counter() - t0
        self.run.layer["ds.decode_ms_per_kevent"] = dt * 1000 / (rows / 1000)
        self.run.detail["ds.decoded_rows"] = rows

    def stop(self) -> None:
        from maxscale_cdc_spark.streaming.runners import _release_stream_state

        if self.query is not None:
            self.query.stop()
        _release_stream_state(self.spark)


def _pct_ms(run: Run, name: str, seconds: list[float], q: float) -> float:
    """q-th percentile of `seconds` in ms; the detail record keeps it
    with its sample count."""
    p = stats.percentile(seconds, q)
    run.detail.setdefault("percentiles", {})[name] = {"value": p["value"] * 1000, "n": p["n"]}
    return p["value"] * 1000


def _lag_record(run: Run, lags: list[float]) -> dict:
    run.layer["latency.samples"] = len(lags)
    return {name: _pct_ms(run, name, lags, q) for name, q in (("latency_p50_ms", 50), ("latency_p90_ms", 90))}


def _flush_wait(run: Run, due, burst: int, landed: dict[int, float], close: float) -> None:
    """Scheduled send time -> spool file landed, per event whose file
    landed by `close`."""
    waits = [
        landed[f] - t
        for line, t in due
        if landed.get(f := stats.file_of_line(line, burst), math.inf) <= close
    ]
    for q in (50, 90):
        run.layer[f"pump.flush_wait_p{q}_ms"] = _pct_ms(run, f"pump.flush_wait_p{q}_ms", waits, q)


def _tail_window_start(head_lines: int, burst: int, rate: int) -> int:
    """First paced line of the window: at least TAIL_MIN_WARM_S into the
    schedule and in the middle of a spool file, so neither window edge
    falls on a flush."""
    j = int(TAIL_MIN_WARM_S * rate)
    return j + (burst // 2 - (head_lines + j)) % burst


def run_tail(run: Run) -> dict:
    args = run.args
    burst = _burst_lines()
    rate = TAIL_RATE
    t_setup = time.time()
    log = gen.ChangeLog(N_KEYS, args.seed)
    head = [gen.ddl_line()] + log.bootstrap()
    j_w0 = _tail_window_start(len(head), burst, rate)
    n_window = rate * args.seconds
    paced = log.events(j_w0 + n_window)
    server = wire.WireServer(gen.DATABASE, gen.TABLE, head, paced, rate)
    pipe = CdcPipeline(run, "tail")
    t_pump = time.time()
    pipe.connect(server)
    _wait(lambda: len(pipe.spool_files()) >= len(head) // burst, 60, "bootstrap spool")
    run.phase("bootstrap_landed")
    pipe.start()
    # bootstrap: every key exists before the tail starts
    _wait(lambda: pipe.published, 180, "bootstrap batch")
    run.phase("bootstrap_durable")
    t0 = time.time() + 0.2
    server.begin(t0)
    w0 = server.due(j_w0)
    w1 = w0 + args.seconds
    time.sleep(max(0.0, w0 - time.time()))
    run.layer["warmup_s"] = time.time() - t_setup
    run.setup_end = time.time()
    run.proc.mark()
    time.sleep(max(0.0, w1 - time.time()))
    cpu_s = run.proc.cpu_s()
    run.layer["host.steal_ratio"] = run.proc.steal_ratio()
    server.close(timeout_s=60)
    pipe.transport.drain(30)
    pipe.transport.stop()
    pump_s = time.time() - t_pump
    pipe.query.processAllAvailable()
    batches = pipe.data_batches()
    pipe.stop()
    run.phase("drained")

    base = len(head)
    due = [(base + j, server.due(j)) for j in range(j_w0, j_w0 + n_window)]
    landed = pipe.landed()
    ends = [b["end_files"] for b in batches]
    pubs = [pipe.published[b["id"]][1] for b in batches]
    lag_batch = stats.event_lags(due, burst, landed, w1, ends, pubs)
    lags = [lag for lag, _ in lag_batch]
    pipe.check(log.expected)
    run.attempted += len(head) - 1 + len(paced)
    window = sorted({b for _, b in lag_batch})  # batches holding window events
    out = {
        "throughput_per_s": len(lags) / (max(pubs[b] for b in window) - w0),
        "cpu_ms_per_kop": cpu_s * 1000 / (n_window / 1000),
        **_lag_record(run, lags),
    }
    lay = run.layer
    # per batch: its last file landed -> batch started -> merge published
    trigger_wait = [batches[b]["start"] - landed[ends[b] - 1] for b in window]
    durable = [pubs[b] - landed[ends[b] - 1] for b in window]
    run.detail["batches"] = [
        {"rows": batches[b]["rows"], "trigger_wait_s": round(tw, 3), "durable_s": round(d, 3)}
        for b, tw, d in zip(window, trigger_wait, durable)
    ]
    half = len(window) // 2
    lay["drift.ratio"] = stats.drift(durable[:half] or durable, durable[half:])
    lay["stream.trigger_wait_ms"] = _median(trigger_wait) * 1000

    def pending(t: float) -> int:
        """Spool files landed by t but not yet made durable."""
        return sum(
            1 for f, tl in landed.items()
            if tl <= t and not ((b := stats.batch_of_file(f, ends)) is not None and pubs[b] <= t)
        )

    lay["tail.backlog_growth_files"] = pending(w1) - pending(w0)
    # a batch's own delay, not its events' mean lag: the window's first
    # batch holds only the later half of its file, so its mean lag is low
    lay["tail.lag_slope"] = stats.slope_per_s([(pubs[b], d) for b, d in zip(window, durable)])
    lay["tail.lag_rising"] = float(lay["tail.lag_slope"] > 0.05)
    in_window = [b for b in batches if w0 <= b["start"] < w1]
    lay["stream.busy_ratio"] = sum(b["durations"]["triggerExecution"] for b in in_window) / 1000 / args.seconds
    lay["gen.late_p90_ms"] = _pct_ms(run, "gen.late_p90_ms", server.late_s, 90)
    run.detail["steadiness"] = {
        k: lay[k]
        for k in ("drift.ratio", "tail.backlog_growth_files", "tail.lag_slope", "tail.lag_rising", "stream.busy_ratio", "gen.late_p90_ms")
    }
    tr = run.tracer
    if tr.enabled:
        root = tr.add("window", w0, w1, None)
        spans = []
        for b in batches:  # clipped to the window
            s = max(w0, b["start"])
            e = min(w1, b["start"] + b["durations"]["triggerExecution"] / 1000)
            if s < e:
                tr.add("stream.batch", s, e, root)
                spans.append((s, e))
        # Outside its batches the stream waits on the pump, unless a
        # landed file is still unread: that share is the trigger wait,
        # which stream.trigger_wait_ms reports per batch.
        grid = [w0 + i * 0.01 for i in range(args.seconds * 100)]
        unexplained = 0.01 * sum(
            1
            for t in grid
            if not any(s <= t < e for s, e in spans) and _unread_file(t, landed, batches)
        )
        lay["trace.coverage"] = 1 - unexplained / args.seconds
        lay["pump.s"] = pump_s
        _flush_wait(run, due, burst, landed, w1)
        pipe.layer_report([batches[b] for b in window])
        lay["traced.throughput_per_s"] = out["throughput_per_s"]
    return out


def _unread_file(t: float, landed: dict[int, float], batches: list[dict]) -> bool:
    """Had a spool file landed by t that no batch started by t reads?"""
    read = max((b["end_files"] for b in batches if b["start"] <= t), default=0)
    return any(tl <= t and f >= read for f, tl in landed.items())


def _wait(cond, timeout_s: float, what: str) -> None:
    deadline = time.time() + timeout_s
    while not cond():
        if time.time() > deadline:
            raise TimeoutError(f"timed out waiting for {what}")
        time.sleep(0.02)


# -- the light-query mix ---------------------------------------------------


def run_query_light(run: Run) -> dict:
    import duckdb

    import __spark_entry__ as entry
    from maxscale_cdc_spark.session import reset_family_caches
    from tests.oracle_harness import compare_frames

    args = run.args
    spark = run.spark
    t_setup = time.time()
    tables = run.path("tables")
    counts = gen.write_tables(tables, args.seed, QUERY_SCALE)
    qs = entry.queries()
    oracles = entry.oracle_sql()
    con = duckdb.connect()
    for name in counts:
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{tables}/{name}.parquet'")
    # untimed warm-up round: every listed query once, checked against
    # its DuckDB oracle
    for name in LIGHT_QUERIES:
        run.attempted += 1
        reset_family_caches()
        try:
            problems = compare_frames(qs[name](spark, tables).toPandas(), con.execute(oracles[name]).df())
        except Exception as exc:  # a failing query is a failed operation
            problems = [repr(exc)]
        if problems:
            run.failed += 1
            run.detail.setdefault("oracle_mismatch", {})[name] = problems[:2]
    con.close()
    # a second, unchecked round: after one round the walls still fell
    # through the window (JIT), which showed as drift
    for name in LIGHT_QUERIES:
        if name in run.detail.get("oracle_mismatch", {}):
            continue  # already failed; the loop counts it again
        reset_family_caches()
        qs[name](spark, tables).write.format("noop").mode("overwrite").save()
    run.layer["warmup_s"] = time.time() - t_setup

    tr = run.tracer
    rng = random.Random(args.seed)
    walls, builds, actions, jobs, phases = [], [], [], [], {"analysis": [], "optimization": [], "planning": []}
    per_query: dict[str, list[float]] = {}
    run.setup_end = time.time()
    run.proc.mark()
    w0 = time.time()
    probe_s = 0.0
    def more() -> bool:
        """At least `seconds`, and on until p90 has its 100 samples;
        a loop that cannot get them ends at 6x `seconds`."""
        elapsed = time.time() - w0
        return elapsed < args.seconds or (len(walls) < MIN_QUERY_SAMPLES and elapsed < 6 * args.seconds)

    with tr.span("window"):
        while more():
            order = list(LIGHT_QUERIES)
            rng.shuffle(order)
            for name in order:
                if not more():
                    break
                run.attempted += 1
                reset_family_caches()
                with tr.span("query"):
                    j0 = _next_job_id(spark) if tr.enabled else 0
                    t0 = time.time()
                    probe = 0.0
                    try:
                        with tr.span("query.build"):
                            df = qs[name](spark, tables)
                        t1 = time.time()
                        if tr.enabled:
                            p0 = time.time()
                            qe = df._jdf.queryExecution()
                            qe.executedPlan()
                            ph = qe.tracker().phases()
                            for k in phases:
                                if ph.contains(k):
                                    phases[k].append(ph.apply(k).durationMs())
                            probe = time.time() - p0
                        with tr.span("query.action"):
                            df.write.format("noop").mode("overwrite").save()
                    except Exception as exc:  # counted, the loop goes on
                        run.failed += 1
                        run.detail.setdefault("query_errors", {})[name] = repr(exc)[:200]
                        continue
                    t2 = time.time()
                    if tr.enabled:
                        jobs.append(_next_job_id(spark) - j0)
                probe_s += probe
                walls.append(t2 - t0)
                per_query.setdefault(name, []).append(t2 - t0)
                builds.append(t1 - t0)
                actions.append(t2 - t1 - probe)
    w1 = time.time()
    cpu_s = run.proc.cpu_s()
    run.layer["host.steal_ratio"] = run.proc.steal_ratio()
    n = len(walls)
    out = {
        "throughput_per_s": n / (w1 - w0),
        "cpu_ms_per_kop": cpu_s * 1000 / (n / 1000),
        **_lag_record(run, walls),
    }
    half = n // 2
    run.layer["drift.ratio"] = stats.drift(walls[:half], walls[half:])
    run.detail["steadiness"] = {"drift.ratio": run.layer["drift.ratio"]}
    run.detail["query_median_ms"] = {k: round(_median(v) * 1000, 1) for k, v in sorted(per_query.items())}
    if tr.enabled:
        run.layer["query.build_ms"] = _median(builds) * 1000
        run.layer["query.action_ms"] = _median(actions) * 1000
        run.layer["query.jobs"] = statistics.fmean(jobs)
        for k, v in phases.items():
            run.layer[f"query.{k}_ms"] = _median(v)
        run.layer["trace.coverage"] = tr.coverage("window")
        run.layer["traced.throughput_per_s"] = out["throughput_per_s"]
        run.detail["probe_s"] = probe_s
    return out


WORKLOADS = {"cdc_tail": run_tail, "query_light": run_query_light}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    run = Run(args)
    try:
        run.start_session()
        e2e = WORKLOADS[args.workload](run)
        e2e["setup_s"] = run.setup_end - run.t_start
        e2e["rss_peak_mb"] = run.proc.peak_rss_b / 2**20
        run.detail["rss_peak_by_pid_mb"] = run.proc.peak_by_pid
        run.layer["error_rate"] = run.failed / run.attempted
        run.layer["trace.overhead_ms"] = (run.tracer.own_s + run.detail.get("probe_s", 0.0)) * 1000
        result = {
            "attempted": run.attempted,
            "failed": run.failed,
            "e2e": e2e,
            "layer": run.layer,
            "detail": run.detail,
            "spans": len(run.tracer.spans),
        }
        with open(args.out, "w") as fh:
            json.dump(result, fh)
    finally:
        run.proc.close()
        if run.spark is not None:
            run.spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
