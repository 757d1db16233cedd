"""Spans and process-tree resource sampling for one run.

Spans are recorded from the benchmark's own files around the calls it
makes into each layer of the package; nothing inside the package is
instrumented.  They stay in memory and are summarised when the run
ends.  With tracing off, `span()` records nothing.  Span times are
wall-clock (time.time()), the clock spool-file mtimes and the stream's
progress reports use too.
"""

from __future__ import annotations

import contextlib
import os
import threading
import time
import uuid


class Tracer:
    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex[:12]
        # (name, start, end, parent index or None, run id)
        self.spans: list[tuple[str, float, float, int | None, str]] = []
        self._stack: list[int] = []
        self.own_s = 0.0  # time spent in the tracer's own bookkeeping

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        c0 = time.perf_counter()
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append((name, 0.0, 0.0, parent, self.run_id))
        self._stack.append(idx)
        self.own_s += time.perf_counter() - c0
        start = time.time()
        try:
            yield
        finally:
            end = time.time()
            c1 = time.perf_counter()
            self._stack.pop()
            self.spans[idx] = (name, start, end, parent, self.run_id)
            self.own_s += time.perf_counter() - c1

    def add(self, name: str, start: float, end: float, parent: int | None) -> int:
        """Record a span timed elsewhere (e.g. from a progress report)."""
        if not self.enabled:
            return -1
        self.spans.append((name, start, end, parent, self.run_id))
        return len(self.spans) - 1

    def coverage(self, root: str) -> float:
        """Share of the root span's wall that its child spans explain."""
        r = next(i for i, sp in enumerate(self.spans) if sp[0] == root)
        _, s, e, _, _ = self.spans[r]
        covered = sum(se - ss for _, ss, se, p, _ in self.spans if p == r)
        return covered / (e - s)


_TICK_S = 1.0 / os.sysconf("SC_CLK_TCK")
_PAGE_B = os.sysconf("SC_PAGE_SIZE")


def _pss_bytes(pid: int, rss_b: int) -> int:
    """Proportional set size: a page shared by n processes counts 1/n
    here, so forked Python workers do not count their parent's pages
    again.  Falls back to RSS where smaps_rollup is unreadable."""
    try:
        with open(f"/proc/{pid}/smaps_rollup", "rb") as fh:
            for line in fh:
                if line.startswith(b"Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return rss_b


def _exe(pid: int) -> str:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return ""


_PF_FORKNOEXEC = 0x40  # kernel task flag: forked, has not exec'd yet


def _jvm_fork(flags: int, ppid: int) -> bool:
    """A JVM child that has not exec'd yet is the JVM starting a helper
    (a Python worker, chmod); it shares the JVM's memory, and counting
    it would count the JVM twice."""
    return bool(flags & _PF_FORKNOEXEC) and _exe(ppid).endswith("/java")


def _proc_table() -> dict[int, tuple[int, float, int, str, int]]:
    """pid -> (ppid, cpu seconds, rss bytes, command name, task flags)
    for every visible process."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", "rb") as fh:
                raw = fh.read()
        except OSError:
            continue  # exited while listing
        f = raw[raw.rindex(b")") + 2 :].split()
        # after "pid (comm) ": state=0 ppid=1 flags=6 utime=11 stime=12 rss=21
        comm = raw[raw.index(b"(") + 1 : raw.rindex(b")")].decode(errors="replace")
        out[int(d)] = (int(f[1]), (int(f[11]) + int(f[12])) * _TICK_S, int(f[21]) * _PAGE_B, comm, int(f[6]))
    return out


def _host_ticks() -> list[int]:
    """user, nice, system, idle, iowait, irq, softirq, steal: the
    aggregate `cpu` line of /proc/stat without guest time, which user
    time already includes."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


class ProcTree:
    """Samples CPU time and resident memory (summed PSS) of this process
    and all its descendants (the Spark JVM and its Python workers) every
    `period_s`."""

    def __init__(self, period_s: float = 0.1) -> None:
        self.root = os.getpid()
        self.period_s = period_s
        self.peak_rss_b = 0
        self.peak_by_pid: dict[str, int] = {}  # "pid comm" -> MB at the peak
        self.last_cpu: dict[int, float] = {}
        self._mark: dict[int, float] = {}
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _sample(self) -> None:
        table = _proc_table()
        kids: dict[int, list[int]] = {}
        for pid, (ppid, *_) in table.items():
            kids.setdefault(ppid, []).append(pid)
        tree, todo = [], [self.root]
        while todo:
            pid = todo.pop()
            if pid in table:
                tree.append(pid)
                todo.extend(kids.get(pid, ()))
        mem = {p: _pss_bytes(p, table[p][2]) for p in tree if not _jvm_fork(table[p][4], table[p][0])}
        with self._lock:
            for pid in tree:
                self.last_cpu[pid] = table[pid][1]
            if sum(mem.values()) > self.peak_rss_b:
                self.peak_rss_b = sum(mem.values())
                self.peak_by_pid = {f"{p} {table[p][3]}": round(b / 2**20) for p, b in mem.items()}

    def _loop(self) -> None:
        while not self._stop.wait(self.period_s):
            self._sample()

    def mark(self) -> None:
        """Start a CPU measurement window."""
        self._sample()
        with self._lock:
            self._mark = dict(self.last_cpu)
        self._stat_mark = _host_ticks()

    def steal_ratio(self) -> float:
        """Share of the host's CPU time since `mark()` that the
        hypervisor gave to other guests: high steal means a noisy run."""
        now = _host_ticks()
        total = sum(now) - sum(self._stat_mark)
        return (now[7] - self._stat_mark[7]) / total if total else 0.0

    def cpu_s(self) -> float:
        """CPU seconds the tree used since `mark()`; a process that
        exited counts up to its last sample."""
        self._sample()
        with self._lock:
            return sum(c - self._mark.get(p, 0.0) for p, c in self.last_cpu.items())

    def close(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
