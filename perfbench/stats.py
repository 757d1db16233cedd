"""Pure accounting for the benchmark: percentiles with their sample
counts, the event -> spool file -> micro-batch mapping behind the
freshness lag, the served-state correctness gate and the steadiness
guards.  No Spark here, so the rules are unit-tested on their own
(perfbench/test_perfbench.py)."""

from __future__ import annotations

import bisect
import math
import statistics

# A percentile is reported only when at least this many samples lie
# beyond it: p90 needs 100 samples, p50 needs 20.
MIN_TAIL_SAMPLES = 10


def percentile(values: list[float], q: float) -> dict:
    """Nearest-rank q-th percentile (0 < q < 100) with its sample count.
    Raises when fewer than MIN_TAIL_SAMPLES samples lie beyond it."""
    n = len(values)
    if n * (100 - q) / 100 < MIN_TAIL_SAMPLES:
        raise ValueError(
            f"p{q:g} needs {math.ceil(MIN_TAIL_SAMPLES * 100 / (100 - q))} "
            f"samples, got {n}"
        )
    ordered = sorted(values)
    rank = max(1, math.ceil(q / 100 * n))
    return {"value": ordered[rank - 1], "n": n}


def file_of_line(line_no: int, burst_lines: int) -> int:
    """Spool file holding wire line `line_no`.  The pump appends every
    non-ERR line (the DDL line included, as line 0 of file 0) and
    flushes a file each `burst_lines` lines."""
    return line_no // burst_lines


def batch_of_file(file_no: int, batch_end_files: list[int]) -> int | None:
    """Index of the micro-batch that read spool file `file_no`, given
    each batch's end offset (files read so far, ascending, as the
    `maxscale_cdc` source reports it); None if no batch read it."""
    i = bisect.bisect_right(batch_end_files, file_no)
    return i if i < len(batch_end_files) else None


def event_lags(
    due: list[tuple[int, float]],
    burst_lines: int,
    landed: dict[int, float],
    window_close: float,
    batch_end_files: list[int],
    publish_at: list[float],
) -> list[tuple[float, int]]:
    """(freshness lag in s, batch index) of each due event: the lag runs
    from its scheduled send time to the publish of the batch that made
    it durable.

    `due` holds (wire line number, scheduled send time) per event;
    `landed` maps spool file -> time it appeared.  Events whose file had
    not landed by `window_close` were still in the pump's buffer when
    the window closed and are excluded, as are events no batch read."""
    lags = []
    for line_no, t_due in due:
        f = file_of_line(line_no, burst_lines)
        if landed.get(f, math.inf) > window_close:
            continue
        b = batch_of_file(f, batch_end_files)
        if b is None:
            continue
        lags.append((publish_at[b] - t_due, b))
    return lags


def state_mismatches(
    served: dict[int, tuple[int, float]], expected: dict[int, tuple[int, float]]
) -> list[int]:
    """Keys whose served (last_seq, value) differs from the generator's
    expected latest non-delete state, including missing and extra keys."""
    return sorted(
        k for k in served.keys() | expected.keys() if served.get(k) != expected.get(k)
    )


def drift(first: list[float], second: list[float]) -> float:
    """Median of the window's second half over its first half; 1.0 is
    steady, above 1.0 the measure rose through the window."""
    return statistics.median(second) / statistics.median(first)


def slope_per_s(points: list[tuple[float, float]]) -> float:
    """Least-squares slope of (time, value) points; 0.0 with < 2 points."""
    if len(points) < 2:
        return 0.0
    xs, ys = zip(*points)
    mx, my = statistics.fmean(xs), statistics.fmean(ys)
    den = sum((x - mx) ** 2 for x in xs)
    if den == 0:
        return 0.0
    return sum((x - mx) * (y - my) for x, y in points) / den
