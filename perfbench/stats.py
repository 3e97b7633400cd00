"""Pure functions the benchmark reports and checks with.

Nothing here imports Spark, so the tests exercise this logic on tiny
inputs in milliseconds.
"""

from __future__ import annotations

import datetime
import decimal
import hashlib
import math
import statistics
from collections.abc import Iterable, Sequence

MIN_BEYOND = 10


def median(values: Sequence[float]) -> float:
    if not values:
        raise ValueError("median of no samples")
    return float(statistics.median(values))


def tail(values: Sequence[float], min_beyond: int = MIN_BEYOND) -> tuple[float, float, int]:
    """The highest percentile with at least ``min_beyond`` samples above it.

    Returns ``(value, percentile, n)``. With ``n`` sorted samples the
    value is the one at 0-based rank ``n - min_beyond - 1``, so exactly
    ``min_beyond`` samples lie beyond it, and ``percentile`` is its rank
    as a share of ``n`` in percent. When that rank would not lie above
    the median (``n <= 2 * min_beyond``) the sample supports no tail
    percentile, and the maximum is returned with percentile 100.
    """
    n = len(values)
    if n == 0:
        raise ValueError("tail of no samples")
    ordered = sorted(values)
    if n <= 2 * min_beyond:
        return float(ordered[-1]), 100.0, n
    rank = n - min_beyond - 1
    return float(ordered[rank]), 100.0 * (rank + 1) / n, n


def undisturbed(samples: Sequence, steal: Sequence[float], limit: float) -> list:
    """The samples taken while the host stole at most ``limit`` of the
    CPU time, when they are at least half of all samples; otherwise
    every sample.

    ``steal[i]`` is the share of CPU time stolen while ``samples[i]``
    ran. On a shared host a pass the host interrupts measures the other
    guests; leaving such passes out keeps a run's medians on the
    program, and keeping every sample when most were interrupted means
    a run on a busy host still reports what it measured."""
    quiet = [s for s, x in zip(samples, steal, strict=True) if x <= limit]
    return quiet if quiet and 2 * len(quiet) >= len(samples) else list(samples)


def steal_between(samples: Sequence[tuple[float, int, int]], t0: float, t1: float) -> float:
    """Share of CPU time stolen from ``t0`` to ``t1``, from
    ``(time, stolen, total)`` jiffy samples in time order: the span from
    the last sample at or before ``t0`` to the first at or after ``t1``
    (the nearest samples inside, at the ends of the record)."""
    if not samples:
        raise ValueError("no jiffy samples")
    before = [x for x in samples if x[0] <= t0] or samples[:1]
    after = [x for x in samples if x[0] >= t1] or samples[-1:]
    (_, s0, n0), (_, s1, n1) = before[-1], after[0]
    return (s1 - s0) / max(1, n1 - n0)


# --------------------------------------------------------------------------
# Stream latency attribution
# --------------------------------------------------------------------------


def completing_file(
    file_log: Sequence[dict], window: int, count: int
) -> int | None:
    """Index of the first file after which ``window`` held ``count``
    events: the file whose creation completed an emitted count.

    ``file_log`` is the generator's log in write order; each entry's
    ``windows`` maps a window start (as a string) to the cumulative
    number of events written to that window up to and including the
    file. Returns None when no file reaches the count, which means the
    sink emitted more events than were written."""
    key = str(window)
    for idx, entry in enumerate(file_log):
        if entry["windows"].get(key, 0) >= count:
            return idx
    return None


def emit_latencies(
    file_log: Sequence[dict],
    updates: Iterable[tuple[int, int, float]],
) -> list[tuple[float, float]]:
    """Event-to-emit latency of each window update.

    ``updates`` holds ``(window, sample_count, sink_return_time)`` per
    emitted line. The latency runs from the creation time of the file
    whose events completed ``sample_count`` for that window to the
    moment the sink call that wrote the line returned. Returns
    ``(created, latency)`` pairs; an update no file explains raises,
    because it means the output and the input disagree."""
    out = []
    for window, count, returned in updates:
        idx = completing_file(file_log, window, count)
        if idx is None:
            raise ValueError(f"window {window}: emitted count {count} was never written")
        created = file_log[idx]["created"]
        out.append((created, returned - created))
    return out


def backlog_rows(
    file_log: Sequence[dict], progress: Sequence[dict]
) -> list[tuple[float, int]]:
    """Rows generated but not yet processed, at each trigger's start.

    ``progress`` holds ``(start_time, rows_in_batch)`` dicts in batch
    order (``{"t": ..., "rows": ...}``). Generated rows at a trigger are
    those of files created before it started; processed rows are the
    sum over earlier batches."""
    out = []
    done = 0
    for p in progress:
        made = sum(e["events"] for e in file_log if e["created"] <= p["t"])
        out.append((p["t"], max(0, made - done)))
        done += p["rows"]
    return out


def backlog_grew(
    samples: Sequence[tuple[float, int]], t0: float, t1: float, allowance: int
) -> bool:
    """True when the backlog at the end of [t0, t1] exceeds the backlog
    at its start by more than ``allowance`` rows (compared on the
    median of each third of the interval, so one late trigger does
    not decide it)."""
    inside = [b for t, b in samples if t0 <= t <= t1]
    if len(inside) < 3:
        return False
    third = max(1, len(inside) // 3)
    return median(inside[-third:]) > median(inside[:third]) + allowance


# --------------------------------------------------------------------------
# Output comparators
# --------------------------------------------------------------------------


def normalize(value):
    """One canonical form for a Spark or DuckDB cell value: decimals as
    floats, floats rounded below any printed precision (NaN as a
    string, -0.0 as 0.0), datetimes as naive ISO strings, lists as
    tuples."""
    if isinstance(value, decimal.Decimal):
        value = float(value)
    if isinstance(value, float):
        if math.isnan(value):
            return "NaN"
        return round(value + 0.0, 9)
    if isinstance(value, datetime.datetime):
        return value.replace(tzinfo=None).isoformat()
    if isinstance(value, datetime.date):
        return value.isoformat()
    if isinstance(value, (list, tuple)):
        return tuple(normalize(v) for v in value)
    return value


def _sort_key(row: tuple) -> tuple:
    return tuple((0, "") if v is None else (1, str(v)) for v in row)


def canonical(columns: Sequence[str], rows: Iterable[Sequence]) -> tuple[list, list]:
    """Columns sorted by name and rows sorted by their normalized values,
    so two engines' results compare without regard to order."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = [tuple(normalize(r[i]) for i in order) for r in rows]
    return [columns[i] for i in order], sorted(out, key=_sort_key)


def fingerprint(columns: Sequence[str], rows: Iterable[Sequence]) -> dict:
    """Row count, sorted column names and a digest of the canonical rows."""
    cols, out = canonical(columns, rows)
    digest = hashlib.sha256(repr(out).encode("utf-8")).hexdigest()
    return {"columns": cols, "rows": len(out), "sha256": digest}


def parse_line_protocol(line: str) -> tuple[int, dict[str, float]]:
    """``measurement,tags field=v,... ts_ns`` → (ts_ns, {field: value})."""
    head, fields, ts = line.rsplit(" ", 2)
    del head
    values = {}
    for pair in fields.split(","):
        k, v = pair.split("=", 1)
        values[k] = float(v)
    return int(ts), values


def last_per_window(lines_in_order: Iterable[str]) -> dict[int, dict[str, float]]:
    """The last emitted line per window (keyed by its ns timestamp)."""
    out: dict[int, dict[str, float]] = {}
    for line in lines_in_order:
        ts, values = parse_line_protocol(line)
        out[ts] = values
    return out


def compare_windows(
    got: dict[int, dict[str, float]],
    want: dict[int, dict[str, float]],
    rel_tol: float = 1e-9,
) -> list[str]:
    """Mismatches between emitted and reference windows, one string
    each. Values match within ``rel_tol``: a stream sums a window in
    another order than a batch does, so the last bits may differ."""
    problems = []
    for ts in sorted(set(got) | set(want)):
        if ts not in got:
            problems.append(f"window {ts}: never emitted")
            continue
        if ts not in want:
            problems.append(f"window {ts}: emitted but not in the reference")
            continue
        g, w = got[ts], want[ts]
        if set(g) != set(w):
            problems.append(f"window {ts}: fields {sorted(g)} != {sorted(w)}")
            continue
        for k in sorted(w):
            if not math.isclose(g[k], w[k], rel_tol=rel_tol, abs_tol=1e-12):
                problems.append(f"window {ts}: {k} {g[k]!r} != {w[k]!r}")
    return problems


# --------------------------------------------------------------------------
# Failed-operation accounting
# --------------------------------------------------------------------------


class Outcomes:
    """Counts operations attempted and failed, keeping the first few
    failure messages for the report."""

    def __init__(self, keep: int = 20):
        self.attempted = 0
        self.failed = 0
        self.messages: list[str] = []
        self._keep = keep

    def ok(self, n: int = 1) -> None:
        self.attempted += n

    def fail(self, message: str) -> None:
        self.attempted += 1
        self.failed += 1
        if len(self.messages) < self._keep:
            self.messages.append(message)

    def check(self, passed: bool, message: str) -> bool:
        if passed:
            self.ok()
        else:
            self.fail(message)
        return passed

    @property
    def ratio(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0
