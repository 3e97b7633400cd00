"""Spans and counters for the traced run, recorded from outside the program.

Every measurement here wraps a public call into a layer or reads what
Spark already publishes (the status tracker, the local UI's REST API,
``QueryExecution``'s planning tracker, a streaming query's progress);
nothing inside ``ibd_pipeline_spark`` changes. Spans stay in memory and
are written to one JSON file when the run ends.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import re
import sys
import time
import urllib.error
import urllib.request
from collections.abc import Iterator, Sequence

import py4j.clientserver


class Tracer:
    """Spans (name, trace id, parent, start, end, counts) and py4j calls."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._stack: list[int] = []
        self.py4j_calls = 0
        self._patched: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str, trace_id: str, **counts) -> Iterator[dict]:
        sid = next(self._ids)
        rec = {
            "id": sid,
            "trace": trace_id,
            "parent": self._stack[-1] if self._stack else None,
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "counts": dict(counts),
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def add(self, name: str, trace_id: str, duration: float, **counts) -> None:
        """A span known only by its duration (e.g. a micro-batch phase
        Spark timed), parented under the open span if any."""
        now = time.perf_counter()
        self.spans.append(
            {
                "id": next(self._ids),
                "trace": trace_id,
                "parent": self._stack[-1] if self._stack else None,
                "name": name,
                "start": now - duration,
                "end": now,
                "counts": dict(counts),
                "synthetic": True,
            }
        )

    # -- py4j -------------------------------------------------------------

    def count_py4j(self) -> None:
        """Count every driver→JVM command from here on."""
        cls = py4j.clientserver.ClientServerConnection
        original = cls.send_command
        tracer = self

        def send_command(conn, command):
            tracer.py4j_calls += 1
            return original(conn, command)

        cls.send_command = send_command
        self._patched.append((cls, "send_command", original))

    # -- catalog ----------------------------------------------------------

    def wrap_module_functions(self, package: str, module, names: Sequence[str]) -> None:
        """Replace ``module.<name>`` everywhere it was imported inside
        ``package`` with a wrapper that opens a span per call."""
        for fname in names:
            original = getattr(module, fname)
            wrapped = self._spanned(f"{module.__name__.rsplit('.', 1)[-1]}.{fname}", original)
            for mod in list(sys.modules.values()):
                if mod is None or not getattr(mod, "__name__", "").startswith(package):
                    continue
                for attr, value in list(vars(mod).items()):
                    if value is original:
                        setattr(mod, attr, wrapped)
                        self._patched.append((mod, attr, original))

    def _spanned(self, name: str, fn):
        tracer = self

        def call(*args, **kwargs):
            if not tracer._stack:  # outside any traced query: no span
                return fn(*args, **kwargs)
            with tracer.span(name, tracer.spans[tracer._stack[-1] - 1]["trace"]):
                return fn(*args, **kwargs)

        call.__wrapped__ = fn
        return call

    def restore(self) -> None:
        for owner, attr, original in reversed(self._patched):
            setattr(owner, attr, original)
        self._patched.clear()

    # -- accounting -------------------------------------------------------

    def children(self, span_id: int) -> list[dict]:
        return [s for s in self.spans if s["parent"] == span_id]

    def self_time(self, span: dict) -> float:
        """Duration minus the part its direct children cover."""
        dur = span["end"] - span["start"]
        return dur - sum(c["end"] - c["start"] for c in self.children(span["id"]))

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            json.dump({"spans": self.spans, **extra}, fh, indent=1, default=str)


# --------------------------------------------------------------------------
# What Spark publishes about jobs, stages, SQL executions and planning
# --------------------------------------------------------------------------

_SIZE = {"B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4}
_TIME = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_TOTAL = re.compile(r"^\s*(?:total[^\n]*\n)?\s*([0-9.,]+)\s*([A-Za-z]*)")


def parse_metric(value: str) -> float:
    """A Spark SQL-metric display string (``"12.3 KiB"``, ``"1,024"``,
    ``"total (min, med, max)\\n1.2 s (...)"``) → its total in base units
    (bytes, seconds or a count)."""
    m = _TOTAL.match(value)
    if not m:
        return 0.0
    number = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if unit in _SIZE:
        return number * _SIZE[unit]
    if unit in _TIME:
        return number * _TIME[unit]
    return number


class SparkStats:
    """Job, stage, task, shuffle, spill and Python-worker figures for a
    set of job groups, from the status tracker and the UI REST API."""

    PY_METRICS = {
        "data sent to Python workers": "bytes_sent",
        "data returned from Python workers": "bytes_returned",
        "number of output rows": "rows",
        "time to run Python workers": "s",
    }
    PY_NODES = ("ArrowEvalPython", "FlatMapGroupsInPandas", "MapInPandas", "ArrowEvalPythonUDTF",
                "BatchEvalPython", "FlatMapGroupsInArrow", "MapInArrow", "FlatMapCoGroupsInPandas",
                "AggregateInPandas", "WindowInPandas", "FlatMapGroupsInPandasWithState")

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self.tracker = sc.statusTracker()
        port = re.search(r":(\d+)$", sc.uiWebUrl or "")
        self.base = (
            f"http://127.0.0.1:{port.group(1)}/api/v1/applications/{sc.applicationId}"
            if port
            else None
        )

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=10) as resp:
            return json.loads(resp.read().decode("utf-8"))

    def jobs(self, group: str) -> list[int]:
        return sorted(self.tracker.getJobIdsForGroup(group))

    def stages(self, jobs: Sequence[int]) -> list[int]:
        out = []
        for j in jobs:
            info = self.tracker.getJobInfo(j)
            if info is not None:
                out.extend(info.stageIds)
        return sorted(set(out))

    def stage_figures(self, stage_ids: Sequence[int], wait_s: float = 3.0) -> dict[str, float]:
        """Tasks run, task run time, shuffle read/write and spilled bytes
        over the stages' attempts. The UI store is filled from an async
        listener bus, so this waits (bounded) for stages to settle."""
        fig = dict(tasks=0.0, task_run_s=0.0, shuffle_read_bytes=0.0,
                   shuffle_write_bytes=0.0, spill_bytes=0.0)
        if self.base is None:
            return fig
        for sid in stage_ids:
            deadline = time.monotonic() + wait_s
            while True:
                try:
                    attempts = self._get(f"/stages/{sid}")
                except urllib.error.HTTPError as exc:
                    if exc.code == 404:  # never submitted: nothing to add
                        attempts = []
                        break
                    raise
                settled = attempts and all(
                    a.get("status") in ("COMPLETE", "SKIPPED", "FAILED") for a in attempts
                )
                if settled or time.monotonic() > deadline:
                    break
                time.sleep(0.05)
            for a in attempts:
                fig["tasks"] += a.get("numCompleteTasks", 0)
                fig["task_run_s"] += a.get("executorRunTime", 0) / 1000.0
                fig["shuffle_read_bytes"] += a.get("shuffleReadBytes", 0)
                fig["shuffle_write_bytes"] += a.get("shuffleWriteBytes", 0)
                fig["spill_bytes"] += a.get("memoryBytesSpilled", 0) + a.get("diskBytesSpilled", 0)
        return fig

    def python_figures(self, jobs: Sequence[int], wait_s: float = 1.0) -> dict[str, float]:
        """Rows, bytes each way and Python time at Python-worker plan
        nodes of the SQL executions that ran any of ``jobs``."""
        fig = dict(rows=0.0, bytes_sent=0.0, bytes_returned=0.0, s=0.0)
        if self.base is None or not jobs:
            return fig
        want = set(jobs)
        deadline = time.monotonic() + wait_s
        while True:
            execs = self._get("/sql?details=true&planDescription=false&length=100000")
            matched = [
                e for e in execs
                if want & set(e.get("successJobIds", []) + e.get("failedJobIds", [])
                              + e.get("runningJobIds", []))
            ]
            done = matched and all(e.get("status") != "RUNNING" for e in matched)
            if done or time.monotonic() > deadline:
                break
            time.sleep(0.05)
        for e in matched:
            for node in e.get("nodes", []):
                if not node.get("nodeName", "").startswith(self.PY_NODES):
                    continue
                for m in node.get("metrics", []):
                    key = self.PY_METRICS.get(m.get("name"))
                    if key:
                        fig[key] += parse_metric(str(m.get("value", "")))
        return fig


def planning_phases(spark, df) -> dict[str, float]:
    """Seconds spent in Catalyst's analysis, optimization and planning
    phases for ``df``, from its ``QueryPlanningTracker``; forces
    optimization and physical planning if they have not run yet."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = spark._jvm.scala.jdk.javaapi.CollectionConverters.asJava(qe.tracker().phases())
    return {
        name: phases[name].durationMs() / 1000.0
        for name in ("analysis", "optimization", "planning")
        if name in phases
    }
