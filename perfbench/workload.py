"""One benchmark run in a fresh process: set up, run one workload, check
its outputs, and write the run's figures to a JSON file.

``run.py`` starts this script with the environment already sized for
the machine and with ``PERFBENCH_SPAWN`` set to the wall-clock time it
spawned the process, so ``setup_s`` counts interpreter start-up too.

    python3 perfbench/workload.py --spec SPEC.json --out RESULT.json
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import threading
import time
from datetime import datetime

import stats

HERE = os.path.dirname(os.path.abspath(__file__))

MEASUREMENT = "weather_metrics_5m"
TAGS = {"location": "Bucharest", "window": "5m"}
FIELDS = [
    "avg_temperature_c",
    "avg_apparent_temperature_c",
    "temperature_stddev",
    "avg_wind_speed_kmph",
    "max_wind_gust_kmph",
    "avg_pressure_hpa",
    "avg_humidity_pct",
    "total_precipitation_mm",
    "total_precipitation_mm_sum",
    "sample_count",
]
OVERHEAD_PHASES = ("walCommit", "commitOffsets", "queryPlanning", "latestOffset", "getBatch")
# A query's spans must cover its wall time to within this share, or
# SELF_TIME_FLOOR_S, whichever is larger.
SELF_TIME_TOLERANCE = 0.05
SELF_TIME_FLOOR_S = 0.010
# A warm pass or micro-batch during which the host stole more than this
# share of the CPU time ran on a disturbed machine and is left out of
# the medians (see stats.undisturbed). Runs on a quiet host steal
# 0.3-0.9%; runs that stole 2-15% ran 20-150% slower.
STEAL_LIMIT = 0.01


def cpu_jiffies() -> tuple[int, int]:
    """Jiffies of all CPUs from ``/proc/stat``: (stolen, total). Time
    the host ran other guests on this machine's CPUs counts as stolen;
    a run with a large share of it measured the host, not the program."""
    with open("/proc/stat", encoding="ascii") as fh:
        fields = [int(x) for x in fh.readline().split()[1:9]]
    return fields[7], sum(fields)


class JiffySampler(threading.Thread):
    """``(time, stolen, total)`` CPU jiffies every ``period`` seconds,
    so the steal share of any interval of the run can be read back
    (``stats.steal_between``)."""

    def __init__(self, period: float = 0.2) -> None:
        super().__init__(daemon=True)
        self.period = period
        self.samples: list[tuple[float, int, int]] = []
        self.done = threading.Event()

    def run(self) -> None:
        while True:
            self.samples.append((time.time(), *cpu_jiffies()))
            if self.done.wait(self.period):
                return

    def stop(self) -> None:
        self.done.set()
        self.join()


class SinkRecorder:
    """The stream's foreachBatch function: ``influx_foreach_batch``
    writing line protocol through ``file_line_writer``, one directory
    per micro-batch, with the time each sink call returned."""

    def __init__(self, out_dir: str, tracer=None) -> None:
        self.out_dir = out_dir
        self.tracer = tracer
        self.calls: dict[int, tuple[float, float]] = {}
        self.traced: set[int] = set()

    def batch_dir(self, batch_id: int) -> str:
        return os.path.join(self.out_dir, f"batch-{batch_id:06d}")

    def __call__(self, batch_df, batch_id: int) -> None:
        from ibd_pipeline_spark.streaming.sinks import file_line_writer, influx_foreach_batch

        path = self.batch_dir(batch_id)
        handle = influx_foreach_batch(
            MEASUREMENT, TAGS, FIELDS, lambda d=path: file_line_writer(d)
        )
        start = time.time()
        if self.tracer is not None and batch_id % 2 == 1:
            self.traced.add(batch_id)
            with self.tracer.span("sink", f"batch-{batch_id}") as span:
                handle(batch_df, batch_id)
                span["counts"]["lines"] = len(self.lines(batch_id))
        else:
            handle(batch_df, batch_id)
        self.calls[batch_id] = (start, time.time())

    def lines(self, batch_id: int) -> list[str]:
        d = self.batch_dir(batch_id)
        if not os.path.isdir(d):
            return []
        out: list[str] = []
        for name in sorted(os.listdir(d)):
            with open(os.path.join(d, name), encoding="utf-8") as fh:
                out.extend(line for line in fh.read().splitlines() if line)
        return out


def _epoch(iso: str) -> float:
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


class Run:
    """One run of one workload: its session, what it measured (``e2e``
    end to end, ``layers`` per layer when traced), the operations it
    attempted and failed, and ``notes`` for the report. ``olap`` and
    ``stream`` are the two workload kinds."""

    def __init__(self, spec: dict, spawned: float) -> None:
        self.spec = spec
        self.spawned = spawned
        self.seconds = spec["seconds"]
        self.outcomes = stats.Outcomes()
        self.e2e: dict[str, float] = {}
        self.layers: dict[str, float] = {}
        self.notes: dict[str, object] = {}
        self.tracer = None
        self.sstats = None
        self.spark = None

    # -- set-up -------------------------------------------------------------

    def setup(self) -> None:
        t0 = time.perf_counter()
        from ibd_pipeline_spark.session import get_spark

        self.spark = get_spark(
            app_name=f"perfbench-{self.spec['workload']}",
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.sql.streaming.numRecentProgressUpdates": "100000",
            },
        )
        t1 = time.perf_counter()
        from ibd_pipeline_spark.queries import all_queries

        self.registry = all_queries()
        t2 = time.perf_counter()
        self.e2e["setup_s"] = time.time() - self.spawned
        self.layers["session.start_s"] = t1 - t0
        self.layers["queries.import_s"] = t2 - t1
        if self.spec["trace"]:
            from ibd_pipeline_spark import catalog
            from spans import SparkStats, Tracer

            self.tracer = Tracer()
            self.tracer.count_py4j()
            self.tracer.wrap_module_functions("ibd_pipeline_spark", catalog, ["load", "load_wide"])
            self.sstats = SparkStats(self.spark)

    def close(self) -> None:
        if self.spark is None:
            return
        leftover = list(self.spark.streams.active)
        for q in leftover:
            q.stop()
        if leftover:
            self.outcomes.fail(f"{len(leftover)} streaming queries still active at the end")
        if self.tracer is not None:
            self.tracer.restore()
        self.spark.stop()

    # -- OLAP ---------------------------------------------------------------

    def olap(self) -> None:
        names = self.spec["queries"]
        sf_dir = self.spec["data"]
        spark = self.spark
        cold: dict[str, tuple[list, list]] = {}
        t0 = time.perf_counter()
        for name in names:
            try:
                df = self.registry[name](spark, sf_dir)
                cold[name] = (df.columns, df.collect())
            except Exception as exc:  # a query that raises is a failed operation
                self.outcomes.fail(f"{name} (cold pass): {exc!r}"[:500])
        self.e2e["warmup_s"] = time.perf_counter() - t0
        # Untimed settle passes: the JIT keeps compiling through the first
        # warm passes. After one settle pass the timed passes still fell
        # by ~10-25% from the first to the third; after two they are flat
        # to within the run's noise, so timing starts there.
        for i in range(self.spec["settle_passes"]):
            for name in names:
                try:
                    self.registry[name](spark, sf_dir).write.format("noop").mode(
                        "overwrite"
                    ).save()
                    self.outcomes.ok()
                except Exception as exc:
                    self.outcomes.fail(f"{name} (settle pass {i}): {exc!r}"[:500])

        passes: list[float] = []
        traced_passes: list[float] = []
        runs: list[dict[str, float]] = []  # per untraced pass: query -> seconds
        steal: list[float] = []  # per untraced pass: share of CPU time stolen
        records: list[list[dict]] = []
        start = time.perf_counter()
        i = 0
        while (
            time.perf_counter() - start < self.seconds
            or len(passes) < 2
            or (self.tracer is not None and not traced_passes)
        ):
            traced = self.tracer is not None and i % 2 == 1
            stolen0, total0 = cpu_jiffies()
            p0 = time.perf_counter()
            pass_records = []
            times: dict[str, float] = {}
            for name in names:
                if traced:
                    rec = self.traced_query(i, name)
                    if rec is not None:
                        pass_records.append(rec)
                    continue
                q0 = time.perf_counter()
                try:
                    self.registry[name](spark, sf_dir).write.format("noop").mode(
                        "overwrite"
                    ).save()
                except Exception as exc:
                    self.outcomes.fail(f"{name} (pass {i}): {exc!r}"[:500])
                    continue
                times[name] = time.perf_counter() - q0
                self.outcomes.ok()
            wall = time.perf_counter() - p0
            stolen1, total1 = cpu_jiffies()
            if traced:
                traced_passes.append(wall)
                records.append(pass_records)
            else:
                passes.append(wall)
                runs.append(times)
                steal.append((stolen1 - stolen0) / max(1, total1 - total0))
            i += 1
        counted = stats.undisturbed(runs, steal, STEAL_LIMIT)
        per_query = {name: [r[name] for r in counted if name in r] for name in names}

        # Each query's typical warm latency is the median over its warm
        # runs; the pass and the spread across queries are built from
        # those, so one slow run of one query does not move them.
        typical = [stats.median(v) for v in per_query.values() if v]
        self.e2e["pass_s"] = sum(typical)
        self.e2e["latency_p50_s"] = stats.median(typical)
        tail, pct, n = stats.tail(typical)
        self.e2e["latency_tail_s"] = tail
        self.notes["latency"] = {
            "n": n, "tail_percentile": pct, "unit": "s, median warm run of each query",
            "runs_per_query": min(len(v) for v in per_query.values()),
        }
        self.e2e["throughput_per_s"] = len(typical) / sum(typical)
        self.notes["passes"] = {
            "warm": len(passes), "counted": len(counted), "queries_per_pass": len(names),
            "pass_wall_s": [round(p, 3) for p in passes],
            "pass_steal_share": [round(x, 4) for x in steal],
            "query_median_s": {k: round(stats.median(v), 4) for k, v in per_query.items() if v},
            "query_runs_s": {k: [round(x, 3) for x in v] for k, v in per_query.items()},
            "group_pass_s": {
                g: round(sum(stats.median(per_query[q]) for q in spec["queries"] if per_query[q]), 4)
                for g, spec in self.spec.get("groups", {}).items()
            },
        }

        self.check_olap(cold)
        if self.tracer is not None:
            self.olap_layers(records, passes, traced_passes)

    def traced_query(self, i: int, name: str) -> dict | None:
        from spans import planning_phases

        spark, tr = self.spark, self.tracer
        sc = spark.sparkContext
        tid = f"pass{i}:{name}"
        try:
            sc.setJobGroup(f"{tid}:construct", tid)
            with tr.span("query", tid) as q:
                c0 = tr.py4j_calls
                with tr.span("construct", tid) as c:
                    df = self.registry[name](spark, self.spec["data"])
                c["counts"]["py4j_calls"] = tr.py4j_calls - c0
                sc.setJobGroup(f"{tid}:plan", tid)
                with tr.span("plan", tid) as p:
                    phases = planning_phases(spark, df)
                sc.setJobGroup(f"{tid}:exec", tid)
                with tr.span("exec", tid):
                    df.write.format("noop").mode("overwrite").save()
            sc.setLocalProperty("spark.jobGroup.id", None)
        except Exception as exc:
            self.outcomes.fail(f"{name} (traced pass {i}): {exc!r}"[:500])
            return None
        self.outcomes.ok()

        st = self.sstats
        construct_jobs = st.jobs(f"{tid}:construct")
        exec_jobs = st.jobs(f"{tid}:exec") + st.jobs(f"{tid}:plan")
        stages = st.stages(exec_jobs)
        fig = st.stage_figures(stages)
        py = st.python_figures(construct_jobs + exec_jobs)
        p["counts"].update({f"{k}_s": v for k, v in phases.items()})
        c["counts"]["jobs"] = len(construct_jobs)
        wall = q["end"] - q["start"]
        spans = [s for s in tr.spans if s["trace"] == tid]
        catalog = [s for s in spans if s["name"].startswith("catalog.")]
        unaccounted = tr.self_time(q)
        self.outcomes.check(
            unaccounted <= max(SELF_TIME_TOLERANCE * wall, SELF_TIME_FLOOR_S),
            f"{tid}: spans leave {unaccounted:.4f} s of {wall:.4f} s unaccounted",
        )
        return {
            "name": name,
            "wall_s": wall,
            "unaccounted_s": unaccounted,
            "construct.s": c["end"] - c["start"],
            "construct.py4j_calls": c["counts"]["py4j_calls"],
            "construct.jobs": len(construct_jobs),
            "catalog.calls": sum(1 for s in catalog if s["parent"] == c["id"]),
            "catalog.s": sum(s["end"] - s["start"] for s in catalog if s["parent"] == c["id"]),
            "plan.analysis_s": phases.get("analysis", 0.0),
            "plan.optimization_s": phases.get("optimization", 0.0),
            "plan.planning_s": phases.get("planning", 0.0),
            "exec.s": next(s["end"] - s["start"] for s in spans if s["name"] == "exec"),
            "exec.jobs": len(exec_jobs),
            "exec.stages": len(stages),
            "exec.tasks": fig["tasks"],
            "exec.task_run_s": fig["task_run_s"],
            "exec.shuffle_read_bytes": fig["shuffle_read_bytes"],
            "exec.shuffle_write_bytes": fig["shuffle_write_bytes"],
            "exec.spill_bytes": fig["spill_bytes"],
            "python.rows": py["rows"],
            "python.bytes_sent": py["bytes_sent"],
            "python.bytes_returned": py["bytes_returned"],
            "python.s": py["s"],
        }

    def olap_layers(self, records, passes, traced_passes) -> None:
        keys = [k for k in records[0][0] if "." in k] if records and records[0] else []
        for k in keys:
            self.layers[k] = stats.median([sum(r[k] for r in recs) for recs in records])
        self.layers["trace.overhead_s"] = stats.median(traced_passes) - stats.median(passes)
        self.layers["trace.unaccounted_s"] = max(
            (r["unaccounted_s"] for recs in records for r in recs), default=0.0
        )
        last = {r["name"]: r for r in records[-1]}
        self.notes["trace"] = {
            "per_query": last,
            "group_layers": {
                g: {k: sum(last[q][k] for q in spec["queries"] if q in last) for k in keys}
                for g, spec in self.spec.get("groups", {}).items()
            },
            "traced_pass_s": traced_passes,
            "untraced_pass_s": passes,
        }

    def check_olap(self, cold: dict) -> None:
        """Each cold-pass result against its DuckDB oracle (untimed)."""
        import duckdb

        from ibd_pipeline_spark.queries import all_oracles

        oracles = all_oracles()
        con = duckdb.connect()
        try:
            for f in sorted(os.listdir(self.spec["data"])):
                table = f.removesuffix(".parquet")
                path = os.path.join(self.spec["data"], f)
                con.execute(f"CREATE VIEW {table} AS SELECT * FROM '{path}'")
            for name, (cols, rows) in cold.items():
                if name not in oracles:
                    self.outcomes.fail(f"{name}: no oracle to check against")
                    continue
                res = con.execute(oracles[name])
                want = stats.fingerprint([d[0] for d in res.description], res.fetchall())
                got = stats.fingerprint(cols, [tuple(r) for r in rows])
                self.outcomes.check(got == want, f"{name}: result {got} != oracle {want}")
        finally:
            con.close()

    # -- streams --------------------------------------------------------------

    def _progress(self, query) -> list[dict]:
        return [p for p in query.recentProgress if "addBatch" in p["durationMs"]]

    def _reference_windows(self, src: str) -> dict[int, dict[str, float]]:
        """``weather_pipeline`` run as a batch over every generated file."""
        import pyspark.sql.functions as F

        from ibd_pipeline_spark.streaming.weather import weather_pipeline

        agg = weather_pipeline(self.spark.read.text(src))
        rows = agg.select(
            F.unix_micros(F.col("window.end")).alias("end_us"), *FIELDS
        ).collect()
        return {
            r["end_us"] * 1000: {k: float(r[k]) for k in FIELDS} for r in rows
        }

    def _emitted(self, rec: SinkRecorder) -> list[tuple[int, str]]:
        return [(bid, line) for bid in sorted(rec.calls) for line in rec.lines(bid)]

    def _check_windows(self, emitted, reference, label: str) -> None:
        got = stats.last_per_window(line for _, line in emitted)
        problems = stats.compare_windows(got, reference)
        for p in problems:
            self.outcomes.fail(f"{label}: {p}")
        self.outcomes.ok(max(0, len(reference) - len(problems)))

    def _stream_layers(self, progress: list[dict], rec: SinkRecorder, emitted) -> None:
        """Per-batch medians of the micro-batch phases, state figures and
        the sink, for the traced run."""
        def med(values):
            return stats.median(values) if values else 0.0

        d = [p["durationMs"] for p in progress]
        self.layers["stream.batches"] = len(progress)
        self.layers["stream.trigger_s"] = med([x["triggerExecution"] / 1000 for x in d])
        self.layers["stream.overhead_s"] = med(
            [sum(x.get(k, 0) for k in OVERHEAD_PHASES) / 1000 for x in d]
        )
        self.layers["stream.add_batch_s"] = med([x["addBatch"] / 1000 for x in d])
        ops = [p["stateOperators"][0] for p in progress if p.get("stateOperators")]
        self.layers["stream.state_rows"] = max((o["numRowsTotal"] for o in ops), default=0)
        self.layers["stream.state_bytes"] = max((o["memoryUsedBytes"] for o in ops), default=0)
        calls = [rec.calls[p["batchId"]] for p in progress if p["batchId"] in rec.calls]
        self.layers["sink.s"] = med([end - start for start, end in calls])
        self.layers["sink.lines"] = len(emitted)
        if self.tracer is not None:
            for p in progress:
                tid = f"batch-{p['batchId']}"
                for phase, ms in p["durationMs"].items():
                    self.tracer.add(f"stream.{phase}", tid, ms / 1000)

    def _dropped(self, progress: list[dict]) -> int:
        return sum(
            o.get("numRowsDroppedByWatermark", 0)
            for p in progress
            for o in p.get("stateOperators", [])
        )

    def _finish_query(self, q, timeout: float, label: str) -> None:
        try:
            ok = q.awaitTermination(timeout)
        except Exception as exc:
            self.outcomes.fail(f"{label}: {exc!r}"[:500])
            q.stop()
            return
        if not self.outcomes.check(bool(ok), f"{label}: not terminated within {timeout} s"):
            q.stop()

    def stream(self) -> None:
        from ibd_pipeline_spark.streaming.runner import file_json_source, run_weather_query

        sp = self.spec
        run_dir = sp["run_dir"]
        src = os.path.join(run_dir, "src")
        log_path = os.path.join(run_dir, "gen.jsonl")
        os.makedirs(src, exist_ok=True)
        rec = SinkRecorder(os.path.join(run_dir, "sink"), self.tracer)
        raw = file_json_source(self.spark, src)
        q = run_weather_query(
            raw, os.path.join(run_dir, "ckpt"), foreach_batch=rec, query_name="perfbench_stream"
        )
        files_per_s = sp["rate"] / sp["events_per_file"]
        n_files = sp["prime_files"] + int(round((sp["warm_s"] + self.seconds) * files_per_s))
        go_path = os.path.join(run_dir, "go")
        sampler = JiffySampler()  # a daemon thread: it ends with the process
        sampler.start()
        gen = subprocess.Popen(
            [
                sys.executable, os.path.join(HERE, "weathergen.py"),
                "--seed", str(sp["seed"]), "--dir", src, "--log", log_path,
                "--files", str(n_files), "--events-per-file", str(sp["events_per_file"]),
                "--files-per-s", str(files_per_s), "--late-share", str(sp["late_share"]),
                "--prime-files", str(sp["prime_files"]), "--go", go_path,
            ]
        )
        try:
            # The primed files make the cold first micro-batch; the open
            # loop starts once its sink call has returned.
            deadline = time.time() + 120
            while not rec.calls and time.time() < deadline and gen.poll() is None and q.isActive:
                time.sleep(0.01)
            first_due = time.time() + sp["lead_s"]
            with open(go_path + ".tmp", "w", encoding="utf-8") as fh:
                fh.write(repr(first_due))
            os.rename(go_path + ".tmp", go_path)
            gen.wait(timeout=sp["lead_s"] + sp["warm_s"] + self.seconds + 60)
        finally:
            if gen.poll() is None:
                gen.kill()
                gen.wait()
        self.outcomes.check(gen.returncode == 0, f"generator exited with {gen.returncode}")
        with open(log_path, encoding="utf-8") as fh:
            log = [json.loads(line) for line in fh]
        total = sum(e["events"] for e in log)
        deadline = time.time() + 30
        while time.time() < deadline:
            if sum(p["numInputRows"] for p in self._progress(q)) >= total:
                break
            time.sleep(0.1)
        progress = self._progress(q)
        q.stop()
        self._finish_query(q, 30, "stream")
        sampler.stop()

        emitted = self._emitted(rec)
        updates = []
        base = sp["base_epoch"]
        for bid, line in emitted:
            ts_ns, values = stats.parse_line_protocol(line)
            window = ts_ns // 1_000_000_000 - base - sp["window_s"]
            updates.append((window, int(values["sample_count"]), rec.calls[bid][1]))
        try:
            lat = stats.emit_latencies(log, updates)
        except ValueError as exc:
            self.outcomes.fail(f"stream latency attribution: {exc}")
            lat = []
        t_meas0 = first_due + sp["warm_s"]
        t_meas1 = t_meas0 + self.seconds
        first_created = log[0]["created"]
        with_rows = [p for p in progress if p["numInputRows"] > 0]
        if with_rows:
            self.e2e["warmup_s"] = rec.calls[with_rows[0]["batchId"]][1] - first_created
        in_window = [p for p in with_rows if t_meas0 <= _epoch(p["timestamp"]) < t_meas1]
        steal = [
            stats.steal_between(
                sampler.samples,
                _epoch(p["timestamp"]),
                _epoch(p["timestamp"]) + p["durationMs"]["triggerExecution"] / 1000,
            )
            for p in in_window
        ]
        counted = stats.undisturbed(in_window, steal, STEAL_LIMIT)
        left_out = {p["batchId"] for p in in_window} - {p["batchId"] for p in counted}
        self.e2e["pass_s"] = stats.median(
            [p["durationMs"]["triggerExecution"] / 1000 for p in counted]
        )
        inside = [
            l for (bid, _), (created, l) in zip(emitted, lat)
            if t_meas0 <= created < t_meas1 and bid not in left_out
        ]
        self.e2e["latency_p50_s"] = stats.median(inside)
        tail, pct, n = stats.tail(inside)
        self.e2e["latency_tail_s"] = tail
        self.notes["latency"] = {"n": n, "tail_percentile": pct, "unit": "s event-to-emit"}
        done = sum(p["numInputRows"] for p in progress)
        last = with_rows[-1]["batchId"] if with_rows else None
        if last is not None and done >= total:
            streamed = sum(e["events"] for e in log[sp["prime_files"]:])
            self.e2e["throughput_per_s"] = streamed / (rec.calls[last][1] - first_due)
        else:
            self.outcomes.fail(f"stream processed {done} of {total} rows")

        samples = stats.backlog_rows(
            log, [{"t": _epoch(p["timestamp"]), "rows": p["numInputRows"]} for p in progress]
        )
        allowance = sp["rate"] * sp["backlog_allowance_s"]
        self.outcomes.check(
            not stats.backlog_grew(samples, t_meas0, t_meas1, allowance),
            "backlog grew over the measured interval",
        )
        dropped = self._dropped(progress)
        self.outcomes.check(dropped == 0, f"{dropped} rows dropped by the watermark")
        self._check_windows(emitted, self._reference_windows(src), "stream")
        self.notes["stream"] = {
            "events": total,
            "late_events": sum(e["late_events"] for e in log),
            "rate_per_s": sp["rate"],
            "batches": len(with_rows),
            "measured_batches": len(in_window),
            "counted_batches": len(counted),
            "max_batch_steal_share": round(max(steal, default=0.0), 4),
            "per_batch": [(round(_epoch(p["timestamp"]) - first_due, 2), p["numInputRows"],
                           p["durationMs"]["triggerExecution"]) for p in with_rows],
        }
        if self.tracer is not None:
            measured = in_window
            self._stream_layers(measured, rec, emitted)
            inside_b = [b for t, b in samples if t_meas0 <= t < t_meas1]
            self.layers["source.backlog_rows"] = max(inside_b, default=0)
            self.layers["gen.lag_s"] = max(e["late_s"] for e in log)
            self.layers["stream.dropped_by_watermark"] = dropped
            traced = [p["durationMs"]["triggerExecution"] / 1000 for p in measured
                      if p["batchId"] in rec.traced]
            plain = [p["durationMs"]["triggerExecution"] / 1000 for p in measured
                     if p["batchId"] not in rec.traced]
            if traced and plain:
                self.layers["trace.overhead_s"] = stats.median(traced) - stats.median(plain)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--spec", required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    spawned = float(os.environ.get("PERFBENCH_SPAWN", time.time()))
    with open(args.spec, encoding="utf-8") as fh:
        spec = json.load(fh)
    run = Run(spec, spawned)
    stolen0, total0 = cpu_jiffies()
    try:
        run.setup()
        getattr(run, spec["kind"])()
    finally:
        run.close()
    stolen1, total1 = cpu_jiffies()
    run.notes["host"] = {"steal_share": round((stolen1 - stolen0) / max(1, total1 - total0), 4)}
    if run.tracer is not None:
        run.tracer.dump(
            os.path.join(spec["run_dir"], "trace.json"),
            {"layers": run.layers, "notes": run.notes, "workload": spec["workload"]},
        )
    result = {
        "e2e": run.e2e,
        "layers": run.layers,
        "attempted": run.outcomes.attempted,
        "failed": run.outcomes.failed,
        "failures": run.outcomes.messages,
        "notes": run.notes,
    }
    with open(args.out, "w", encoding="utf-8") as fh:
        json.dump(result, fh, indent=1, default=str)
    return 0


if __name__ == "__main__":
    sys.exit(main())
