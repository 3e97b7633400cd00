"""Benchmark entry point: one workload, one seed, one run.

    python3 perfbench/run.py --workload olap --seed 1 --seconds 12 --trace 0

Run from the root of a checkout of the repository. The launcher sizes
the run for the machine (CPU affinity and a share of physical memory,
never the 32-core defaults), makes the workload's inputs from the seed,
starts the measured process (``workload.py``) with the checkout on
``PYTHONPATH``, and stops it and everything it started if it overruns.
It prints a human-readable report (every metric with its unit, sample
count and the tail percentile), then, as the last line, one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` makes a
separate traced run that reports the per-layer metrics and writes every
span to ``.perfbench/traces/``. Everything the run writes stays under
``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import calendar
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
RUN_TIMEOUT_S = 170


def load_json(path: str) -> dict:
    with open(path, encoding="utf-8") as fh:
        return json.load(fh)


def machine_env(design: dict, run_dir: str) -> dict[str, str]:
    """Environment for the measured process, sized from this machine,
    with every temporary directory inside the run's directory."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo", encoding="ascii") as fh:
        mem_kb = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal:"))
    mem_mb = int(mem_kb / 1024 * design["machine"]["driver_memory_share"])
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    path = [ROOT] + [p for p in env.get("PYTHONPATH", "").split(os.pathsep) if p]
    env.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_GRAFT_DRIVER_MEM=f"{mem_mb}m",
        PYTHONPATH=os.pathsep.join(path),
        SPARK_LOCAL_DIRS=tmp,
        TMPDIR=tmp,
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    )
    return env


def make_inputs(wl: dict, seed: int, run_dir: str) -> dict:
    """Generate the workload's inputs from the seed; return the spec
    fields that point at them."""
    if wl["kind"] == "olap":
        import datagen

        data = os.path.join(run_dir, "data")
        datagen.write(seed, wl["sf"], data)
        return {"data": data}
    from weathergen import BASE_TS, WINDOW_S

    return {"base_epoch": calendar.timegm(BASE_TS.timetuple()), "window_s": WINDOW_S}


def group_alive(pgid: int) -> bool:
    """Whether any process of the group is still running (zombies,
    which only wait to be reaped by their parent, count as ended)."""
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat", encoding="ascii", errors="replace") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[2]) == pgid and fields[0] != "Z":
            return True
    return False


def stop_group(proc: subprocess.Popen) -> None:
    """Stop the measured process and everything it started (the JVM,
    Python workers, the generator), and wait until all have ended."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        if proc.poll() is None or group_alive(proc.pid):
            try:
                os.killpg(proc.pid, sig)
            except ProcessLookupError:
                pass
        end = time.monotonic() + 10
        while time.monotonic() < end:
            if proc.poll() is not None and not group_alive(proc.pid):
                return
            time.sleep(0.05)
    proc.wait()


def report(workload: str, result: dict, bench: dict, trace: bool) -> None:
    """Every metric by name, with unit, value and sample count."""
    notes = result["notes"]
    lat = notes.get("latency", {})
    print(f"workload {workload}  env cpus={result['env']['cpus']} "
          f"driver_mem={result['env']['driver_mem']}")
    for m in bench["end_to_end"]:
        v = result["e2e"].get(m["name"])
        extra = ""
        if m["name"].startswith("latency_"):
            extra = f"  n={lat.get('n')}  ({lat.get('unit')})"
            if m["name"] == "latency_tail_s":
                extra += f"  percentile={lat.get('tail_percentile', 0):.1f}"
        print(f"  {m['name']:<18} {v!s:<24} {m['unit']:<6}{extra}")
    ratio = result["failed"] / result["attempted"] if result["attempted"] else 0.0
    print(f"  {'failed_ratio':<18} {ratio!s:<24} {'1':<6}  "
          f"n={result['attempted']}  failed={result['failed']}")
    for msg in result.get("failures", []):
        print(f"    failure: {msg}")
    for key in ("host", "passes", "stream"):
        if key in notes:
            print(f"  {key}: {json.dumps(notes[key])}")
    if trace:
        for m in bench["per_layer"]:
            print(f"  {m['name']:<28} {result['layers'].get(m['name'], 0.0)!s:<24} {m['unit']}")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    design = load_json(os.path.join(HERE, "design.json"))
    bench = load_json(os.path.join(ROOT, "BENCHMARK.json"))
    if args.workload not in design["workloads"]:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(design['workloads'])}")
    if not os.path.isfile(os.path.join(ROOT, "ibd_pipeline_spark", "__init__.py")):
        print(f"no ibd_pipeline_spark package under {ROOT}", file=sys.stderr)
        return 2
    wl = design["workloads"][args.workload]

    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    run_dir = os.path.join(WORK, "runs", run_id)
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    env = machine_env(design, run_dir)
    deadline = time.monotonic() + RUN_TIMEOUT_S
    try:
        spec = {
            **wl,
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": bool(args.trace),
            "run_dir": run_dir,
            **make_inputs(wl, args.seed, run_dir),
        }
        spec_path = os.path.join(run_dir, "spec.json")
        out_path = os.path.join(run_dir, "result.json")
        with open(spec_path, "w", encoding="utf-8") as fh:
            json.dump(spec, fh, indent=1)
        # A terminated launcher still stops the measured process group.
        signal.signal(signal.SIGTERM, lambda *_: sys.exit(1))
        env["PERFBENCH_SPAWN"] = repr(time.time())
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "workload.py"), "--spec", spec_path,
             "--out", out_path],
            env=env, cwd=run_dir, start_new_session=True, stdout=sys.stderr,
        )
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            code = None
            print(f"run exceeded {RUN_TIMEOUT_S} s; stopped", file=sys.stderr)
        finally:
            stop_group(proc)
        if code != 0 or not os.path.exists(out_path):
            print(f"measured process exited with {code}", file=sys.stderr)
            return 1
        result = load_json(out_path)
        if args.trace:
            os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
            shutil.copy(
                os.path.join(run_dir, "trace.json"),
                os.path.join(WORK, "traces", f"{run_id}.json"),
            )
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    result["env"] = {"cpus": env["SPARK_GRAFT_CPUS"], "driver_mem": env["SPARK_GRAFT_DRIVER_MEM"]}
    wanted = bench["per_layer"] if args.trace else bench["end_to_end"]
    source = result["layers"] if args.trace else result["e2e"]
    missing = [m["name"] for m in wanted if m["name"] not in source and not args.trace]
    report(args.workload, result, bench, bool(args.trace))
    if missing:
        print(f"metrics not measured: {missing}", file=sys.stderr)
        return 1
    metrics = {
        m["name"]: {"value": float(source.get(m["name"], 0.0)), "unit": m["unit"]} for m in wanted
    }
    print(
        json.dumps(
            {
                "correct": result["failed"] == 0,
                "attempted": result["attempted"],
                "failed": result["failed"],
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
