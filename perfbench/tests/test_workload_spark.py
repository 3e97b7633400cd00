"""The measured process on tiny inputs (sf0.001, a few hundred weather
events): a query that raises or disagrees with its oracle is a failed
operation, never skipped, and drained stream output is checked window by
window against the batch pipeline."""

from __future__ import annotations

import os
import time

import pytest

import datagen
import weathergen
import workload

@pytest.fixture(scope="module")
def spark():
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    from ibd_pipeline_spark.session import get_spark

    s = get_spark(
        app_name="perfbench-tests",
        master="local[2]",
        shuffle_partitions=2,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    yield s
    s.stop()


def _run(spark, spec):
    run = workload.Run({"workload": "test", "trace": False, "seconds": 0, **spec}, time.time())
    run.spark = spark
    from ibd_pipeline_spark.queries import all_queries

    run.registry = all_queries()
    return run


def test_olap_counts_raising_and_wrong_queries_as_failed(tmp_path, spark):
    data = str(tmp_path / "data")
    datagen.write(1, 0.001, data)
    run = _run(spark, {"queries": ["q1_pricing_summary", "boom", "q3_shipping_priority"],
                       "settle_passes": 1,
                       "data": data, "run_dir": str(tmp_path)})
    real_q3 = run.registry["q3_shipping_priority"]

    def boom(spark, sf_dir):
        raise RuntimeError("query construction failed")

    run.registry = {**run.registry, "boom": boom,
                    "q3_shipping_priority": lambda s, d: real_q3(s, d).limit(1)}
    run.olap()
    warm = run.notes["passes"]["warm"]
    assert warm >= 2
    # cold pass: boom raises; q1 matches its oracle; truncated q3 does not.
    # the settle pass and each warm pass: q1 and q3 run, boom raises again.
    assert run.outcomes.failed == 1 + 1 + 1 + warm
    assert run.outcomes.attempted == 3 + 3 + 3 * warm
    assert any("boom (cold pass)" in m for m in run.outcomes.messages)
    assert any("q3_shipping_priority: result" in m for m in run.outcomes.messages)
    assert set(run.e2e) == {"warmup_s", "pass_s", "latency_p50_s", "latency_tail_s",
                            "throughput_per_s"}


def test_stream_windows_match_batch_reference(tmp_path, spark):
    import calendar

    run = _run(spark, {
        "seed": 4, "run_dir": str(tmp_path), "seconds": 2, "rate": 200,
        "events_per_file": 20, "prime_files": 2, "warm_s": 1, "lead_s": 0.5,
        "late_share": 0.2, "backlog_allowance_s": 5.0, "window_s": 300,
        "base_epoch": calendar.timegm(weathergen.BASE_TS.timetuple()),
    })
    run.stream()
    assert run.outcomes.failed == 0, run.outcomes.messages
    assert run.notes["stream"]["late_events"] > 0
    assert run.notes["latency"]["n"] > 0
    assert set(run.e2e) == {"warmup_s", "pass_s", "latency_p50_s", "latency_tail_s",
                            "throughput_per_s"}
    assert not list(spark.streams.active)

    # The same comparator flags a window whose value differs from the reference.
    src = os.path.join(str(tmp_path), "src")
    reference = run._reference_windows(src)
    ts = sorted(reference)[0]
    reference[ts] = {**reference[ts], "avg_temperature_c": reference[ts]["avg_temperature_c"] + 1}
    rec = workload.SinkRecorder(os.path.join(str(tmp_path), "sink"))
    rec.calls = {int(d.split("-")[1]): (0.0, 0.0) for d in os.listdir(rec.out_dir)}
    before = run.outcomes.failed
    run._check_windows(run._emitted(rec), reference, "corrupted")
    assert run.outcomes.failed == before + 1
