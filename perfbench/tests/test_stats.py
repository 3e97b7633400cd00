"""The benchmark's own arithmetic: percentiles, latency attribution,
backlog accounting, output comparators and failure counting."""

from __future__ import annotations

import datetime
import decimal
import math

import pytest

import stats


def test_tail_is_highest_percentile_with_ten_beyond():
    values = list(range(1, 101))  # 1..100
    value, pct, n = stats.tail(values)
    assert n == 100
    assert value == 90  # exactly ten samples (91..100) lie beyond it
    assert pct == 90.0
    assert sum(v > value for v in values) == 10


def test_tail_rank_follows_n():
    value, pct, n = stats.tail([float(v) for v in range(30)])
    assert (value, n) == (19.0, 30)
    assert pct == pytest.approx(100 * 20 / 30)


def test_tail_without_support_reports_maximum():
    # 20 samples: the 10-beyond rank would sit at the median, which is no tail.
    value, pct, n = stats.tail([3.0, 1.0, 2.0] * 6 + [9.0, 0.5])
    assert (value, pct, n) == (9.0, 100.0, 20)


def test_undisturbed_drops_passes_the_host_interrupted():
    runs = ["a", "b", "c", "d"]
    assert stats.undisturbed(runs, [0.002, 0.08, 0.01, 0.004], 0.01) == ["a", "c", "d"]
    assert stats.undisturbed(runs, [0.002, 0.08, 0.05, 0.004], 0.01) == ["a", "d"]


def test_undisturbed_keeps_every_pass_when_most_were_interrupted():
    runs = ["a", "b", "c"]
    assert stats.undisturbed(runs, [0.05, 0.003, 0.2], 0.01) == runs
    assert stats.undisturbed(runs, [0.05, 0.03, 0.2], 0.01) == runs
    with pytest.raises(ValueError):
        stats.undisturbed(runs, [0.0], 0.01)


def test_steal_between_spans_the_enclosing_samples():
    # (time, stolen, total) jiffies: 10 of 100 stolen between t=1 and t=2.
    samples = [(0.0, 0, 0), (1.0, 5, 100), (2.0, 15, 200), (3.0, 15, 300)]
    assert stats.steal_between(samples, 1.0, 2.0) == pytest.approx(0.1)
    assert stats.steal_between(samples, 1.5, 1.7) == pytest.approx(0.1)
    assert stats.steal_between(samples, 0.5, 3.0) == pytest.approx(0.05)
    # Beyond the record, the nearest samples inside bound the span.
    assert stats.steal_between(samples, -1.0, 9.0) == pytest.approx(0.05)
    with pytest.raises(ValueError):
        stats.steal_between([], 0.0, 1.0)


def test_tail_and_median_reject_empty():
    with pytest.raises(ValueError):
        stats.tail([])
    with pytest.raises(ValueError):
        stats.median([])


def _log():
    # Window 0 gets 3 events over two files; window 300 gets 2 in file 2.
    return [
        {"created": 100.0, "events": 2, "windows": {"0": 2}},
        {"created": 101.0, "events": 2, "windows": {"0": 3, "300": 1}},
        {"created": 102.0, "events": 1, "windows": {"300": 2}},
    ]


def test_completing_file_is_first_to_reach_count():
    log = _log()
    assert stats.completing_file(log, 0, 1) == 0
    assert stats.completing_file(log, 0, 2) == 0
    assert stats.completing_file(log, 0, 3) == 1
    assert stats.completing_file(log, 300, 2) == 2
    assert stats.completing_file(log, 300, 3) is None
    assert stats.completing_file(log, 600, 1) is None


def test_emit_latency_runs_from_completing_file_to_sink_return():
    log = _log()
    # (window, emitted sample_count, sink return time)
    got = stats.emit_latencies(log, [(0, 2, 100.5), (0, 3, 101.25), (300, 2, 103.0)])
    assert got == [(100.0, 0.5), (101.0, 0.25), (102.0, 1.0)]


def test_emit_latency_rejects_count_never_written():
    with pytest.raises(ValueError):
        stats.emit_latencies(_log(), [(0, 4, 200.0)])


def test_backlog_rows_per_trigger():
    log = _log()
    progress = [{"t": 100.5, "rows": 2}, {"t": 101.5, "rows": 1}, {"t": 102.5, "rows": 2}]
    # generated-before-start minus processed-before-start
    assert stats.backlog_rows(log, progress) == [(100.5, 2), (101.5, 2), (102.5, 2)]


def test_backlog_growth_compares_first_and_last_thirds():
    flat = [(float(t), 100 + (t % 2) * 50) for t in range(12)]
    assert not stats.backlog_grew(flat, 0, 11, allowance=100)
    growing = [(float(t), 100 * t) for t in range(12)]
    assert stats.backlog_grew(growing, 0, 11, allowance=100)
    assert not stats.backlog_grew(growing[:2], 0, 11, allowance=0)


def test_normalize_canonical_forms():
    assert stats.normalize(decimal.Decimal("1.50")) == 1.5
    assert stats.normalize(-0.0) == 0.0
    assert stats.normalize(float("nan")) == "NaN"
    assert stats.normalize(0.1 + 0.2) == 0.3
    assert stats.normalize(datetime.datetime(2024, 1, 2, 3, 4, 5)) == "2024-01-02T03:04:05"
    assert stats.normalize(datetime.date(2024, 1, 2)) == "2024-01-02"
    assert stats.normalize([1.0, [2, None]]) == (1.0, (2, None))


def test_fingerprint_ignores_row_and_column_order():
    a = stats.fingerprint(["b", "a"], [(2, "x"), (1, None), (3, "y")])
    b = stats.fingerprint(["a", "b"], [("y", 3), (None, 1), ("x", 2)])
    assert a == b
    assert a["rows"] == 3 and a["columns"] == ["a", "b"]


def test_fingerprint_sees_value_row_and_type_differences():
    base = stats.fingerprint(["a"], [(1,), (2,)])
    assert stats.fingerprint(["a"], [(1,), (3,)]) != base
    assert stats.fingerprint(["a"], [(1,)]) != base
    assert stats.fingerprint(["a"], [(1.0,), (2.0,)]) != stats.fingerprint(["a"], [("1",), ("2",)])
    assert stats.fingerprint(["c"], [(1,), (2,)]) != base


LINE = "weather_metrics_5m,location=Bucharest,window=5m avg_temperature_c=15.25,sample_count=300.0 1717243500000000000"


def test_parse_line_protocol():
    ts, values = stats.parse_line_protocol(LINE)
    assert ts == 1717243500000000000
    assert values == {"avg_temperature_c": 15.25, "sample_count": 300.0}


def test_last_line_per_window_wins():
    older = LINE.replace("sample_count=300.0", "sample_count=120.0")
    got = stats.last_per_window([older, LINE])
    assert got == {1717243500000000000: {"avg_temperature_c": 15.25, "sample_count": 300.0}}


def test_compare_windows_tolerates_last_bits_only():
    want = {1: {"x": 1.0, "n": 300.0}, 2: {"x": 2.0, "n": 300.0}}
    assert stats.compare_windows({1: {"x": 1.0 + 1e-14, "n": 300.0}, 2: dict(want[2])}, want) == []
    problems = stats.compare_windows({1: {"x": 1.001, "n": 300.0}, 3: {"x": 0.0, "n": 1.0}}, want)
    assert len(problems) == 3
    assert any("never emitted" in p for p in problems)
    assert any("not in the reference" in p for p in problems)
    assert any("x 1.001" in p for p in problems)
    assert stats.compare_windows({1: {"x": 1.0}}, {1: {"x": 1.0, "n": 1.0}})  # field sets differ


def test_outcomes_count_failures_against_attempts():
    o = stats.Outcomes(keep=1)
    o.ok(3)
    assert o.check(True, "unused")
    assert not o.check(False, "first")
    o.fail("second")
    assert (o.attempted, o.failed) == (6, 2)
    assert o.messages == ["first"]
    assert math.isclose(o.ratio, 2 / 6)
    assert stats.Outcomes().ratio == 0.0
