"""Tracer bookkeeping and the parsing of Spark's SQL-metric strings."""

from __future__ import annotations

import types

import pytest

import spans


@pytest.mark.parametrize(
    "text, value",
    [
        ("10,000", 10000.0),
        ("735 ms", 0.735),
        ("78.4 KiB", 78.4 * 1024),
        ("total (min, med, max (stageId: taskId))\n3.8 s (1.8 s, 1.9 s, 1.9 s (0: 1))", 3.8),
        ("total (min, med, max (stageId: taskId))\n2.0 MiB (1 KiB, 1 KiB)", 2 * 1024**2),
        ("", 0.0),
    ],
)
def test_parse_metric_reads_the_total(text, value):
    assert spans.parse_metric(text) == pytest.approx(value)


def test_self_time_subtracts_direct_children_only():
    tr = spans.Tracer()
    with tr.span("query", "q") as q:
        with tr.span("construct", "q") as c:
            with tr.span("catalog.load", "q"):
                pass
        tr.add("exec", "q", 0.0)
    kids = tr.children(q["id"])
    assert [k["name"] for k in kids] == ["construct", "exec"]
    covered = sum(k["end"] - k["start"] for k in kids)
    assert tr.self_time(q) == pytest.approx(q["end"] - q["start"] - covered)
    assert all(s["trace"] == "q" for s in tr.spans)
    assert tr.spans[2]["parent"] == c["id"]


def test_wrapped_functions_open_spans_only_inside_a_traced_query():
    mod = types.ModuleType("pkg_for_test.mod")
    calls = []

    def load(x):
        calls.append(x)
        return x * 2

    mod.load = load
    import sys

    sys.modules["pkg_for_test.mod"] = mod
    try:
        tr = spans.Tracer()
        tr.wrap_module_functions("pkg_for_test", mod, ["load"])
        assert mod.load(1) == 2 and not tr.spans  # no open span: plain call
        with tr.span("construct", "t1"):
            assert mod.load(2) == 4
        assert [(s["name"], s["trace"]) for s in tr.spans] == [("construct", "t1"), ("mod.load", "t1")]
        tr.restore()
        assert mod.load is load
    finally:
        del sys.modules["pkg_for_test.mod"]
