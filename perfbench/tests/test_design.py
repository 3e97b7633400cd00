"""BENCHMARK.json and design.json describe the same benchmark, and every
query a workload runs is registered with a DuckDB oracle."""

from __future__ import annotations

import json
import os

from conftest import BENCH, ROOT


def _load(path):
    with open(path, encoding="utf-8") as fh:
        return json.load(fh)


def test_benchmark_and_design_agree():
    bench = _load(os.path.join(ROOT, "BENCHMARK.json"))
    design = _load(os.path.join(BENCH, "design.json"))
    assert [w["name"] for w in bench["workloads"]] == list(design["workloads"])
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == {
        k: v["unit"] for k, v in design["end_to_end"].items()
    }
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == {
        k: v["unit"] for k, v in design["per_layer"].items()
    }
    for w in bench["workloads"]:
        assert w["why"], w["name"]
    setup = [m for m in bench["end_to_end"] if m["name"] == "setup_s"][0]
    assert setup["bound"] == max(m["bound"] for m in bench["end_to_end"])


def test_every_benchmark_query_has_an_oracle():
    from ibd_pipeline_spark.queries import all_oracles, all_queries

    design = _load(os.path.join(BENCH, "design.json"))
    registry, oracles = all_queries(), all_oracles()
    for name, wl in design["workloads"].items():
        for q in wl.get("queries", []):
            assert q in registry, (name, q)
            assert q in oracles, (name, q)
