"""The seeded input generators: same seed, same inputs; every event
written once; out-of-order events stay inside the watermark; the log's
per-window cumulative counts match what the files hold."""

from __future__ import annotations

import json
import os

import pyarrow.parquet as pq

import datagen
import weathergen


def test_plan_files_writes_every_event_once_and_late_ones_within_bound():
    files = weathergen.plan_files(seed=7, n_files=12, events_per_file=50, late_share=0.3)
    flat = [i for body in files for i in body]
    assert sorted(flat) == list(range(12 * 50))
    newest = -1
    late = 0
    for body in files:
        for i in body:
            if i < newest:
                late += 1
                assert newest - i <= weathergen.MAX_LATE_EVENTS + 50
        newest = max(newest, max(body))
    assert late > 0
    assert files == weathergen.plan_files(seed=7, n_files=12, events_per_file=50, late_share=0.3)
    assert files != weathergen.plan_files(seed=8, n_files=12, events_per_file=50, late_share=0.3)


def test_late_events_are_never_behind_the_watermark():
    """An event moved to the next file is at most MAX_LATE_EVENTS seconds
    older than the newest event of the file before it, well inside the
    query's 120 s watermark delay."""
    files = weathergen.plan_files(seed=3, n_files=20, events_per_file=200, late_share=0.5)
    seen_max = -1
    for body in files:
        if seen_max >= 0:
            assert min(body) >= seen_max - weathergen.MAX_LATE_EVENTS
        seen_max = max(seen_max, max(body))
    assert weathergen.MAX_LATE_EVENTS < 120


def _written(tmp_path, seed):
    d = tmp_path / f"src{seed}"
    log = tmp_path / f"log{seed}.jsonl"
    weathergen.main(
        ["--seed", str(seed), "--dir", str(d), "--log", str(log), "--prime-files", "4",
         "--files", "4", "--events-per-file", "100", "--late-share", "0.2"]
    )
    return d, [json.loads(line) for line in log.read_text().splitlines()]


def test_log_matches_file_contents(tmp_path):
    d, log = _written(tmp_path, 5)
    assert [e["file"] for e in log] == sorted(os.listdir(d))
    cumulative: dict[str, int] = {}
    for entry in log:
        docs = [json.loads(line) for line in (d / entry["file"]).read_text().splitlines()]
        assert len(docs) == entry["events"]
        for doc in docs:
            i = doc["metadata"]["iteration"]
            w = str(weathergen.window_start(i))
            cumulative[w] = cumulative.get(w, 0) + 1
            assert doc["timestamp"] == (
                weathergen.BASE_TS + __import__("datetime").timedelta(seconds=i)
            ).isoformat()
        for w, c in entry["windows"].items():
            assert cumulative[w] == c
    assert sum(e["events"] for e in log) == 400
    assert sum(e["late_events"] for e in log) > 0


def test_same_seed_same_bytes(tmp_path):
    a, _ = _written(tmp_path, 9)
    b_dir = tmp_path / "again"
    b_dir.mkdir()
    b, _ = _written(b_dir, 9)
    for name in os.listdir(a):
        assert (a / name).read_bytes() == (b / name).read_bytes()


def test_datagen_deterministic_and_catalog_shaped(tmp_path):
    t1 = datagen.tables(seed=1, sf=0.001)
    t2 = datagen.tables(seed=1, sf=0.001)
    assert set(t1) == {"region", "nation", "customer", "supplier", "part", "orders",
                       "lineitem", "events", "documents", "embeddings"}
    for name in t1:
        assert t1[name].equals(t2[name]), name
    assert not t1["lineitem"].equals(datagen.tables(seed=2, sf=0.001)["lineitem"])
    assert t1["lineitem"].num_rows == 6000 and t1["orders"].num_rows == 1500
    assert str(t1["orders"].schema.field("o_orderdate").type) == "timestamp[us]"
    assert str(t1["embeddings"].schema.field("embedding").type) == "list<item: float>"
    datagen.write(1, 0.001, str(tmp_path))
    back = pq.read_table(tmp_path / "events.parquet")
    assert back.schema.names == ["event_id", "ts", "user_id", "event_type", "value", "props"]
    docs = t1["documents"].to_pydict()
    assert all(n == len(t) for n, t in zip(docs["n_chars"], docs["text"]))
    assert any(t.endswith(" dup") for t in docs["text"])


def test_scheduled_files_wait_for_go_and_keep_the_schedule(tmp_path):
    d, log_path, go = tmp_path / "src", tmp_path / "log.jsonl", tmp_path / "go"
    start = __import__("time").time() + 0.3
    go.write_text(repr(start))
    weathergen.main(
        ["--seed", "2", "--dir", str(d), "--log", str(log_path), "--prime-files", "1",
         "--files", "4", "--events-per-file", "10", "--files-per-s", "20", "--go", str(go)]
    )
    log = [json.loads(line) for line in log_path.read_text().splitlines()]
    assert [round(e["due"] - start, 6) for e in log[1:]] == [0.0, 0.05, 0.1]
    assert all(e["created"] >= e["due"] for e in log[1:])
    assert all(e["late_s"] < 0.5 for e in log)
