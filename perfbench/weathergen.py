"""Weather-event generator for the stream workloads, run as its own process.

It writes reference-shaped weather JSON (one document per line, built by
``ibd_pipeline_spark.sources.weather_sim.weather_message``) into the
directory a file stream source reads. Event time starts at ``BASE_TS``
and advances one second per event, as the reference producer's 1 msg/s.
A seeded share of the events near the end of each file is held back
into the next file, so they arrive out of order; they are never more
than ``MAX_LATE_EVENTS`` seconds of event time behind the newest event
already written, which keeps them inside the query's 2-minute watermark.

Each file is written under a temporary name and renamed into place. One
JSON line per file goes to the log: the file name, when it was due,
when the rename finished (its creation time), how late that was, how
many events it holds, and, per 5-minute window the file touched, the
cumulative number of events written to that window so far.

The first ``--prime-files`` files are written at once. The rest follow
an open loop: the generator waits for the ``--go`` file, which holds the
epoch time ``start``, and file ``prime + j`` is then due at
``start + j / files_per_s`` whether or not the reader keeps up.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import sys
import time
from datetime import datetime, timedelta

BASE_TS = datetime(2024, 6, 1, 12, 0, 0)
WINDOW_S = 300
MAX_LATE_EVENTS = 90


def window_start(event_index: int) -> int:
    """Epoch-free window id: the window's start, in seconds after BASE_TS."""
    return (event_index // WINDOW_S) * WINDOW_S


def plan_files(
    seed: int, n_files: int, events_per_file: int, late_share: float
) -> list[list[int]]:
    """The event indices of each file, in write order.

    Event ``i`` has event time ``BASE_TS + i`` seconds. An event among
    the last ``MAX_LATE_EVENTS`` of a file moves to the next file with
    probability ``late_share``; the final file keeps all of its own."""
    rng = random.Random(seed ^ 0x5EED)
    files: list[list[int]] = []
    carry: list[int] = []
    for k in range(n_files):
        lo, hi = k * events_per_file, (k + 1) * events_per_file
        own = list(range(lo, hi))
        held = []
        if k < n_files - 1:
            tail_from = hi - min(MAX_LATE_EVENTS, events_per_file)
            held = [i for i in own if i >= tail_from and rng.random() < late_share]
            moved = set(held)
            own = [i for i in own if i not in moved]
        body = own + carry
        rng.shuffle(body)
        files.append(body)
        carry = held
    return files


class Renderer:
    """JSON line per event index, built in index order from one seeded
    RNG, so an event's content does not depend on which file holds it."""

    def __init__(self, seed: int):
        from ibd_pipeline_spark.sources.weather_sim import weather_message

        self._message = weather_message
        self._rng = random.Random(seed)
        self.lines: list[str] = []

    def upto(self, n_events: int) -> list[str]:
        for i in range(len(self.lines), n_events):
            msg = self._message(BASE_TS + timedelta(seconds=i), i, self._rng)
            self.lines.append(json.dumps(msg))
        return self.lines


def wait_for_go(path: str, timeout_s: float = 120.0) -> float:
    """Block until ``path`` exists and return the start time it holds."""
    end = time.monotonic() + timeout_s
    while time.monotonic() < end:
        try:
            with open(path, encoding="utf-8") as fh:
                text = fh.read().strip()
        except FileNotFoundError:
            text = ""
        if text:
            return float(text)
        time.sleep(0.01)
    raise TimeoutError(f"no start signal at {path} within {timeout_s} s")


def run(args: argparse.Namespace) -> None:
    renderer = Renderer(args.seed)
    files = plan_files(args.seed, args.files, args.events_per_file, args.late_share)
    os.makedirs(args.dir, exist_ok=True)
    tmp_dir = args.dir.rstrip("/") + ".tmp"
    os.makedirs(tmp_dir, exist_ok=True)
    cumulative: dict[int, int] = {}
    start = None
    with open(args.log, "w", encoding="utf-8") as log:
        for k, body in enumerate(files):
            if k >= args.prime_files:
                if start is None:
                    start = wait_for_go(args.go)
                due = start + (k - args.prime_files) / args.files_per_s
                delay = due - time.time()
                if delay > 0:
                    time.sleep(delay)
            else:
                due = time.time()
            lines = renderer.upto((k + 1) * args.events_per_file)
            name = f"part-{k:06d}.json"
            tmp = os.path.join(tmp_dir, name)
            with open(tmp, "w", encoding="utf-8") as fh:
                fh.write("\n".join(lines[i] for i in body))
                fh.write("\n")
            os.rename(tmp, os.path.join(args.dir, name))
            created = time.time()
            touched: dict[int, int] = {}
            for i in body:
                w = window_start(i)
                cumulative[w] = cumulative.get(w, 0) + 1
                touched[w] = cumulative[w]
            log.write(
                json.dumps(
                    {
                        "file": name,
                        "due": due,
                        "created": created,
                        "late_s": max(0.0, created - due),
                        "events": len(body),
                        "late_events": sum(1 for i in body if i < k * args.events_per_file),
                        "windows": {str(w): c for w, c in touched.items()},
                    }
                )
                + "\n"
            )
            log.flush()
    os.rmdir(tmp_dir)


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--dir", required=True, help="directory the stream source reads")
    ap.add_argument("--log", required=True, help="JSON-lines log of written files")
    ap.add_argument("--files", type=int, required=True)
    ap.add_argument("--events-per-file", type=int, required=True)
    ap.add_argument("--prime-files", type=int, default=0, help="files written at once")
    ap.add_argument("--files-per-s", type=float, default=0.0, help="schedule after the prime")
    ap.add_argument("--go", help="file whose content starts the schedule")
    ap.add_argument("--late-share", type=float, default=0.05)
    args = ap.parse_args(argv)
    if args.prime_files < args.files and (args.files_per_s <= 0 or not args.go):
        ap.error("scheduled files need --files-per-s and --go")
    run(args)


if __name__ == "__main__":
    sys.exit(main())
