"""Seeded event generator for the chain workloads.

Distributions follow the reference producer (``flink_tank_spark/producer.py``):
five event types, 5 % malformed records drawn round-robin from the four
malformation variants, a ``data`` map of session id / value / category,
and event timestamps advancing 500 ms per event. The key pool is a
parameter (the reference uses 50 keys; ``chain_drain`` uses 50,000).
The constants are copied, not imported, so the program under test only
ever sees the generated wire files.

Wire format (``io.kafka.read_jsonl_stream``): one ``<arrival>\\t<json>``
line per event; ``arrival`` is the global generation order. Files are
written to a dot-prefixed temporary name and renamed into place, so the
file source never lists a partial file.

Run as a script this is the open-loop generator of ``chain_paced``: one
process, one thread, one file per tick at a fixed offered rate, started
at an absolute epoch time given by the runner. It never waits for the
system under test. When done it writes a JSON log with every file's due
and written times.

    python3 perfbench/gen.py --out DIR --log FILE --seed N --keys 50 \\
        --files-per-s 10 --events-per-file 20 --seconds 10 --t0 EPOCH_S \\
        [--first-arrival N]
"""

from __future__ import annotations

import argparse
import json
import os
import random
import time

EVENT_TYPES = ["login", "purchase", "view", "click", "logout"]
MALFORMED_RATE = 0.05
EVENT_INTERVAL_MS = 500
START_TS_MS = 1_700_000_000_000
MALFORMED_VARIANTS = [
    "{invalid json",
    "{}",
    '{"id": "user-1"}',
    '{"id": "user-1", "type": "", "timestamp": "not-a-number"}',
]


class EventSource:
    """Deterministic event stream: the same seed gives the same lines."""

    def __init__(self, seed: int, n_keys: int, first_arrival: int = 0):
        self.rng = random.Random(seed)
        self.n_keys = n_keys
        self.arrival = first_arrival
        self.ts = START_TS_MS + first_arrival * EVENT_INTERVAL_MS
        self.malformed = 0

    def line(self) -> str:
        rng = self.rng
        self.ts += EVENT_INTERVAL_MS
        if rng.random() < MALFORMED_RATE:
            value = MALFORMED_VARIANTS[self.malformed % len(MALFORMED_VARIANTS)]
            self.malformed += 1
        else:
            value = json.dumps(
                {
                    "id": f"user-{rng.randint(1, self.n_keys)}",
                    "type": rng.choice(EVENT_TYPES),
                    "timestamp": self.ts,
                    "data": {
                        "session_id": f"session-{rng.randint(1, 1000)}",
                        "value": round(rng.random() * 100, 2),
                        "category": rng.choice(["A", "B", "C"]),
                    },
                },
                separators=(",", ":"),
            )
        out = f"{self.arrival}\t{value}\n"
        self.arrival += 1
        return out

    def write_file(self, dirpath: str, name: str, n: int) -> None:
        tmp = os.path.join(dirpath, f".{name}.tmp")
        with open(tmp, "w") as f:
            f.writelines(self.line() for _ in range(n))
        os.rename(tmp, os.path.join(dirpath, name))


def file_name(i: int, prefix: str = "in") -> str:
    return f"{prefix}-{i:06d}.jsonl"


def write_files(dirpath: str, src: EventSource, n_files: int, per_file: int,
                prefix: str = "in") -> list[str]:
    """Write ``n_files`` files at once (a backlog, or a warm-up)."""
    os.makedirs(dirpath, exist_ok=True)
    names = [file_name(i, prefix) for i in range(n_files)]
    for n in names:
        src.write_file(dirpath, n, per_file)
    return names


def run_paced(
    out: str, log: str, seed: int, n_keys: int, files_per_s: float,
    per_file: int, seconds: float, t0: float, first_arrival: int,
) -> None:
    os.makedirs(out, exist_ok=True)
    src = EventSource(seed, n_keys, first_arrival)
    n_files = max(1, int(seconds * files_per_s))
    due, written = [], []
    for i in range(n_files):
        d = t0 + i / files_per_s
        wait = d - time.time()
        if wait > 0:
            time.sleep(wait)
        src.write_file(out, file_name(i), per_file)
        due.append(d)
        written.append(time.time())
    tmp = log + ".tmp"
    with open(tmp, "w") as f:
        json.dump({"per_file": per_file, "due": due, "written": written}, f)
    os.rename(tmp, log)


def main() -> None:
    ap = argparse.ArgumentParser(description="open-loop wire-file generator")
    ap.add_argument("--out", required=True)
    ap.add_argument("--log", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--keys", type=int, required=True)
    ap.add_argument("--files-per-s", type=float, required=True)
    ap.add_argument("--events-per-file", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--t0", type=float, required=True)
    ap.add_argument("--first-arrival", type=int, default=0)
    a = ap.parse_args()
    run_paced(a.out, a.log, a.seed, a.keys, a.files_per_s, a.events_per_file,
              a.seconds, a.t0, a.first_arrival)


if __name__ == "__main__":
    main()
