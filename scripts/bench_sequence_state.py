"""Job 1 over a populated key pool: per-batch cost of the stateful
sequence once every key has state.

perfbench's ``chain_drain`` drains one backlog from an empty state
store, so a batch only ever writes the keys it touches. This script
measures the other shape. It first drains one event per key of the pool
(``--keys``, default 50,000, the ``chain_drain`` pool), so every key has
a stored sequence, then drains ``--batches`` backlogs of ``--events``
events over the same pool. Each drain is its own ``availableNow`` run of
Job 1 (``jobs.pipeline.start_processor_job``) on one checkpoint, in one
session, so the populate run also pays JIT and Python-worker start-up.

Per run it reports, from the query's last progress: ``addBatch`` ms, the
state operator's ``allUpdatesTimeMs`` (summed over tasks),
``numRowsTotal`` and ``numRowsUpdated``, RocksDB's ``rocksdbBytesCopied``
(bytes uploaded to the checkpoint) and the bytes of the files the run
added under ``<checkpoint>/state``. ``correct`` says whether every
batch's (id, sequence) pairs continue each key's count from the state
before it. Prints ONE JSON line.

Run it from the root of a checkout; it measures that checkout's
``flink_tank_spark`` (Spark's Python workers import the package from the
working directory, so the driver does too):

    python scripts/bench_sequence_state.py [--keys N] [--events N]
        [--batches N] [--seed N] [--cpus N]
"""

from __future__ import annotations

import argparse
import collections
import json
import os
import random
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.getcwd())


def _write(path: str, ids: list[str], first_arrival: int) -> None:
    tmp = os.path.join(os.path.dirname(path), "." + os.path.basename(path))
    with open(tmp, "w") as f:
        for i, k in enumerate(ids):
            event = {"id": k, "type": "view", "timestamp": 1_700_000_000_000 + i,
                     "data": {"value": i}}
            f.write(f"{first_arrival + i}\t{json.dumps(event)}\n")
    os.rename(tmp, path)


def _state_files(root: str) -> dict[str, int]:
    out = {}
    for d, _, names in os.walk(root):
        for n in names:
            p = os.path.join(d, n)
            out[p] = os.path.getsize(p)
    return out


def _sequences(processed: str, seen: set[str]) -> collections.Counter:
    """(id, sequence) pairs of the wire files not in ``seen``."""
    got: collections.Counter = collections.Counter()
    for n in sorted(os.listdir(processed)):
        if n.startswith(".") or n in seen or not n.endswith(".txt"):
            continue
        seen.add(n)
        with open(os.path.join(processed, n)) as f:
            for line in f:
                e = json.loads(line)
                got[(e["originalId"], e["sequence"])] += 1
    return got


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--keys", type=int, default=50_000)
    ap.add_argument("--events", type=int, default=1_500)
    ap.add_argument("--batches", type=int, default=4)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--cpus", type=int, default=3)
    args = ap.parse_args()
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")

    import flink_tank_spark
    from flink_tank_spark.jobs.pipeline import start_processor_job
    from flink_tank_spark.session import get_spark

    work = tempfile.mkdtemp(prefix="seq-state-")
    d = {k: os.path.join(work, k) for k in ("src", "processed", "errors", "chk")}
    os.makedirs(d["src"])
    spark = get_spark("bench-sequence-state", cpus=args.cpus)
    rng = random.Random(args.seed)
    counts: collections.Counter = collections.Counter()
    seen: set[str] = set()
    arrival = 0
    runs = []
    correct = True
    try:
        pool = [f"user-{i}" for i in range(1, args.keys + 1)]
        plan = [pool] + [
            [rng.choice(pool) for _ in range(args.events)] for _ in range(args.batches)
        ]
        for b, ids in enumerate(plan):
            _write(os.path.join(d["src"], f"in-{b:04d}.jsonl"), ids, arrival)
            arrival += len(ids)
            expected: collections.Counter = collections.Counter()
            for k in ids:
                counts[k] += 1
                expected[(k, counts[k])] += 1
            before = _state_files(os.path.join(d["chk"], "state"))
            t0 = time.time()
            q = start_processor_job(
                spark, d["src"], d["processed"], d["errors"], d["chk"],
                trigger_interval=None, available_now=True,
            )
            q.awaitTermination()
            wall = time.time() - t0
            p = q.lastProgress
            op = p["stateOperators"][0]
            after = _state_files(os.path.join(d["chk"], "state"))
            ok = _sequences(d["processed"], seen) == expected
            correct = correct and ok
            runs.append({
                "run": "populate" if b == 0 else f"drain-{b}",
                "events": len(ids),
                "wall_s": round(wall, 3),
                "add_batch_ms": p["durationMs"].get("addBatch", 0),
                "state_update_ms": op["allUpdatesTimeMs"],
                "state_rows_total": op["numRowsTotal"],
                "state_rows_updated": op["numRowsUpdated"],
                "rocksdb_bytes_copied": op.get("customMetrics", {}).get("rocksdbBytesCopied"),
                "state_bytes_added": sum(s for f, s in after.items() if f not in before),
                "correct": ok,
            })
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)

    drains = runs[1:]
    med = lambda k: statistics.median(r[k] for r in drains) if drains else None  # noqa: E731
    print(json.dumps({
        "program": os.path.dirname(os.path.abspath(flink_tank_spark.__file__)),
        "keys": args.keys,
        "events": args.events,
        "seed": args.seed,
        "correct": correct,
        "drain_add_batch_ms_median": med("add_batch_ms"),
        "drain_state_update_ms_median": med("state_update_ms"),
        "drain_state_bytes_added_median": med("state_bytes_added"),
        "runs": runs,
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
