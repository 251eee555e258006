"""Job 2 over a populated key pool: per-batch cost of the heartbeat once
every key of the pool has a live window.

The same shape as ``scripts/bench_sequence_state.py``, for Job 2
(``jobs.pipeline.start_aggregation_job``, the reference cadence: 10-min
window, 5-s emission). One query runs for the whole measurement: it
first absorbs one event per key of the pool (``--keys``, default 50,000,
the ``chain_drain`` pool), so every key has state, then ``--batches``
files of ``--events`` events over the same pool, each written once the
one before it is committed. Between them the query keeps running its
timer batches, which fire every key every 5 s.

Per data batch it reports, from the batch's progress: ``addBatch`` ms,
the state operator's ``allUpdatesTimeMs`` (summed over tasks),
``numRowsTotal``, ``numRowsUpdated`` and RocksDB's
``rocksdbBytesCopied`` (bytes the batch uploaded to the checkpoint);
and the number, summed ``addBatch`` ms and uploaded bytes of the timer
batches that ran before it. Prints ONE JSON line.

Run it from the root of a checkout; it measures that checkout's
``flink_tank_spark`` (Spark's Python workers import the package from the
working directory, so the driver does too):

    python scripts/bench_heartbeat_state.py [--keys N] [--events N]
        [--batches N] [--seed N] [--cpus N]
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.getcwd())

FILE_TIMEOUT_S = 600.0  # longest wait for one file's data batch


def _write(path: str, ids: list[str]) -> None:
    tmp = os.path.join(os.path.dirname(path), "." + os.path.basename(path))
    with open(tmp, "w") as f:
        for i, k in enumerate(ids):
            f.write(json.dumps({
                "originalId": k, "eventType": ("view", "click", "buy")[i % 3],
                "processedAt": "2026-01-01T00:00:00.000Z", "processingDelay": 1,
                "enrichedData": "{}", "sequence": 1,
            }) + "\n")
    os.rename(tmp, path)


def _figures(p: dict) -> dict:
    op = p["stateOperators"][0]
    return {
        "batch": p["batchId"],
        "input_rows": p["numInputRows"],
        "add_batch_ms": p["durationMs"].get("addBatch", 0),
        "state_update_ms": op["allUpdatesTimeMs"],
        "state_rows_total": op["numRowsTotal"],
        "state_rows_updated": op["numRowsUpdated"],
        "rocksdb_bytes_copied": int(op.get("customMetrics", {}).get("rocksdbBytesCopied", 0)),
    }


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
    from flink_tank_spark.jobs.pipeline import start_aggregation_job
    from flink_tank_spark.session import get_spark

    work = tempfile.mkdtemp(prefix="hb-state-")
    d = {k: os.path.join(work, k) for k in ("processed", "metrics", "chk")}
    os.makedirs(d["processed"])
    spark = get_spark("bench-heartbeat-state", cpus=args.cpus)
    rng = random.Random(args.seed)
    pool = [f"user-{i}" for i in range(1, args.keys + 1)]
    plan = [pool] + [
        [rng.choice(pool) for _ in range(args.events)] for _ in range(args.batches)
    ]
    progress: dict[int, dict] = {}
    runs = []
    complete = True
    q = start_aggregation_job(spark, d["processed"], d["metrics"], d["chk"])
    try:
        for b, ids in enumerate(plan):
            last = max(progress, default=-1)
            _write(os.path.join(d["processed"], f"batch-{b:04d}.txt"), ids)
            deadline = time.time() + FILE_TIMEOUT_S
            data = None
            while data is None and time.time() < deadline and q.isActive:
                for p in q.recentProgress:
                    progress[p["batchId"]] = p
                data = next((p for i, p in sorted(progress.items())
                             if i > last and p["numInputRows"] > 0), None)
                time.sleep(0.2)
            if data is None:
                complete = False
                break
            timers = [_figures(p) for i, p in sorted(progress.items())
                      if last < i < data["batchId"] and p.get("stateOperators")]
            runs.append({
                "run": "populate" if b == 0 else f"drain-{b}",
                "events": len(ids),
                **_figures(data),
                "timer_batches_before": len(timers),
                "timer_add_batch_ms": sum(t["add_batch_ms"] for t in timers),
                "timer_rocksdb_bytes_copied": sum(t["rocksdb_bytes_copied"] for t in timers),
            })
    finally:
        q.stop()
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)

    drains = runs[1:]
    med = lambda k: statistics.median(r[k] for r in drains) if drains else None  # noqa: E731
    print(json.dumps({
        "program": os.path.dirname(os.path.abspath(flink_tank_spark.__file__)),
        "keys": args.keys,
        "events": args.events,
        "seed": args.seed,
        "complete": complete,
        "drain_add_batch_ms_median": med("add_batch_ms"),
        "drain_state_update_ms_median": med("state_update_ms"),
        "drain_rocksdb_bytes_copied_median": med("rocksdb_bytes_copied"),
        "runs": runs,
    }))
    return 0 if complete else 1


if __name__ == "__main__":
    sys.exit(main())
