"""Wall-clock test for the exact-parity heartbeat aggregator.

Time-dependent by nature (processing-time timers), so assertions are
structural: emissions happen on the timer cadence, counts reflect the
events seen, a zero-count heartbeat appears after input stops (the
reference's always-emit contract, AggregationJob.kt:171-186), and the
window bounds are exactly [now-window, now].
"""

from __future__ import annotations

import json
import os
import time

from flink_tank_spark.streaming.heartbeat import sliding_metrics_heartbeat


def test_heartbeat_emits_and_decays(spark, tmp_path):
    src = str(tmp_path / "in")
    os.makedirs(src)
    # one burst of events for two keys
    with open(os.path.join(src, "b1.jsonl"), "w") as f:
        for i, (k, t) in enumerate([("u1", "a"), ("u1", "b"), ("u1", "a"), ("u2", "c")]):
            f.write(f'{{"originalId":"{k}","eventType":"{t}"}}\n')

    raw = (
        spark.readStream.schema("originalId string, eventType string")
        .json(src)
    )
    # window 4s, emit every 1s -> events age out while the query runs
    metrics = sliding_metrics_heartbeat(raw, window_ms=4000, emit_every_ms=1000)
    q = (
        metrics.writeStream.format("memory")
        .queryName("hb_sink")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="500 milliseconds")
        .start()
    )
    try:
        deadline = time.time() + 40
        rows = []
        while time.time() < deadline:
            rows = spark.sql("SELECT * FROM hb_sink").collect()
            u1 = [r for r in rows if r.userId == "u1"]
            if any(r.totalEventCount == 0 for r in u1) and any(
                r.totalEventCount == 3 for r in u1
            ):
                break
            time.sleep(1)
    finally:
        q.stop()

    u1 = sorted((r for r in rows if r.userId == "u1"), key=lambda r: r.windowEnd)
    assert u1, "no emissions for u1"
    # full window emission: all 3 events, per-type counts match
    full = [r for r in u1 if r.totalEventCount == 3]
    assert full, f"never saw the 3-event window: {[r.totalEventCount for r in u1]}"
    assert json.loads(full[0].eventTypeCounts) == {"a": 2, "b": 1}
    # always-emit contract: a zero-count heartbeat with an empty map
    zero = [r for r in u1 if r.totalEventCount == 0]
    assert zero, "no zero-count heartbeat after events aged out"
    assert json.loads(zero[0].eventTypeCounts) == {}
    # window bounds: [end-4s, end], ends aligned to the 1s emit cadence
    import datetime as dt

    for r in u1:
        assert r.windowEnd.endswith(".000Z")  # 1s-aligned timer expiry
        ws = dt.datetime.strptime(r.windowStart, "%Y-%m-%dT%H:%M:%S.%fZ")
        we = dt.datetime.strptime(r.windowEnd, "%Y-%m-%dT%H:%M:%S.%fZ")
        assert (we - ws) == dt.timedelta(seconds=4)
