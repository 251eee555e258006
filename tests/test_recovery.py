"""Durability evidence: crash-recovery and bounded-state soak.

The exactly-once claims of the lake ingest job (jobs/ingest_job.py —
Structured Streaming file sink + checkpoint) and the bounded-state claim
of the heartbeat aggregator (streaming/heartbeat.py — one state row per
key bucket that holds an active key, so state rows ≤ key cardinality,
the reference's own bound via its 50-user pool, EventProducer.kt:20)
are asserted in docstrings elsewhere; these tests
EXERCISE them across a process-level interruption and a soak:

- kill the ingest query mid-stream (abrupt ``stop()`` between / inside
  micro-batches), restart from the checkpoint, and assert the lake holds
  every input record exactly once — no duplicates from replayed batches
  (the sink's transaction log drops uncommitted files), no losses.
- run the heartbeat under steady multi-batch load and assert the state
  store plateaus at exactly the number of buckets the key pool hashes
  to, then drains to zero after the windows empty (activity-based
  heartbeat: a key leaves the state when its window drains, and an
  empty bucket is removed, AggregationJob.kt:193-204 parity).
"""

from __future__ import annotations

import json
import os
import time

from flink_tank_spark.jobs.ingest_job import start_ingest
from flink_tank_spark.streaming.heartbeat import sliding_metrics_heartbeat
from flink_tank_spark.streaming.sequence import key_bucket

_ARRIVAL = 0


def _write_batch(dirpath: str, name: str, messages: list[str]) -> None:
    global _ARRIVAL
    os.makedirs(dirpath, exist_ok=True)
    tmp = os.path.join(dirpath, f".{name}.tmp")
    with open(tmp, "w") as f:
        for m in messages:
            f.write(f"{_ARRIVAL}\t{m}\n")
            _ARRIVAL += 1
    os.rename(tmp, os.path.join(dirpath, f"{name}.jsonl"))


def _buckets(spark, keys: range) -> int:
    """State rows the heartbeat holds for keys ``u<k>``: their distinct buckets."""
    ids = spark.createDataFrame([(f"u{k}",) for k in keys], "originalId string")
    return ids.select(key_bucket("originalId")).distinct().count()


def _event(i: int) -> str:
    return json.dumps(
        {"id": f"evt-{i}", "type": "t", "timestamp": i + 1, "data": {"k": i}}
    )


def test_ingest_exactly_once_across_kill_and_restart(spark, tmp_path):
    """Commit a few rate-limited micro-batches, kill the query abruptly
    with more batches pending (and possibly one in flight), restart from
    the checkpoint, drain, ingest MORE data — the lake must hold every
    input id exactly once. This is the recovery path a real deployment
    hits on every executor/driver loss."""
    src = str(tmp_path / "in")
    lake = str(tmp_path / "lake")
    ckpt = str(tmp_path / "ckpt")

    n_files, per_file = 12, 25
    ids = []
    for b in range(n_files):
        msgs = [_event(b * per_file + i) for i in range(per_file)]
        ids += [f"evt-{b * per_file + i}" for i in range(per_file)]
        _write_batch(src, f"b{b:02d}", msgs)

    # phase 1: 1 file per micro-batch; kill after ≥3 committed batches
    q1, q2 = start_ingest(spark, src, lake, ckpt, max_files_per_trigger=1)
    try:
        deadline = time.time() + 120
        while time.time() < deadline:
            committed = [
                p for p in q1.recentProgress if p["numInputRows"] > 0
            ]
            if len(committed) >= 3:
                break
            time.sleep(0.2)
        else:
            raise AssertionError("phase 1 never committed 3 batches")
    finally:
        # abrupt stop: interrupts the stream-execution thread; an
        # in-flight batch is abandoned (its files stay uncommitted)
        q1.stop()
        q2.stop()
    q1.awaitTermination(60)
    q2.awaitTermination(60)

    # phase 2: restart from the SAME checkpoint, drain the backlog
    q1, q2 = start_ingest(spark, src, lake, ckpt, once=True)
    q1.awaitTermination(120)
    q2.awaitTermination(120)

    # phase 3: more input after recovery — the stream keeps going
    extra = [_event(100000 + i) for i in range(per_file)]
    ids += [f"evt-{100000 + i}" for i in range(per_file)]
    _write_batch(src, "late", extra)
    q1, q2 = start_ingest(spark, src, lake, ckpt, once=True)
    q1.awaitTermination(120)
    q2.awaitTermination(120)

    # batch read of a streaming file sink goes through _spark_metadata:
    # only COMMITTED files are visible, so any duplicate here would be a
    # genuine replay of committed data, not an orphan of the kill
    landed = spark.read.parquet(f"{lake}/events").select("id").collect()
    got = [r.id for r in landed]
    assert len(got) == len(ids), (len(got), len(ids))
    assert sorted(got) == sorted(ids)
    # partitioned layout survived the restart too
    assert any(
        d.startswith("event_date=") for d in os.listdir(f"{lake}/events")
    )


def test_heartbeat_state_plateaus_at_key_cardinality(spark, tmp_path):
    """Soak the heartbeat aggregator: steady events for a FIXED key pool
    must hold the state store at exactly one row per bucket the pool
    hashes to (every active user's state, the reference's state bound,
    folded into its bucket), and once input stops and windows age out,
    state must drain to 0 (activity-based heartbeat removes drained keys
    instead of ticking forever)."""
    src = str(tmp_path / "in")
    os.makedirs(src)
    n_keys = 30
    n_rows = _buckets(spark, range(n_keys))

    def feed(batch: str, keys: range) -> None:
        with open(os.path.join(src, f".{batch}.tmp"), "w") as f:
            for k in keys:
                f.write(f'{{"originalId":"u{k}","eventType":"e"}}\n')
        os.rename(
            os.path.join(src, f".{batch}.tmp"), os.path.join(src, f"{batch}.jsonl")
        )

    feed("b0", range(n_keys))
    raw = spark.readStream.schema("originalId string, eventType string").json(src)
    metrics = sliding_metrics_heartbeat(raw, window_ms=3000, emit_every_ms=500)
    q = (
        metrics.writeStream.format("memory")
        .queryName("hb_soak")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="250 milliseconds")
        .start()
    )
    try:
        observed: list[int] = []
        # soak: keep a subset of keys active while sampling state size
        deadline = time.time() + 60
        fed = 1
        while time.time() < deadline:
            p = q.lastProgress
            if p and p.get("stateOperators"):
                observed.append(p["stateOperators"][0]["numRowsTotal"])
            if fed < 8 and time.time() - (deadline - 60) > fed * 1.0:
                feed(f"b{fed}", range(0, 5))  # keys u0..u4 stay hot
                fed += 1
            if fed >= 8 and observed and max(observed) >= n_rows:
                break
            time.sleep(0.25)
        assert observed, "no state metrics reported"
        # plateau AT the pool's bucket count: all keys have state, never
        # more (state rows are per bucket, not per-event/per-window)
        assert max(observed) == n_rows, (max(observed), n_rows)

        # stop feeding; windows (3 s) drain; state must go to ZERO
        drain_deadline = time.time() + 45
        last = None
        while time.time() < drain_deadline:
            p = q.lastProgress
            if p and p.get("stateOperators"):
                last = p["stateOperators"][0]["numRowsTotal"]
                if last == 0:
                    break
            time.sleep(0.5)
        assert last == 0, f"state never drained: {last} rows remain"
    finally:
        q.stop()


def test_heartbeat_rocksdb_state_survives_restart(spark, tmp_path):
    """The heartbeat aggregator under the RocksDB state-store provider
    (the off-heap/spillable configuration a state-scale deployment
    runs): state plateaus at the key pool's bucket count, survives a
    stop/restart from the checkpoint (RocksDB snapshots + changelog live
    under the checkpoint dir), counts new keys' buckets on top of
    recovered state, and drains to zero when input stops."""
    provider = (
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider"
    )
    src = str(tmp_path / "in")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)

    def feed(batch: str, keys: range) -> None:
        tmp = os.path.join(src, f".{batch}.tmp")
        with open(tmp, "w") as f:
            for k in keys:
                f.write(f'{{"originalId":"u{k}","eventType":"e"}}\n')
        os.rename(tmp, os.path.join(src, f"{batch}.jsonl"))

    def start():
        raw = spark.readStream.schema(
            "originalId string, eventType string"
        ).json(src)
        # 45 s window: long enough that run-1 state is still live
        # across the stop/restart (the heartbeat is processing-time
        # based, so a short window would age out during the restart gap)
        metrics = sliding_metrics_heartbeat(
            raw, window_ms=45_000, emit_every_ms=500
        )
        return (
            metrics.writeStream.format("noop")
            .option("checkpointLocation", ckpt)
            .trigger(processingTime="250 milliseconds")
            .start()
        )

    def wait_state(q, target, timeout=60):
        deadline = time.time() + timeout
        last = None
        while time.time() < deadline:
            p = q.lastProgress
            if p and p.get("stateOperators"):
                last = p["stateOperators"][0]["numRowsTotal"]
                if last == target:
                    return last
            time.sleep(0.25)
        return last

    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set("spark.sql.streaming.stateStore.providerClass", provider)
    try:
        feed("b0", range(20))
        q = start()
        try:
            n_rows = _buckets(spark, range(20))
            assert wait_state(q, n_rows) == n_rows
        finally:
            q.stop()  # abrupt: no drain, state lives only in RocksDB
            q.awaitTermination(30)
        # restart from the same checkpoint; recovered state + new keys.
        # The new keys alone hash to fewer buckets than all 25 together,
        # so reaching the 25-key count needs the recovered rows.
        feed("b1", range(20, 25))
        q = start()
        try:
            n_rows = _buckets(spark, range(25))
            assert _buckets(spark, range(20, 25)) < n_rows
            assert wait_state(q, n_rows) == n_rows
            # stop feeding: windows (45 s) empty, heartbeat removes
            # drained keys and empty buckets instead of ticking forever
            assert wait_state(q, 0, timeout=120) == 0
        finally:
            q.stop()
            q.awaitTermination(30)
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)
