"""Tests of the exact-parity heartbeat aggregator.

The wall-clock tests are time-dependent by nature (processing-time
timers), so their assertions are structural: emissions happen on the
timer cadence, also for a key that gets data in every micro-batch,
counts reflect the events seen, a zero-count heartbeat appears after
input stops (the reference's always-emit contract,
AggregationJob.kt:171-186), and the window bounds are exactly
[now-window, now]. The bucket function itself is tested without Spark,
driven through a fake ``GroupState`` whose processing time the test
sets.
"""

from __future__ import annotations

import json
import os
import pickle
import time

import pandas as pd
import pytest

from flink_tank_spark.streaming.heartbeat import (
    make_heartbeat_fn,
    sliding_metrics_heartbeat,
)


class FakeState:
    """The parts of ``GroupState`` the heartbeat uses; the state value
    goes through pickle, as Spark stores it."""

    def __init__(self, value: tuple | None = None):
        self.value = None if value is None else pickle.dumps(value)
        self.now = 0
        self.hasTimedOut = False
        self.fires_at: int | None = None
        self.removed = False

    def getCurrentProcessingTimeMs(self) -> int:
        return self.now

    @property
    def exists(self) -> bool:
        return self.value is not None

    @property
    def get(self) -> tuple:
        return pickle.loads(self.value)

    def update(self, value: tuple) -> None:
        self.value = pickle.dumps(tuple(value))

    def remove(self) -> None:
        self.value = None
        self.removed = True

    def setTimeoutDuration(self, ms: int) -> None:
        self.fires_at = self.now + ms


def _call(fn, state: FakeState, now: int, rows: list | None = None) -> list[tuple]:
    """One call at processing time ``now``: a data call with ``rows``
    of (originalId, eventType), else a timer call. Returns the emitted
    (userId, windowEnd, totalEventCount, eventTypeCounts)."""
    state.now = now
    state.hasTimedOut = rows is None
    state.fires_at = None
    data = [] if rows is None else [pd.DataFrame(rows, columns=["originalId", "eventType"])]
    out = [r for pdf in fn((0,), iter(data), state) for r in pdf.itertuples(index=False)]
    return [(r.userId, r.windowEnd, r.totalEventCount, json.loads(r.eventTypeCounts))
            for r in out]


def _timers_until(fn, state: FakeState, end: int) -> list[tuple]:
    """Runs the bucket's timer calls, each at its armed time, up to ``end``."""
    out = []
    while state.exists and state.fires_at is not None and state.fires_at <= end:
        out += _call(fn, state, state.fires_at)
    return out


def _end(ms: int) -> str:
    return pd.Timestamp(ms, unit="ms").strftime("%Y-%m-%dT%H:%M:%S.%f")[:-3] + "Z"


def test_bucket_fn_keeps_an_event_stamped_at_the_cutoff():
    fn = make_heartbeat_fn(window_ms=60_000, emit_every_ms=5_000)
    state = FakeState()
    assert _call(fn, state, 99_999, [("a", "x")]) == []
    assert state.fires_at == 100_000
    # a data call fires the due key before it adds its rows
    assert _call(fn, state, 100_000, [("a", "y")]) == [("a", _end(100_000), 1, {"x": 1})]
    out = {end: (n, counts) for _, end, n, counts in _timers_until(fn, state, 165_000)}
    # cutoff 95,000: both events; cutoff 100,000: the event stamped at
    # 100,000 stays, the one stamped at 99,999 (one slot earlier) goes
    assert out[_end(155_000)] == (2, {"x": 1, "y": 1})
    assert out[_end(160_000)] == (1, {"y": 1})
    assert out[_end(165_000)] == (0, {})
    assert state.removed and not state.exists


def test_bucket_fn_fires_keys_of_one_bucket_independently():
    fn = make_heartbeat_fn(window_ms=20_000, emit_every_ms=5_000)
    # one bucket, two keys armed for different times
    state = FakeState((["a", "b"], [5_000, 10_000], [0, 1], [0, 1], ["x", "y"], [1, 2]))
    assert _call(fn, state, 5_000) == [("a", _end(5_000), 1, {"x": 1})]
    assert state.fires_at == 10_000
    # b keeps its own next fire; a data call for b fires both due keys
    out = _call(fn, state, 12_000, [("b", "y")])
    assert sorted(out) == [("a", _end(10_000), 1, {"x": 1}), ("b", _end(10_000), 2, {"y": 2})]
    assert state.fires_at == 15_000
    assert _call(fn, state, 15_000) == [
        ("a", _end(15_000), 1, {"x": 1}), ("b", _end(15_000), 3, {"y": 3}),
    ]


def test_bucket_fn_drops_drained_keys_and_removes_the_empty_bucket():
    fn = make_heartbeat_fn(window_ms=10_000, emit_every_ms=5_000)
    state = FakeState()
    _call(fn, state, 1_000, [("a", "x")])
    _call(fn, state, 6_000, [("b", "x")])
    # a's window drains at 15,000; b's only at 20,000
    out = _timers_until(fn, state, 15_000)
    assert ("a", _end(15_000), 0, {}) in out
    keys = state.get[0]
    assert keys == ["b"] and not state.removed
    assert _timers_until(fn, state, 20_000)[-1] == ("b", _end(20_000), 0, {})
    assert state.removed and not state.exists


def test_bucket_fn_bounds_a_key_by_its_window_slots():
    """A key's state is bounded by its window's slots, not by how many
    events it has had: after every call the key holds at most
    window ÷ emit + 1 slots × types counts, none before the cutoff of
    its last emission."""
    window, every, types = 30_000, 5_000, ("x", "y", "z")
    fn = make_heartbeat_fn(window_ms=window, emit_every_ms=every)
    state = FakeState()
    bound = (window // every + 1) * len(types)
    cutoff_slot, emitted, now = None, 0, 0
    for i in range(300):
        now += 1_300
        if i % 50 < 35:  # data in every batch, for this key and another
            rows = [("a", types[(i + j) % 3]) for j in range(i % 4 + 1)] + [("b", "x")]
            out = _call(fn, state, now, rows)
        else:  # quiet: only timer calls
            out = _timers_until(fn, state, now)
        for key, end, _n, _counts in out:
            if key == "a":
                emitted += 1
                cutoff_slot = (pd.Timestamp(end).value // 1_000_000 - window) // every
        keys, _, c_key, c_slot, c_type, _ = state.get
        a = keys.index("a")
        entries = [(s, t) for k, s, t in zip(c_key, c_slot, c_type) if k == a]
        assert len(entries) == len(set(entries)) <= bound, (i, len(entries))
        if cutoff_slot is not None:
            assert min(s for s, _ in entries) >= cutoff_slot, (i, cutoff_slot)
    # a emitted on every tick of a run 13 windows long, so slots it
    # failed to prune would have broken the bound many times over
    assert emitted >= 300 * 1_300 // every - 1


def test_bucket_fn_rejects_a_window_that_is_not_whole_slots():
    with pytest.raises(ValueError):
        make_heartbeat_fn(window_ms=7_000, emit_every_ms=5_000)


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


def test_heartbeat_emits_on_cadence_for_a_key_with_data_in_every_batch(spark, tmp_path):
    """A key that gets data in every micro-batch still emits on its
    cadence while the data flows: the reference's timers fire whether
    or not data arrives (AggregationJob.kt:150-204), whereas Spark runs
    a group's timeout only in a batch without data for it."""
    src = str(tmp_path / "in")
    os.makedirs(src)
    n = 10
    for i in range(n):  # one event per file, so one per micro-batch
        with open(os.path.join(src, f"e{i:02d}.jsonl"), "w") as f:
            f.write(f'{{"originalId":"a","eventType":"{"xy"[i % 2]}"}}\n')
    raw = (
        spark.readStream.schema("originalId string, eventType string")
        .option("maxFilesPerTrigger", "1")
        .json(src)
    )
    metrics = sliding_metrics_heartbeat(raw, window_ms=60_000, emit_every_ms=500)
    q = (
        metrics.writeStream.format("memory")
        .queryName("hb_busy")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        deadline = time.time() + 60
        rows = []
        while time.time() < deadline:
            rows = spark.sql("SELECT * FROM hb_busy").collect()
            if any(r.totalEventCount == n for r in rows):
                break
            time.sleep(0.5)
    finally:
        q.stop()

    rows = sorted(rows, key=lambda r: r.windowEnd)
    # emitted while data still flowed: the window held fewer than n events
    busy = [r for r in rows if r.totalEventCount < n]
    assert len(busy) >= n // 2, [r.totalEventCount for r in rows]
    totals = [r.totalEventCount for r in busy]
    assert totals == sorted(set(totals)), totals  # one emission per cadence tick
    for r in rows:
        t = r.totalEventCount
        assert r.windowEnd[-4:-1] in ("000", "500")  # on the 500 ms grid
        counts = json.loads(r.eventTypeCounts)
        assert set(counts) <= {"x", "y"} and sum(counts.values()) == t
    assert rows[-1].totalEventCount == n, "no emission after the last event"
