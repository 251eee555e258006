"""Exact-parity sliding-window aggregator with zero-count heartbeats.

Reference operator P3 exact semantics (``AggregationJob.kt:109-206``):
per key, keep a 10-minute event buffer; every 5 seconds (processing-time
timer aligned to 5-s boundaries, :150) prune events older than 10 min
(:169) and ALWAYS emit — including a zero-count record with an empty
type map when the window just drained (:171-186) — then re-register the
timer only while the window still has events ("activity-based
heartbeat", :193-204). Window bounds are wall-clock ``[now-10min, now]``
(:166,181-182), not aligned buckets.

Declarative ``window()`` cannot express always-emit-on-cadence
(streaming aggs emit only on data/watermark advance — SURVEY §4.2), so
this is the engine's second and last custom-state operator:
``applyInPandasWithState`` with ``ProcessingTimeTimeout``. (The newer
``transformWithStateInPandas`` API would fit even more directly, but
its Python driver worker requires the protobuf package, unavailable
here; GroupState timeouts express identical semantics.) The reference's
extra timer-dedup ValueState — self-documented as a pessimization,
AggregationJob.kt:81-107 — is NOT replicated.

Grouping and timers: like Job 1's sequence, the operator groups by the
key's hash bucket (``streaming.sequence.key_bucket``), not by the key,
so data crosses to Python once per (bucket, micro-batch), at most
``N_BUCKETS`` calls a batch. Each key still has its own timer: the state
carries every key's intended fire time (``next_fire``, always on an
``emit_every_ms`` boundary), and the bucket's one GroupState timeout is
armed at the earliest of them. Every call, timer or data, first fires
each key whose ``next_fire`` has passed, then adds the batch's rows.
Firing on the data path is what makes the timers fire under load:
Spark runs a group's timeout only in a batch that brings the group no
data, so a key (or, with buckets, any key of its bucket) that gets data
in every batch would otherwise never emit, where Flink's timers fire
whether or not data arrives. Pruning and window bounds use the aligned
``next_fire``, like the reference, not the jittery wall clock at which
the micro-batch happened to run.

Counting: an event is stamped with the processing time of its batch
(AggregationJob.kt:136), and the state keeps counts per (arrival slot,
type), a slot being ``emit_every_ms`` long, instead of one entry per
event. Every fire time is a slot boundary, so when ``window_ms`` is a
multiple of ``emit_every_ms`` the cutoff ``now - window_ms`` is one too,
and dropping whole slots before it keeps exactly the events stamped at
or after it. ``make_heartbeat_fn`` rejects any other window.

Scale: the buckets pay while a batch holds many more distinct keys
than ``N_BUCKETS``. ``chain_drain``'s 1,500 events reach about 1,400
keys, and Job 2 then makes 64 calls a batch instead of about 1,400.
Figures below are from 3 cores:

- State is per bucket: at most ``N_BUCKETS`` state rows, partitioned by
  bucket across executors. A key's share is bounded by
  ``window_ms ÷ emit_every_ms + 1`` slots × event types (121 × types
  at the reference cadence), not by the event rate, and a key leaves
  the state once its window drains, so a bucket holds the keys active
  in the last window, not every key ever seen.
- Few keys. The reference's 50-key pool fills 37 buckets, so there are
  almost no calls to save, and a data batch also fires the keys that
  are due. With 10-event batches over 50 keys
  (``scripts/bench_heartbeat_state.py --keys 50 --events 10``, 40
  batches) the median data batch took 1.21 s of add-batch against
  1.12 s with per-key calls, and wrote 5.8 KB of state against 4.6 KB.
  A 100,000-event drain over the same pool (``scripts/bench_streaming.py``
  at sf0.1) took 2.7 s against 3.2–3.4 s, and perfbench's
  ``chain_paced`` (10-event files over 50 keys) was not slower end to
  end: median latency 10.4 s against 12.9 s over 6 pairs.
- Writes. Any call that changes a bucket rewrites the whole bucket, so a
  batch writes about active keys ÷ ``N_BUCKETS`` keys per touched
  bucket, not one row per touched key, and a batch of a few hundred
  events over a large pool touches nearly every bucket. All timers sit
  on one ``emit_every_ms`` grid, so the first batch after a grid point
  fires, and so rewrites, every active key, per key or per bucket
  alike. Over a populated 50,000-key pool
  (``scripts/bench_heartbeat_state.py``) a 1,500-event batch took
  3.2–4.1 s of add-batch against 59–67 s with per-key calls, a
  150-event batch 1.4–2.4 s against 58–69 s, and either form uploaded
  about 1 MB of state a batch.
- Memory. A call loads its bucket's whole state into Python: about
  active keys ÷ ``N_BUCKETS`` keys with their slot counts. With 100,000
  active keys (one per event, RocksDB store, ``scripts/bench_streaming.py``
  at sf0.1) that is about 1,600 keys a call, and the drain took
  2.9–3.7 s against 71–78 s with per-key calls; 1,000,000 active keys,
  about 15,600 a call, were not measured.
- Parallelism. The stateful stage has at most ``N_BUCKETS`` non-empty
  tasks, whatever ``spark.sql.shuffle.partitions`` is.
- ``N_BUCKETS`` and the hash are part of the checkpoint format, shared
  with Job 1 (see streaming/sequence.py). A checkpoint with per-key
  state (key schema ``originalId string``) fails at start with
  ``STATE_STORE_KEY_SCHEMA_NOT_COMPATIBLE``.
"""

from __future__ import annotations

import datetime as dt
import json
from collections import Counter
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from flink_tank_spark.streaming.sequence import key_bucket

WINDOW_MS = 10 * 60 * 1000  # AggregationJob.kt:53
EMIT_EVERY_MS = 5 * 1000  # AggregationJob.kt:54

# state per bucket: its keys with their next fire time, then every key's
# event counts per (arrival slot, type), key given by its index in `keys`
_STATE_SCHEMA = StructType(
    [
        StructField("keys", ArrayType(StringType())),
        StructField("next_fire", ArrayType(LongType())),
        StructField("count_key", ArrayType(IntegerType())),
        StructField("count_slot", ArrayType(LongType())),
        StructField("count_type", ArrayType(StringType())),
        StructField("count_n", ArrayType(LongType())),
    ]
)

METRICS_SCHEMA = StructType(
    [
        StructField("userId", StringType()),
        StructField("windowStart", StringType()),
        StructField("windowEnd", StringType()),
        StructField("totalEventCount", IntegerType()),
        StructField("eventTypeCounts", StringType()),
    ]
)


def _iso(ms: int) -> str:
    return (
        dt.datetime.fromtimestamp(ms / 1000, tz=dt.timezone.utc)
        .strftime("%Y-%m-%dT%H:%M:%S.%f")[:-3]
        + "Z"
    )


def _load(state: GroupState) -> dict[str, tuple[int, Counter]]:
    """key -> (next_fire, Counter of (slot, type) -> events)."""
    if not state.exists:
        return {}
    keys, next_fire, c_key, c_slot, c_type, c_n = state.get
    out = {k: (f, Counter()) for k, f in zip(keys, next_fire)}
    for i, slot, t, n in zip(c_key, c_slot, c_type, c_n):
        out[keys[i]][1][(slot, t)] = n
    return out


def _store(keys: dict[str, tuple[int, Counter]]) -> tuple:
    c_key, c_slot, c_type, c_n = [], [], [], []
    for i, (_, counts) in enumerate(keys.values()):
        for (slot, t), n in counts.items():
            c_key.append(i)
            c_slot.append(slot)
            c_type.append(t)
            c_n.append(n)
    return list(keys), [f for f, _ in keys.values()], c_key, c_slot, c_type, c_n


def make_heartbeat_fn(window_ms: int = WINDOW_MS, emit_every_ms: int = EMIT_EVERY_MS):
    if window_ms % emit_every_ms:
        raise ValueError(
            f"window_ms ({window_ms}) must be a multiple of emit_every_ms "
            f"({emit_every_ms}): counts are kept per emit slot"
        )

    def aligned_next(now_ms: int) -> int:
        # ((t / 5000) + 1) * 5000 — AggregationJob.kt:150
        return (now_ms // emit_every_ms + 1) * emit_every_ms

    def fn(
        key: tuple, pdf_iter: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        now_wall = state.getCurrentProcessingTimeMs()
        keys = _load(state)
        out = []
        # fire every due key first, on data calls too (see module doc);
        # `now` is the aligned time the key's timer was meant for
        for k, (now, counts) in list(keys.items()):
            if now > now_wall:
                continue
            first_kept = (now - window_ms) // emit_every_ms
            kept = Counter({st: n for st, n in counts.items() if st[0] >= first_kept})
            by_type: Counter = Counter()
            for (_, t), n in kept.items():
                by_type[t] += n
            # ALWAYS emit, zero counts included (AggregationJob.kt:171-186)
            out.append(
                (
                    k,
                    _iso(now - window_ms),
                    _iso(now),
                    sum(by_type.values()),
                    json.dumps(dict(sorted(by_type.items())), separators=(",", ":")),
                )
            )
            if kept:
                keys[k] = (aligned_next(max(now, now_wall)), kept)
            else:
                # window drained: stop ticking until new data arrives
                del keys[k]

        # data path: stamp arrivals with processing time (AggregationJob.kt:136)
        slot = now_wall // emit_every_ms
        for pdf in pdf_iter:
            for (k, t), n in Counter(zip(pdf["originalId"], pdf["eventType"])).items():
                if k not in keys:
                    keys[k] = (aligned_next(now_wall), Counter())
                keys[k][1][(slot, t)] += n

        if keys:
            state.update(_store(keys))
            nxt = min(f for f, _ in keys.values())
            state.setTimeoutDuration(max(nxt - now_wall, 1))
        elif state.exists:
            state.remove()
        if out:
            yield pd.DataFrame(out, columns=METRICS_SCHEMA.fieldNames())

    return fn


def sliding_metrics_heartbeat(
    processed_df: DataFrame,
    window_ms: int = WINDOW_MS,
    emit_every_ms: int = EMIT_EVERY_MS,
) -> DataFrame:
    """STREAMING exact-parity variant of Job 2's aggregation: group the
    ProcessedEvent stream by the bucket of originalId and run the
    timer-based window for every key of the bucket."""
    return (
        processed_df.select("originalId", "eventType")
        .withColumn("bucket", key_bucket("originalId"))
        .groupBy("bucket")
        .applyInPandasWithState(
            make_heartbeat_fn(window_ms, emit_every_ms),
            outputStructType=METRICS_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
        )
    )
