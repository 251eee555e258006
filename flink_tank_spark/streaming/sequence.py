"""Per-key monotone sequence — true streaming state.

Reference operator P2 — ``EnrichValidEvent: KeyedProcessFunction`` keeps
``ValueState<Int> latestSequence`` per key and assigns ``prev+1`` to each
element in arrival order (``EventProcessorJob.kt:99-128``, keyed by
``id`` at :136).

A running per-key counter is not expressible declaratively under
streaming (SURVEY §2.6), so this is the one place the engine drops to a
stateful Pandas operator: ``applyInPandasWithState``. It groups by a
fixed hash bucket of the key, ``pmod(xxhash64(id), N_BUCKETS)``, not by
the key, so data crosses to Python once per (bucket, micro-batch) —
at most ``N_BUCKETS`` calls a batch however many keys it holds — and
each call sequences all of its bucket's rows in one pass. State is per
bucket: the ``ids`` in the bucket and their ``latest`` sequence, as two
parallel arrays — the keys' ``ValueState<Int>`` values, stored together.

Scale: the state holds one int per key, as in the reference (50 users →
50 ints), in at most ``N_BUCKETS`` state rows, partitioned by bucket
across executors. Python's per-group overhead (Arrow slicing, pandas
construction, the ``GroupState`` round trip) is paid per bucket, not per
key. That pays while a batch holds many more distinct keys than
``N_BUCKETS``; the buckets cost three things:

- Writes. A bucket touched by a batch rewrites every key it holds, so a
  batch writes about keys ÷ ``N_BUCKETS`` entries per touched bucket,
  not one per touched key, and its cost grows with every key ever
  stored, not with the keys in the batch. Over a populated 50,000-key
  pool (``scripts/bench_sequence_state.py``) a batch added about 0.5 MB
  to the checkpoint, against 19 KB (150 events) to 38 KB (1,500 events)
  with per-key state. A 1,500-event batch was still 39 % faster; a
  150-event batch tied. At 500,000 stored keys a batch wrote about
  4.5 MB, and a 150-event batch took 2.2–3.8 s of add-batch, where
  per-key state took about 1.9 s at 50,000 keys.
- Parallelism. The stateful stage has at most ``N_BUCKETS`` non-empty
  tasks, whatever ``spark.sql.shuffle.partitions`` is. Job 1's manifest
  runs 6 (``k8s/spark/event-processor-job.yaml``). Spark pins the state
  partition count in the checkpoint anyway, so more stateful tasks than
  ``N_BUCKETS`` need a larger constant and a fresh checkpoint.
- Memory. A call holds its bucket's share of the micro-batch at once,
  about batch ÷ ``N_BUCKETS`` rows plus a sorted copy, where a per-key
  call took one Arrow chunk at a time. The largest batch is the first
  on a fresh checkpoint, where the Kafka source starts at ``earliest``.
  Unbounded, it read the whole retained topic, about 1.2 M events at
  the reference's 2 events/s and 7-day retention; such a batch over the
  reference's 50 keys took 31.8 and 45.7 s of add-batch against 26.5
  and 33.5 s with per-key calls (two runs each, 3 cores), and peak
  Python worker memory rose from 129 to 165 MB: with 50 keys there are
  no calls to save, and a call takes in its whole bucket before it
  returns a row. Job 1 now caps each Kafka batch at
  ``jobs/event_processor.MAX_OFFSETS_PER_TRIGGER`` records.

Job 1 runs its error rows through the same operator, so the source is
scanned once per micro-batch (streaming/jobs.py). An error row has no
key: it is bucketed by a hash of its raw message, which spreads error
rows over the buckets instead of piling them into one, and it passes
through with a null sequence. A call neither reads nor writes state for
its error rows, so a bucket that holds only error rows leaves its state
as it was.

``N_BUCKETS`` and the hash (``key_bucket``, which Job 2's heartbeat
shares) are part of both jobs' checkpoint format, because the bucket id
is the state key. A checkpoint with per-key state (key
schema ``id string``) fails at start with
``STATE_STORE_KEY_SCHEMA_NOT_COMPATIBLE``. Another bucket count or hash
would keep the key schema and silently move keys to buckets that do not
hold their history, restarting their sequences. Hence a module
constant, never a setting.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    LongType,
    StringType,
    StructField,
    StructType,
)

N_BUCKETS = 64


def key_bucket(key: str | Column) -> Column:
    """The state key of both stateful jobs: ``key``'s hash bucket."""
    return F.pmod(F.xxhash64(key), F.lit(N_BUCKETS))


# state per bucket: the bucket's keys and each key's latest sequence
_STATE_SCHEMA = StructType(
    [
        StructField("ids", ArrayType(StringType())),
        StructField("latest", ArrayType(LongType())),
    ]
)

# operators/parse.parse_tagged's columns (over a source with an
# `arrival` column) plus the sequence, null on error rows
SEQUENCED_SCHEMA = StructType(
    [
        StructField("error", BooleanType()),
        StructField("id", StringType()),
        StructField("type", StringType()),
        StructField("timestamp", LongType()),
        StructField("data", StringType()),
        StructField("arrival", LongType()),
        StructField("raw", StringType()),
        StructField("sequence", LongType()),
    ]
)


def _assign_sequences(
    key: tuple,
    pdf_iter: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    # The group's rows may arrive as several Arrow chunks
    # (spark.sql.execution.arrow.maxRecordsPerBatch); arrival order holds
    # across them only if they are sorted together.
    pdf = pd.concat(list(pdf_iter), ignore_index=True)
    if pdf.empty:
        return
    # Within a micro-batch, arrival order is pinned by the explicit
    # `arrival` column (Kafka offset / file line number) — the same
    # per-partition FIFO order Flink relies on for per-key sequencing.
    pdf = pdf.sort_values("arrival", kind="stable", ignore_index=True)
    errors = pdf["error"].tolist()
    sequence = [None] * len(errors)
    if not all(errors):
        ids, latest = state.get if state.exists else ([], [])
        stored = dict(zip(ids, latest))
        # One pass in arrival order both numbers the valid rows and
        # leaves each key at its latest sequence. A plain loop: pandas'
        # map + groupby cost about 2 ms a call before the first row, this
        # about 0.5 ms.
        for i, (k, error) in enumerate(zip(pdf["id"].tolist(), errors)):
            if not error:
                stored[k] = stored.get(k, 0) + 1
                sequence[i] = stored[k]
        state.update((list(stored), list(stored.values())))
    pdf["sequence"] = pd.array(sequence, dtype="Int64")
    yield pdf[SEQUENCED_SCHEMA.fieldNames()]


def bucketed(tagged: DataFrame) -> DataFrame:
    """Add the ``bucket`` column to parse_tagged rows: the key's bucket
    for a valid row, the raw message's for an error row."""
    key = F.when(F.col("error"), F.col("raw")).otherwise(F.col("id"))
    return tagged.withColumn("bucket", key_bucket(key))


def with_sequence_stream(tagged: DataFrame) -> DataFrame:
    """Attach per-key sequences to a STREAMING frame of
    operators/parse.parse_tagged rows; error rows pass through with a
    null sequence.

    Input must carry an ``arrival`` long column (Kafka offset or
    equivalent monotone per-partition id) defining within-batch order.
    """
    return (
        bucketed(tagged)
        .groupBy("bucket")
        .applyInPandasWithState(
            _assign_sequences,
            outputStructType=SEQUENCED_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
