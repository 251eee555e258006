"""Streaming-incremental sketch maintenance over the events stream.

The batch sketch queries (plans/sketches.py) already prove the merge
algebra offline: HLL registers merge by MAX, CMS counters and
fixed-precision histograms by SUM, and merged results are BIT-identical
to one-pass builds (tests/test_sketch.py). This module runs the same
algebra under continuous ingest — the streaming twin the reference's
AggregationJob shape implies for approximate analytics: a 100 TB event
history is never rescanned; each micro-batch lands a bounded DELTA
(≤ d·w CMS cells + ≤ groups×256 HLL registers + ≤ groups×bins histogram
rows + ≤ groups×k KMV hashes + ≤ m/64 Bloom words, no matter how many
events the batch held), and finalize folds the deltas with the SAME
batch operators, so streamed estimates equal the from-scratch build
exactly.

Layout under ``sketch_dir`` (one partition per micro-batch, written
with mode=overwrite for foreachBatch replay idempotency — the
streaming/compaction.py protocol):

    cms_state/ingest_batch=<b>    row, col, cnt        (user frequency)
    hll_state/ingest_batch=<b>    event_type, register, rho  (user-days)
    hist_state/ingest_batch=<b>   event_type, bin, n   (value quantiles)
    kmv_state/ingest_batch=<b>    event_type, h        (set overlap)
    bloom_state/ingest_batch=<b>  word, bits           (membership)

Delta-count growth is bounded operationally by :func:`compact` (all
five states are mergeable, so compaction is just the merge plus the
crash-safe hide → commit → clean swap of streaming/compaction.py).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_tank_spark.operators import bloom, sketch
from flink_tank_spark.streaming import compaction

CMS_SUBDIR = "cms_state"
HLL_SUBDIR = "hll_state"
HIST_SUBDIR = "hist_state"
KMV_SUBDIR = "kmv_state"
BLOOM_SUBDIR = "bloom_state"
_SUBDIRS = (CMS_SUBDIR, HLL_SUBDIR, HIST_SUBDIR, KMV_SUBDIR, BLOOM_SUBDIR)

# the accumulated-membership filter over user keys: sized once at job
# construction (the stream's total key budget, not per batch) so every
# batch's delta addresses the same bit space and folds by plain bit_or
BLOOM_M_BITS = 1 << 20
BLOOM_K = 7

EVENTS_SCHEMA = (
    "event_id bigint, ts timestamp, user_id bigint, "
    "event_type string, value double"
)


def _user_key(df: DataFrame) -> DataFrame:
    return df.select(F.col("user_id").cast("string").alias("user_key"))


def _user_day(df: DataFrame) -> DataFrame:
    """Mirrors plans/sketches._user_day_events: the DAU-style composite
    'user:date' key whose per-type distinct count is the HLL target."""
    day = F.to_date("ts")
    return df.select(
        "event_type",
        F.concat_ws(
            ":", F.col("user_id").cast("string"), day.cast("string")
        ).alias("user_day"),
    )


def incremental_sketch_sink(sketch_dir: str):
    """foreachBatch writer: derive the micro-batch's three sketch deltas
    and land each under ``ingest_batch=<b>``. The batch frame is
    persisted across the three write actions (the r6 multi-branch-DAG
    lesson: each action would otherwise re-read the source)."""

    def write(batch_df: DataFrame, batch_id: int) -> None:
        part = f"ingest_batch={batch_id}"
        batch_df = batch_df.persist()
        try:
            sketch.cms_counters(_user_key(batch_df), "user_key").write.mode(
                "overwrite"
            ).parquet(os.path.join(sketch_dir, CMS_SUBDIR, part))
            sketch.hll_registers(
                _user_day(batch_df), "user_day", ["event_type"]
            ).write.mode("overwrite").parquet(
                os.path.join(sketch_dir, HLL_SUBDIR, part)
            )
            sketch.fp_histogram(
                batch_df, "value", ["event_type"]
            ).write.mode("overwrite").parquet(
                os.path.join(sketch_dir, HIST_SUBDIR, part)
            )
            # KMV delta: the batch's per-type min-k, EXPLODED to rows
            # (event_type, h) so deltas merge by plain re-min-k at read
            sketch.kmv_sketch(
                _user_day(batch_df), "user_day", ["event_type"]
            ).select(
                "event_type", F.explode("ks").alias("h")
            ).write.mode("overwrite").parquet(
                os.path.join(sketch_dir, KMV_SUBDIR, part)
            )
            # Bloom membership delta over user keys (sparse word form,
            # folds by bit_or — "have we ever seen this key" pruning)
            bloom.bloom_words(
                _user_key(batch_df), "user_key", BLOOM_M_BITS, BLOOM_K
            ).write.mode("overwrite").parquet(
                os.path.join(sketch_dir, BLOOM_SUBDIR, part)
            )
        finally:
            batch_df.unpersist()

    return write


def _read_parts(spark: SparkSession, sketch_dir: str, subdir: str) -> DataFrame | None:
    """Raises on an interrupted-compact dir (compaction.check_readable)
    rather than reading a partial state."""
    path = os.path.join(sketch_dir, subdir)
    compaction.check_readable(path)
    if not compaction.parts(path):
        return None
    return spark.read.option("basePath", path).parquet(path).drop("ingest_batch")


def load_sketches(spark: SparkSession, sketch_dir: str) -> dict[str, DataFrame]:
    """Fold the accumulated deltas into the batch operators' tables:
    ``cms`` (cell-wise SUM), ``hll`` (per-register MAX), ``hist``
    (bin-wise SUM) — each BIT-identical to a from-scratch build over
    the union of the ingested events (merge associativity, pinned in
    tests/test_streaming_sketches.py). Raises if the state is empty."""
    cms = _read_parts(spark, sketch_dir, CMS_SUBDIR)
    hll = _read_parts(spark, sketch_dir, HLL_SUBDIR)
    hist = _read_parts(spark, sketch_dir, HIST_SUBDIR)
    kmv = _read_parts(spark, sketch_dir, KMV_SUBDIR)
    blm = _read_parts(spark, sketch_dir, BLOOM_SUBDIR)
    if cms is None or hll is None or hist is None or kmv is None \
            or blm is None:
        raise ValueError(f"no sketch partitions under {sketch_dir!r}")
    return {
        "cms": sketch.cms_merge(cms),
        "hll": hll.groupBy("event_type", "register")
                  .agg(F.max("rho").alias("rho")),
        "hist": hist.groupBy("event_type", "bin")
                    .agg(F.sum("n").alias("n")),
        # min-k of the unioned deltas == the from-scratch sketch: a
        # batch can only DROP a hash that a smaller one displaced, and
        # displaced hashes can never re-enter any later min-k
        "kmv": kmv.distinct().groupBy("event_type").agg(
            F.slice(F.array_sort(F.collect_list("h")), 1, sketch.KMV_K)
            .alias("ks")
        ),
        "bloom": blm.groupBy("word").agg(F.bit_or("bits").alias("bits")),
    }


def compact(spark: SparkSession, sketch_dir: str) -> None:
    """Rewrite each accumulated state as ONE merged partition
    (``ingest_batch=-1`` — below any real batch id, so in-flight replay
    filters keep working) and drop the originals via the crash-safe
    hide → commit → clean swap. Run only while the stream is STOPPED
    (the double-count argument in streaming/compaction.py)."""
    for subdir in _SUBDIRS:
        compaction.recover(os.path.join(sketch_dir, subdir))
    merged = load_sketches(spark, sketch_dir)
    for subdir, df in (
        (CMS_SUBDIR, merged["cms"]),
        (HLL_SUBDIR, merged["hll"]),
        (HIST_SUBDIR, merged["hist"]),
        # back to the stored row form (event_type, h)
        (KMV_SUBDIR, merged["kmv"].select(
            "event_type", F.explode("ks").alias("h"))),
        (BLOOM_SUBDIR, merged["bloom"]),
    ):
        base = os.path.join(sketch_dir, subdir)
        parts = compaction.parts(base)
        df.write.mode("overwrite").parquet(os.path.join(base, compaction.TMP_NAME))
        compaction.commit_swap(base, parts)


def start_sketch_job(
    spark: SparkSession,
    source_dir: str,
    sketch_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
):
    """Streaming sketch-maintenance job over a jsonl event stream
    (events-table schema). Returns the StreamingQuery.
    ``max_files_per_trigger`` forces one-micro-batch-per-source-file
    (bench/parity runs that must exercise the per-batch delta path)."""
    os.makedirs(source_dir, exist_ok=True)
    reader = spark.readStream.schema(EVENTS_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.json(source_dir)
    writer = (
        stream.writeStream.foreachBatch(incremental_sketch_sink(sketch_dir))
        .option("checkpointLocation", checkpoint_dir)
        .queryName("incremental-sketches")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
