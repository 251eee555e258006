"""Streaming SCD2 dimension maintenance (the plans/scd.py twin).

A warehouse MERGE INTO mutates the dimension table in place; a
streaming parquet pipeline cannot (and should not — replayed
micro-batches would re-mutate). The maintainable form is the CHANGE
LOG: the base dimension load plus one append-only
``changes/ingest_batch=<b>`` partition per micro-batch of updates,
each written with mode=overwrite so foreachBatch replay after a crash
is idempotent (the streaming/compaction.py protocol). The
SCD2 history table is then a deterministic VIEW over base ∪ changes —
per key, each version's valid_to is the NEXT version's valid_from
(a lead window over per-key timelines, bounded by versions-per-key,
never a corpus-wide funnel).

Parity contract (tests/test_streaming_scd.py): for one update batch
the view is row-identical to the batch plans/scd.scd2_apply
post-image; multi-batch ingest chains versions (the second update
closes the row the first one opened) — history a single batch MERGE
cannot even express.

Update contract: at most one update per key per micro-batch, with
``eff_ts`` non-decreasing across batches per key (the natural shape of
an upstream CDC feed); ties on (key, eff_ts) would make version order
undefined.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from flink_tank_spark.streaming import compaction

BASE_SUBDIR = "base"
CHANGES_SUBDIR = "changes"


def init_dim(dim: DataFrame, dim_dir: str) -> None:
    """One-time base load: (custkey, c_name, c_mktsegment, acctbal,
    valid_from) → ``dim_dir/base``."""
    dim.write.mode("overwrite").parquet(os.path.join(dim_dir, BASE_SUBDIR))


def incremental_scd_sink(dim_dir: str):
    """foreachBatch writer for an update stream (custkey, new_acctbal,
    eff_ts): land each micro-batch under ``changes/ingest_batch=<b>``
    (per-partition overwrite ⇒ replay-idempotent)."""

    def write(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(
            os.path.join(dim_dir, CHANGES_SUBDIR, f"ingest_batch={batch_id}")
        )

    return write


def run_scd_stream(
    spark: SparkSession,
    source_dir: str,
    dim_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """File-stream surrogate for the Kafka boundary (the chained-
    pipeline convention): jsonl rows ``{"custkey": ..., "new_acctbal":
    ..., "eff_ts": "..."}``. Returns the started StreamingQuery."""
    os.makedirs(source_dir, exist_ok=True)
    stream = (
        spark.readStream.schema("custkey bigint, new_acctbal double, eff_ts timestamp")
        .json(source_dir)
    )
    writer = (
        stream.writeStream.foreachBatch(incremental_scd_sink(dim_dir))
        .option("checkpointLocation", checkpoint_dir)
        .queryName("incremental-scd2")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def _read_changes(spark: SparkSession, dim_dir: str) -> DataFrame | None:
    base = os.path.join(dim_dir, CHANGES_SUBDIR)
    compaction.check_readable(base)
    if not compaction.parts(base):
        return None
    return spark.read.option("basePath", base).parquet(base).drop("ingest_batch")


def scd2_view(spark: SparkSession, dim_dir: str) -> DataFrame:
    """The SCD2 history table derived from base ∪ changes.

    Versions per key: the base row (its original valid_from) plus one
    row per update (valid_from = eff_ts); valid_to = lead(valid_from)
    within the key's timeline, is_current ⇔ no successor. The window
    partitions on custkey over per-key version counts — bounded state,
    no global sort.

    Contract enforcement: version chaining relies on the documented
    update contract (at most one update per key per micro-batch,
    non-decreasing eff_ts) — a duplicate (custkey, valid_from) would
    make the lead() chain nondeterministic and yield zero-length or
    inverted intervals SILENTLY. A count over the same window
    partition (no extra shuffle — same key prefix) feeds
    ``raise_error`` so violations fail loudly at read instead."""
    dim = spark.read.parquet(os.path.join(dim_dir, BASE_SUBDIR))
    changes = _read_changes(spark, dim_dir)
    versions = dim.select(
        "custkey", "c_name", "c_mktsegment", "acctbal", "valid_from"
    )
    if changes is not None:
        upd_versions = changes.join(
            dim.select("custkey", "c_name", "c_mktsegment"), "custkey"
        ).select(
            "custkey",
            "c_name",
            "c_mktsegment",
            F.col("new_acctbal").alias("acctbal"),
            F.col("eff_ts").alias("valid_from"),
        )
        versions = versions.unionByName(upd_versions)
    w = W.partitionBy("custkey").orderBy("valid_from")
    n_at_ts = F.count(F.lit(1)).over(W.partitionBy("custkey", "valid_from"))
    # the guard is FUSED into valid_from (not a dropped side column, which
    # Catalyst would prune away along with the check)
    guarded_vf = F.when(n_at_ts <= 1, F.col("valid_from")).otherwise(
        F.raise_error(
            F.concat(
                F.lit("scd2_view: duplicate (custkey, valid_from) version for key "),
                F.col("custkey").cast("string"),
                F.lit(" — update contract violated (one update per key per batch)"),
            )
        )
    )
    return (
        versions.withColumn("valid_from", guarded_vf)
        .withColumn("valid_to", F.lead("valid_from").over(w))
        .withColumn("is_current", F.col("valid_to").isNull())
    )


def temporal_enrich_sink(dim_dir: str, out_dir: str):
    """Streaming temporal (as-of) dimension join — the
    ``FOR SYSTEM_TIME AS OF fact.ts`` enrichment of a fact stream
    against the SCD2 dimension this module maintains: each arriving
    fact joins the version whose half-open [valid_from, valid_to)
    interval contains its event time, exactly the batch
    plans/scd.dim_scd2_asof_join predicate.

    Semantics are the PROCESSING-TIME temporal join: each micro-batch
    joins against the change log as accumulated SO FAR, so a fact that
    arrives before its own dimension update is enriched with the
    version current at arrival (pinned in tests). When dimension
    changes reach the log before the facts that reference them — the
    CDC-feeds-the-dim-first deployment this module's update contract
    describes — the streamed output is row-identical to the batch
    as-of join against the final history (also pinned). Facts with an
    unknown key or a time before every version survive with NULL
    attributes (left join): enrichment never drops facts.

    Scale shape: the micro-batch is the small side of an equi-join on
    custkey (range residual rides along); the dimension view's lead
    window stays bounded per key, and :func:`compact` keeps the
    change-log read to base + one folded partition. Per-partition
    overwrite of ``out_dir/ingest_batch=<b>`` keeps replay idempotent."""

    def write(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        scd2 = scd2_view(spark, dim_dir)
        enriched = batch_df.join(
            scd2,
            (batch_df["custkey"] == scd2["custkey"])
            & (scd2["valid_from"] <= batch_df["ts"])
            & (
                scd2["valid_to"].isNull()
                | (batch_df["ts"] < scd2["valid_to"])
            ),
            "left",
        ).select(
            batch_df["fact_id"],
            batch_df["custkey"],
            batch_df["ts"],
            batch_df["amount"],
            scd2["c_mktsegment"],
            scd2["acctbal"],
            scd2["valid_from"],
            scd2["is_current"],
        )
        enriched.write.mode("overwrite").parquet(
            os.path.join(out_dir, f"ingest_batch={batch_id}")
        )

    return write


def run_temporal_join_stream(
    spark: SparkSession,
    fact_source_dir: str,
    dim_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
):
    """Fact-stream surrogate (jsonl rows ``{"fact_id": ..., "custkey":
    ..., "ts": "...", "amount": ...}``) driving
    :func:`temporal_enrich_sink`. Returns the StreamingQuery."""
    os.makedirs(fact_source_dir, exist_ok=True)
    reader = spark.readStream.schema(
        "fact_id bigint, custkey bigint, ts timestamp, amount double"
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.json(fact_source_dir)
    writer = (
        stream.writeStream.foreachBatch(temporal_enrich_sink(dim_dir, out_dir))
        .option("checkpointLocation", checkpoint_dir)
        .queryName("temporal-asof-join")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def read_enriched(spark: SparkSession, out_dir: str) -> DataFrame:
    """The accumulated enriched fact table across all micro-batches."""
    return (
        spark.read.option("basePath", out_dir)
        .parquet(out_dir)
        .drop("ingest_batch")
    )


def compact(spark: SparkSession, dim_dir: str) -> None:
    """Fold the accumulated change partitions into one
    ``ingest_batch=-1`` partition (small-file hygiene; the rows are
    append-only facts). Run only while the stream is STOPPED; crash
    safety via the hide → commit → clean swap protocol."""
    base = os.path.join(dim_dir, CHANGES_SUBDIR)
    compaction.recover(base)
    parts = compaction.parts(base)
    if not parts:
        raise ValueError(f"no change partitions under {base!r}")
    df = (
        spark.read.option("basePath", base).parquet(base)
        .drop("ingest_batch")
        .repartition(F.col("custkey"))
    )
    df.write.mode("overwrite").parquet(os.path.join(base, compaction.TMP_NAME))
    compaction.commit_swap(base, parts)
