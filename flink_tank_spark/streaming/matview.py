"""Incremental materialized-view maintenance: the q1 pricing-summary
rollup kept current under continuous lineitem ingest.

The lakehouse capability next to the incremental sketches
(streaming/sketches.py): a 100 TB fact history is never rescanned to
refresh a dashboard rollup. Every aggregate in the view is ALGEBRAIC —
counts and exact fixed-point sums (functions/numeric.py), with averages
derived at finalize time as sum/count — so each micro-batch lands one
bounded DELTA (≤ |groups| rows: 6 for returnflag × linestatus, however
many lineitems the batch held) and :func:`load_pricing_summary` folds
the deltas by plain SUM into output BIT-identical to running
plans/tpch.q1_pricing_summary over the union of everything ingested
(pinned across micro-batch splits, restarts, and compaction in
tests/test_streaming_matview.py).

Exactness is the point: dsum aggregates scaled integers, and integer
sums fold associatively, so streamed == from-scratch is an equality,
not an approximation. The one non-algebraic-looking output, davg,
finalizes as (exact scaled sum → double) / SCALE / count — the same two
IEEE divisions q1 performs, on identical operands.

The view's filter and projection run AT INGEST (rows outside the
shipdate predicate never enter state), exactly how an incremental view
maintainer pushes the view definition to the delta stream.

Layout under ``view_dir`` (one partition per micro-batch, written with
mode=overwrite so foreachBatch replay is idempotent — the
streaming/compaction.py protocol):

    pricing_state/ingest_batch=<b>   l_returnflag, l_linestatus,
                                     sq sb sdp sch sd (scaled decimal
                                     sums), nq np nd n (counts)

A second maintained view, ``nation_revenue``, exercises the star-join
case: the fact STREAM joins static dimensions (supplier → nation) at
ingest — ∆(L ⋈ D) = ∆L ⋈ D when only the fact side streams — then
aggregates algebraically, so a revenue-by-nation rollup over a century
of lineitems refreshes from each batch's bounded delta:

    nation_state/ingest_batch=<b>    n_name, rev (scaled decimal sum),
                                     n (count)

Delta-partition growth is bounded operationally by :func:`compact`
(state is mergeable, so compaction is the fold plus the crash-safe
hide → commit → clean swap of streaming/compaction.py).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_tank_spark.functions.numeric import SCALE, _scaled
from flink_tank_spark.streaming import compaction

MV_SUBDIR = "pricing_state"
NATION_SUBDIR = "nation_state"

# q1's shipdate predicate — part of the view definition
CUTOFF = "1998-09-02"

LINEITEM_SCHEMA = (
    "l_orderkey bigint, l_suppkey bigint, l_quantity double, "
    "l_extendedprice double, l_discount double, l_tax double, "
    "l_returnflag string, l_linestatus string, l_shipdate timestamp"
)

_KEYS = ["l_returnflag", "l_linestatus"]


def pricing_delta(batch_df: DataFrame) -> DataFrame:
    """The micro-batch's algebraic state delta: per (returnflag,
    linestatus), exact scaled sums + the davg/count denominators.
    Mirrors q1's aggregation exactly (same _scaled inputs, same
    non-null count semantics)."""
    disc_price = F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
    charge = disc_price * (F.lit(1) + F.col("l_tax"))
    return (
        batch_df.filter(F.col("l_shipdate") <= F.lit(CUTOFF).cast("timestamp"))
        .groupBy(*_KEYS)
        .agg(
            F.sum(_scaled(F.col("l_quantity"))).alias("sq"),
            F.sum(_scaled(F.col("l_extendedprice"))).alias("sb"),
            F.sum(_scaled(disc_price)).alias("sdp"),
            F.sum(_scaled(charge)).alias("sch"),
            F.sum(_scaled(F.col("l_discount"))).alias("sd"),
            F.count("l_quantity").alias("nq"),
            F.count("l_extendedprice").alias("np"),
            F.count("l_discount").alias("nd"),
            F.count(F.lit(1)).alias("n"),
        )
    )


def incremental_matview_sink(view_dir: str):
    """foreachBatch writer: land the batch's state delta under its own
    ``ingest_batch=<b>`` partition. One write action — a pure function
    of batch content under mode=overwrite, so replay after a crash
    rewrites the identical partition (idempotent)."""

    def write(batch_df: DataFrame, batch_id: int) -> None:
        part = f"ingest_batch={batch_id}"
        pricing_delta(batch_df).write.mode("overwrite").parquet(
            os.path.join(view_dir, MV_SUBDIR, part)
        )

    return write


def _fold(state: DataFrame) -> DataFrame:
    return state.groupBy(*_KEYS).agg(
        *[F.sum(c).alias(c) for c in ("sq", "sb", "sdp", "sch", "sd")],
        *[F.sum(c).alias(c) for c in ("nq", "np", "nd", "n")],
    )


def load_pricing_summary(spark: SparkSession, view_dir: str) -> DataFrame:
    """Fold the accumulated deltas and finalize to q1's output schema —
    BIT-identical to q1_pricing_summary over the union of the ingested
    lineitems. Raises if the state is empty or mid-compaction."""
    path = os.path.join(view_dir, MV_SUBDIR)
    compaction.check_readable(path)
    if not compaction.parts(path):
        raise ValueError(f"no materialized-view partitions under {view_dir!r}")
    state = spark.read.option("basePath", path).parquet(path).drop("ingest_batch")
    folded = _fold(state)
    dbl = lambda c: F.col(c).cast("double") / F.lit(SCALE)  # noqa: E731
    return (
        folded.select(
            *_KEYS,
            dbl("sq").alias("sum_qty"),
            dbl("sb").alias("sum_base_price"),
            dbl("sdp").alias("sum_disc_price"),
            dbl("sch").alias("sum_charge"),
            (dbl("sq") / F.col("nq")).alias("avg_qty"),
            (dbl("sb") / F.col("np")).alias("avg_price"),
            (dbl("sd") / F.col("nd")).alias("avg_disc"),
            F.col("n").cast("long").alias("count_order"),
        )
        .orderBy(*_KEYS)
    )


def nation_revenue_delta(batch_df: DataFrame, dims: DataFrame) -> DataFrame:
    """Star-join view delta: the batch's lineitems joined to the STATIC
    supplier→nation dimension path (broadcast — dimension-sized at any
    fact scale), aggregated to per-nation discounted revenue. Because
    only the fact side streams, the view delta is exactly
    ∆L ⋈ D — no retraction logic needed."""
    rev = F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
    return (
        batch_df.join(F.broadcast(dims), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("n_name")
        .agg(
            F.sum(_scaled(rev)).alias("rev"),
            F.count(F.lit(1)).alias("n"),
        )
    )


def supplier_nation_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The static dimension path the ingest join broadcasts."""
    sup = spark.read.parquet(os.path.join(sf_dir, "supplier.parquet"))
    nat = spark.read.parquet(os.path.join(sf_dir, "nation.parquet"))
    return sup.join(
        nat, sup["s_nationkey"] == nat["n_nationkey"]
    ).select("s_suppkey", "n_name")


def incremental_star_sink(view_dir: str, dims: DataFrame):
    """foreachBatch writer maintaining BOTH views from one batch scan."""

    def write(batch_df: DataFrame, batch_id: int) -> None:
        part = f"ingest_batch={batch_id}"
        batch_df = batch_df.persist()
        try:
            pricing_delta(batch_df).write.mode("overwrite").parquet(
                os.path.join(view_dir, MV_SUBDIR, part)
            )
            nation_revenue_delta(batch_df, dims).write.mode("overwrite").parquet(
                os.path.join(view_dir, NATION_SUBDIR, part)
            )
        finally:
            batch_df.unpersist()

    return write


def load_nation_revenue(spark: SparkSession, view_dir: str) -> DataFrame:
    """Fold the star-view deltas: (n_name, revenue, n_lineitems) —
    BIT-identical to the batch join+aggregate over the ingested union."""
    path = os.path.join(view_dir, NATION_SUBDIR)
    compaction.check_readable(path)
    if not compaction.parts(path):
        raise ValueError(f"no star-view partitions under {view_dir!r}")
    state = spark.read.option("basePath", path).parquet(path).drop("ingest_batch")
    folded = state.groupBy("n_name").agg(
        F.sum("rev").alias("rev"), F.sum("n").alias("n")
    )
    return folded.select(
        "n_name",
        (F.col("rev").cast("double") / F.lit(SCALE)).alias("revenue"),
        F.col("n").cast("long").alias("n_lineitems"),
    ).orderBy("n_name")


def compact(spark: SparkSession, view_dir: str) -> None:
    """Rewrite the accumulated state as ONE merged partition
    (``ingest_batch=-1``) via the crash-safe hide → commit → clean swap.
    Run only while the stream is STOPPED (the double-count argument in
    streaming/compaction.py)."""
    for subdir, fold in (
        (MV_SUBDIR, _fold),
        (NATION_SUBDIR, lambda st: st.groupBy("n_name").agg(
            F.sum("rev").alias("rev"), F.sum("n").alias("n"))),
    ):
        base = os.path.join(view_dir, subdir)
        if not os.path.isdir(base):
            continue  # job maintained only the pricing view
        compaction.recover(base)
        state = spark.read.option("basePath", base).parquet(base).drop("ingest_batch")
        merged = fold(state)
        parts = compaction.parts(base)
        merged.write.mode("overwrite").parquet(os.path.join(base, compaction.TMP_NAME))
        compaction.commit_swap(base, parts)


def start_matview_job(
    spark: SparkSession,
    source_dir: str,
    view_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
    dims: DataFrame | None = None,
):
    """Streaming view-maintenance job over a jsonl lineitem stream.
    With ``dims`` (supplier_nation_dims), maintains the star-join
    nation-revenue view alongside the pricing rollup. Returns the
    StreamingQuery."""
    os.makedirs(source_dir, exist_ok=True)
    reader = spark.readStream.schema(LINEITEM_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.json(source_dir)
    sink = (
        incremental_matview_sink(view_dir)
        if dims is None
        else incremental_star_sink(view_dir, dims)
    )
    writer = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .queryName("incremental-matview")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
