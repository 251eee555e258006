"""Job topologies — pure DataFrame→DataFrame functions + streaming wiring.

Mirrors the reference's key design split (SURVEY §3.3): topology is a
pure function from input stream(s) to output stream(s), separable from
sources and sinks (``EventProcessorJob.getOutputStreams``,
``EventProcessorJob.kt:130-143``), so the SAME transform code runs in
batch pytest golden tests and in the streaming mains.

Job 1 (Event Processor, EventProcessorJob.kt:156-177):
    raw strings → parse/route → per-key sequence + enrich
    → (processed JSON, error JSON), run as one streaming query by
    :func:`start_processor_query` whatever the transport

Job 2 (Aggregation, AggregationJob.kt:208-275):
    processed JSON → parse (failures silently dropped — the reference's
    error-path asymmetry, AggregationJob.kt:246-256; do NOT route) →
    sliding window metrics (streaming/heartbeat.py, or
    operators/aggregate.py's watermarked form) → JSON
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from flink_tank_spark.operators.enrich import enrich
from flink_tank_spark.operators.parse import parse_and_route
from flink_tank_spark.schemas import PROCESSED_EVENT_SCHEMA


def get_output_streams(
    raw_df: DataFrame,
    now: Column | None = None,
    order_by: list[str] | None = None,
    streaming: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """Job 1 topology: raw strings → (ProcessedEvents, ErrorEvents).

    Batch mode assigns sequences with ``row_number`` over ``order_by``;
    streaming mode threads the stateful per-key counter
    (streaming/sequence.py) through the same enrichment projection.
    """
    valid, errors = parse_and_route(raw_df, now=now)
    if streaming:
        from flink_tank_spark.streaming.sequence import with_sequence_stream

        if "arrival" not in valid.columns:
            raise ValueError("streaming mode requires an 'arrival' order column")
        sequenced = with_sequence_stream(valid.select("id", "type", "timestamp", "data", "arrival"))
        processed = enrich(sequenced, now=now, sequence=F.col("sequence"))
    else:
        processed = enrich(valid, now=now, order_by=order_by)
    return processed, errors


def serialize_processed(processed: DataFrame) -> DataFrame:
    """M3: ProcessedEvent → one JSON string column ``value``.

    ``enrichedData`` is a raw JSON object string; ``parse_json`` lifts it
    to a VARIANT so ``to_json`` embeds it as a nested OBJECT (with its
    original value types), not a quoted string — byte-compatible with the
    reference's Jackson output (EventProcessorJob.kt:147-151).
    """
    return processed.select(
        F.to_json(
            F.struct(
                "originalId",
                "eventType",
                "processedAt",
                "processingDelay",
                F.parse_json(F.col("enrichedData")).alias("enrichedData"),
                "sequence",
            )
        ).alias("value")
    )


def serialize_errors(errors: DataFrame) -> DataFrame:
    return errors.select(
        F.to_json(F.struct("rawMessage", "errorType", "errorMessage", "timestamp")).alias("value")
    )


def start_processor_query(
    raw: DataFrame,
    processed_sink,
    errors_sink,
    checkpoint_dir: str,
    query_name: str,
    trigger_interval: str | None = None,
    available_now: bool = False,
):
    """Job 1 as ONE checkpointed streaming query feeding both sinks —
    the analogue of the reference's single job writing the output and
    error topics (EventProcessorJob.kt:65-74). Every transport runs this
    shape; only the sinks differ (io/kafka.kafka_batch_sink,
    jobs/pipeline.idempotent_wire_sink, any ``fn(df, batch_id)``
    writer of a ``value`` column).

    Both outputs travel as one tagged union (columns: value, tag), so
    the stateful sequence stays inside the streaming query (its state
    persists across micro-batches), the source's offsets are planned
    ONCE per micro-batch, and both writes commit under one checkpoint.
    The union's valid and error branches still SCAN the source once
    each, so progress reports ``numInputRows`` = 3,000 for a 1,500-event
    backlog; both scans read the same planned offsets, so only the read
    cost doubles. Each batch is persisted so the two sinks don't
    recompute the shared topology.

    ``available_now`` drains the source then stops; otherwise
    ``trigger_interval`` sets the micro-batch (= checkpoint) cadence.
    """
    processed, errors = get_output_streams(raw, streaming=True)
    tagged = serialize_processed(processed).withColumn("tag", F.lit("ok")).unionByName(
        serialize_errors(errors).withColumn("tag", F.lit("err"))
    )

    def write_both(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.persist()
        try:
            processed_sink(batch_df.filter(F.col("tag") == "ok").select("value"), batch_id)
            errors_sink(batch_df.filter(F.col("tag") == "err").select("value"), batch_id)
        finally:
            batch_df.unpersist()

    writer = (
        tagged.writeStream.foreachBatch(write_both)
        .option("checkpointLocation", checkpoint_dir)
        .queryName(query_name)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif trigger_interval:
        writer = writer.trigger(processingTime=trigger_interval)
    return writer.start()


def serialize_metrics(metrics: DataFrame) -> DataFrame:
    return metrics.select(
        F.to_json(
            F.struct(
                "userId",
                "windowStart",
                "windowEnd",
                "totalEventCount",
                F.parse_json(F.col("eventTypeCounts")).alias("eventTypeCounts"),
            )
        ).alias("value")
    )


def parse_processed_events(raw_df: DataFrame, value_col: str = "value") -> DataFrame:
    """Job 2's M1/F1/M2: parse ProcessedEvent JSON, silently dropping
    failures (corrupt marker ⇔ Jackson throw → null → filter;
    AggregationJob.kt:246-257). No error routing — the reference's
    error-path asymmetry, preserved deliberately (SURVEY §7.4 pt 5)."""
    from pyspark.sql.types import StringType, StructField, StructType

    from flink_tank_spark.schemas import CORRUPT_COL

    schema = StructType(
        list(PROCESSED_EVENT_SCHEMA.fields) + [StructField(CORRUPT_COL, StringType())]
    )
    parsed = raw_df.select(
        F.from_json(
            F.col(value_col),
            schema,
            {"columnNameOfCorruptRecord": CORRUPT_COL, "mode": "PERMISSIVE"},
        ).alias("p")
    )
    return (
        parsed.filter(
            F.col(f"p.{CORRUPT_COL}").isNull() & F.col("p.originalId").isNotNull()
        )
        .select("p.*")
        .drop(CORRUPT_COL)
    )
