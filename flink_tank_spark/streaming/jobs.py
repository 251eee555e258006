"""Job topologies — pure DataFrame→DataFrame functions + streaming wiring.

Mirrors the reference's key design split (SURVEY §3.3): topology is a
pure function from input stream(s) to output stream(s), separable from
sources and sinks (``EventProcessorJob.getOutputStreams``,
``EventProcessorJob.kt:130-143``), so the SAME transform code runs in
batch pytest golden tests and in the streaming mains.

Job 1 (Event Processor, EventProcessorJob.kt:156-177):
    raw strings → parse/route → per-key sequence + enrich
    → (processed JSON, error JSON). The batch form
    (:func:`get_output_streams`) returns the two outputs as frames; the
    streaming form (:func:`processor_stream`, run by
    :func:`start_processor_query` whatever the transport) is one linear
    plan of tagged rows.

Job 2 (Aggregation, AggregationJob.kt:208-275):
    processed JSON → parse (failures silently dropped — the reference's
    error-path asymmetry, AggregationJob.kt:246-256; do NOT route) →
    sliding window metrics (streaming/heartbeat.py, or
    operators/aggregate.py's watermarked form) → JSON
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from flink_tank_spark.operators.enrich import enrich, enriched_fields
from flink_tank_spark.operators.parse import error_fields, parse_and_route, parse_tagged
from flink_tank_spark.schemas import PROCESSED_EVENT_SCHEMA

# the ``tag`` of Job 1's two outputs in its streaming form
TAG_PROCESSED = "ok"
TAG_ERROR = "err"


def get_output_streams(
    raw_df: DataFrame,
    now: Column | None = None,
    order_by: list[str] | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Job 1's batch topology: raw strings → (ProcessedEvents,
    ErrorEvents), sequences assigned by ``row_number`` over ``order_by``.
    """
    valid, errors = parse_and_route(raw_df, now=now)
    return enrich(valid, now=now, order_by=order_by), errors


def _processed_json() -> Column:
    """M3: a ProcessedEvent's columns → one JSON string.

    ``enrichedData`` is a raw JSON object string; ``parse_json`` lifts it
    to a VARIANT so ``to_json`` embeds it as a nested OBJECT (with its
    original value types), not a quoted string — byte-compatible with the
    reference's Jackson output (EventProcessorJob.kt:147-151).
    """
    return F.to_json(
        F.struct(
            "originalId",
            "eventType",
            "processedAt",
            "processingDelay",
            F.parse_json(F.col("enrichedData")).alias("enrichedData"),
            "sequence",
        )
    )


def _error_json() -> Column:
    return F.to_json(F.struct("rawMessage", "errorType", "errorMessage", "timestamp"))


def serialize_processed(processed: DataFrame) -> DataFrame:
    return processed.select(_processed_json().alias("value"))


def serialize_errors(errors: DataFrame) -> DataFrame:
    return errors.select(_error_json().alias("value"))


def processor_stream(raw: DataFrame, now: Column | None = None) -> DataFrame:
    """Job 1's streaming topology as one linear plan: raw strings with an
    ``arrival`` order column → (``tag``, ``value``) rows, ``value`` the
    JSON of a ProcessedEvent (tag :data:`TAG_PROCESSED`) or an
    ErrorEvent (tag :data:`TAG_ERROR`).

    Each row is parsed once into a tagged row (operators/parse.py), one
    stateful operator sequences the valid rows and passes the error rows
    through (streaming/sequence.py), and one projection serializes each
    row by its tag — the shape of the reference's one ProcessFunction
    with a side output (EventProcessorJob.kt:79-128). The source is
    scanned once per micro-batch.
    """
    if "arrival" not in raw.columns:
        raise ValueError("Job 1's streaming form requires an 'arrival' order column")
    if now is None:
        now = F.current_timestamp()
    from flink_tank_spark.streaming.sequence import with_sequence_stream

    fields = with_sequence_stream(parse_tagged(raw)).select(
        "error",
        *enriched_fields(now, F.col("sequence")),
        *error_fields(F.col("raw"), now),
    )
    error = F.col("error")
    return fields.select(
        F.when(error, F.lit(TAG_ERROR)).otherwise(F.lit(TAG_PROCESSED)).alias("tag"),
        F.when(error, _error_json()).otherwise(_processed_json()).alias("value"),
    )


def start_processor_query(
    raw: DataFrame,
    sink,
    checkpoint_dir: str,
    query_name: str,
    trigger_interval: str | None = None,
    available_now: bool = False,
):
    """Job 1 as ONE checkpointed streaming query writing both outputs —
    the analogue of the reference's single job writing the output and
    error topics (EventProcessorJob.kt:65-74). Every transport runs this
    shape; only the sink differs.

    ``sink`` is a ``foreachBatch`` writer ``fn(df, batch_id)`` of
    :func:`processor_stream`'s (``tag``, ``value``) rows that lands
    both outputs in one write: io/kafka.kafka_batch_sink (a topic per
    tag) or jobs/pipeline.idempotent_wire_sink (a directory per tag).
    The micro-batch is neither persisted nor recomputed: the sink's one
    write job runs the scan, parse, stateful sequence and serialization
    once.

    ``available_now`` drains the source then stops; otherwise
    ``trigger_interval`` sets the micro-batch (= checkpoint) cadence.
    """
    writer = (
        processor_stream(raw).writeStream.foreachBatch(sink)
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
