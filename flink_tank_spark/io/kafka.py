"""Kafka source/sink helpers (S1/S2, K1/K2) + the file stand-in source.

Reference wiring: KafkaSource with earliest offsets and value-only string
deserialization (``EventProcessorJob.kt:57-63``, ``AggregationJob.kt:
224-230``); KafkaSink per topic with JSON string values
(``EventProcessorJob.kt:65-74``, ``AggregationJob.kt:233-241``);
checkpointing every 60 s ⇒ at-least-once (SURVEY §2.2) — Structured
Streaming's Kafka sink + checkpointLocation gives the same guarantee.
Job 1 writes both of its topics in one write per micro-batch through
:func:`kafka_batch_sink` (streaming/jobs.start_processor_query); Job 2
writes its one topic through :func:`write_kafka_stream`.

The Kafka connector jar (spark-sql-kafka) may be absent in offline test
environments; ``kafka_available`` gates it, and the jobs accept any
string-valued source/sink (file JSONL works identically for tests —
sources are interchangeable because topologies are pure functions).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

DEFAULT_CHECKPOINT_INTERVAL = "60 seconds"  # EventProcessorJob.kt:161


def kafka_available(spark: SparkSession) -> bool:
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.spark.sql.kafka010.KafkaSourceProvider"
        )
        return True
    except Exception:
        return False


def read_kafka_stream(
    spark: SparkSession,
    brokers: str,
    topic: str,
    starting_offsets: str = "earliest",
    max_offsets_per_trigger: int | None = None,
) -> DataFrame:
    """S1/S2: value-only string deserialization + Kafka offset as the
    per-partition arrival order (what Flink's FIFO per-partition order
    provides implicitly). ``max_offsets_per_trigger`` caps the records
    of one micro-batch (the source's ``maxOffsetsPerTrigger``)."""
    reader = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", brokers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
    )
    if max_offsets_per_trigger is not None:
        reader = reader.option("maxOffsetsPerTrigger", str(max_offsets_per_trigger))
    return reader.load().selectExpr("CAST(value AS STRING) AS value", "offset AS arrival")


def read_jsonl_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-based stand-in source for tests/local runs.

    Format: ``<arrival>\\t<json message>`` per line — the explicit arrival
    number plays the role of the Kafka offset (file sources expose no
    offset, and monotonically_increasing_id is not allowed on streams).
    Raw tab characters cannot appear inside JSON string literals, so the
    delimiter is unambiguous.

    ``max_files_per_trigger`` is the file-source analogue of the Kafka
    source's ``maxOffsetsPerTrigger`` rate limit: it bounds each
    micro-batch, which (a) keeps per-batch state/shuffle memory flat on
    a backlogged source and (b) gives crash-recovery tests a stream
    whose progress is spread over many committed batches.
    """
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    reader = (
        spark.readStream.schema(
            StructType(
                [
                    StructField("arrival", LongType()),
                    StructField("value", StringType()),
                ]
            )
        )
        .options(sep="\t", quote="", escape="")
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.csv(path)


def write_kafka_stream(
    json_df: DataFrame,
    brokers: str,
    topic: str,
    checkpoint_dir: str,
    query_name: str,
    trigger_interval: str | None = None,
):
    """K2: JSON string per record to one topic, checkpointed — Job 2's
    metrics sink."""
    writer = (
        json_df.select(F.col("value").cast("binary").alias("value"))
        .writeStream.format("kafka")
        .option("kafka.bootstrap.servers", brokers)
        .option("topic", topic)
        .option("checkpointLocation", checkpoint_dir)
        .queryName(query_name)
    )
    if trigger_interval:
        writer = writer.trigger(processingTime=trigger_interval)
    return writer.start()


def kafka_batch_sink(brokers: str, topics: dict[str, str]):
    """K1: foreachBatch writer landing a micro-batch of (``tag``,
    ``value``) rows on Kafka in ONE write, each row on the topic its tag
    maps to (the sink's per-row ``topic`` column) — Job 1's processed and
    error topics inside its one query (the Kafka counterpart of
    jobs/pipeline.idempotent_wire_sink). A row whose tag has no topic
    fails the write. A replayed batch re-sends its records:
    at-least-once, like the reference."""

    def write(df: DataFrame, batch_id: int) -> None:
        topic = None
        for tag, name in topics.items():
            when = F.col("tag") == tag
            topic = F.when(when, name) if topic is None else topic.when(when, name)
        (
            df.select(F.col("value").cast("binary").alias("value"), topic.alias("topic"))
            .write.format("kafka")
            .option("kafka.bootstrap.servers", brokers)
            .save()
        )

    return write
