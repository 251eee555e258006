"""Enrichment projection + per-key sequence (batch form).

Reference operators M4 + P2 — ``EnrichValidEvent: KeyedProcessFunction``
(``EventProcessorJob.kt:99-128``): per-key (`id`) monotone sequence from
``ValueState<Int>`` (:104-111,126) plus the enrichment projection
(:113-124): copy the ``data`` map, add ``original_timestamp`` and
``processing_pipeline``, compute ``processingDelay`` and ``processedAt``.

Spark-first re-expression:

- The enrichment itself is a stateless projection → pure ``withColumn``
  expressions, all JVM-side (whole-stage codegen; no Python).
- ``enrichedData`` is built by JSON string splicing on the raw ``data``
  JSON (schemas.py's open-map decision). Splicing keeps the original
  value types intact (29.99 stays a number), matching Jackson's
  serialization of the mutated map. Key order also matches: original
  data keys first, then the two added keys (EventProcessorJob.kt:114-116).
- The per-key sequence in BATCH mode is ``row_number() OVER (PARTITION
  BY id ORDER BY <arrival order>)`` — the declarative analogue the
  reference's own test semantics pin (interleaved keys 12,23,23,12 ⇒
  sequences 1,1,2,2; EventProcessorJobTest.kt:125-153). The STREAMING
  form (true cross-batch state) is streaming/sequence.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from flink_tank_spark.operators.parse import iso_instant
from flink_tank_spark.schemas import PROCESSING_PIPELINE


def enriched_data_json(data: Column, original_timestamp: Column) -> Column:
    """Splice the two enrichment keys into the raw `data` JSON object.

    ``{"a":1}`` → ``{"a":1,"original_timestamp":123,"processing_pipeline":"flink-event-processor"}``
    ``{}``     → ``{"original_timestamp":123,"processing_pipeline":"flink-event-processor"}``
    """
    extras = F.concat(
        F.lit('"original_timestamp":'),
        original_timestamp.cast("string"),
        F.lit(',"processing_pipeline":"' + PROCESSING_PIPELINE + '"'),
    )
    # Drop the trailing '}' of data, then append extras. An empty object
    # (nothing but the opening brace left, modulo whitespace) needs no comma.
    body = F.substring(data, F.lit(1), F.length(data) - F.lit(1))
    needs_comma = F.length(F.regexp_replace(body, r"^\s*\{\s*$", "{")) > 1
    return F.concat(
        body,
        F.when(needs_comma, F.lit(",")).otherwise(F.lit("")),
        extras,
        F.lit("}"),
    )


def enrich(
    valid_df: DataFrame,
    now: Column | None = None,
    order_by: list[str] | None = None,
) -> DataFrame:
    """Build ProcessedEvents from valid InputEvents, numbering each key's
    events with a batch ``row_number`` over ``order_by`` (default: input
    order via a monotonically increasing id — only deterministic
    per-partition, so tests pass explicit order columns). The streaming
    counter (streaming/sequence.py) feeds :func:`enriched_fields`
    directly.

    ``now`` injects a deterministic clock (defaults to processing time,
    matching EventProcessorJob.kt:113,120).
    """
    if now is None:
        now = F.current_timestamp()
    if order_by is None:
        df = valid_df.withColumn("_arrival", F.monotonically_increasing_id())
        order_cols = [F.col("_arrival")]
    else:
        df = valid_df
        order_cols = [F.col(c) for c in order_by]
    sequence = F.row_number().over(Window.partitionBy("id").orderBy(*order_cols))
    return df.select(*enriched_fields(now, sequence))


def enriched_fields(now: Column, sequence: Column) -> list[Column]:
    """The ProcessedEvent fields (Events.kt:10-17) of a valid event's
    ``id``, ``type``, ``timestamp`` and ``data`` columns."""
    now_ms = F.unix_millis(now)
    return [
        F.col("id").alias("originalId"),
        F.col("type").alias("eventType"),
        iso_instant(now).alias("processedAt"),
        F.when(F.col("timestamp") > 0, now_ms - F.col("timestamp"))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("processingDelay"),
        enriched_data_json(F.col("data"), F.col("timestamp")).alias("enrichedData"),
        sequence.cast("int").alias("sequence"),
    ]
