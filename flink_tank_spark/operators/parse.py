"""Parse & route: raw JSON strings → (valid InputEvents, ErrorEvents).

Reference operators P1/F2/R1 — ``ParseAndRoute: ProcessFunction<String,
InputEvent>`` with an error side output (``EventProcessorJob.kt:79-97``,
OutputTag at ``:45``, retrieved at ``:140``).

Spark-first re-expression: Spark has no side outputs, so the topology is
ONE ``from_json`` projection with two filters off it. ``from_json`` in
PERMISSIVE mode with a corrupt-record column reproduces the reference's
Jackson contract exactly (verified empirically):

- malformed JSON (``{invalid``, ``garbage``, bare strings, arrays) →
  corrupt col set → error path, like ``readValue`` throwing
  (EventProcessorJob.kt:86-95);
- field type mismatch (``"timestamp": "not-a-number"``) → corrupt col
  set → error path, like Jackson's InvalidFormatException;
- missing fields (``{}``, ``{"id":"user-1"}``) → VALID with nulls,
  coalesced to the Kotlin defaults ``""``/``0``/``{}``
  (Events.kt:4-7, SURVEY §1.4 "lenient-with-defaults");
- numeric ``id`` → coerced to string, like Jackson.

:func:`parse_tagged` is that projection: one row per input, tagged
``error``, carrying the valid-row fields or the raw message.
:func:`parse_and_route` filters it into the two branches of the batch
topology; Job 1's streaming query (streaming/jobs.py) keeps the tagged
rows in one linear plan instead, so each micro-batch scans and parses
the source once, as the reference's one ProcessFunction does.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from flink_tank_spark.schemas import (
    CORRUPT_COL,
    INPUT_EVENT_SCHEMA,
    INPUT_EVENT_SCHEMA_VARIANT,
)

PARSE_ERROR = "PARSE_ERROR"

# ISO-8601 instant with millisecond precision, e.g. 2024-01-01T00:00:07.179Z
ISO_FMT = "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'"


def iso_instant(ts: Column) -> Column:
    """Format a timestamp column as an ISO-8601 instant (UTC, millis)."""
    return F.date_format(ts, ISO_FMT)


def parse_events(
    raw_df: DataFrame, value_col: str = "value", variant_data: bool = False
) -> DataFrame:
    """Single-pass parse projection; adds struct fields + corrupt marker.
    ``variant_data=True`` parses the open ``data`` map into VariantType
    in the same pass (SURVEY §7.4 pt 1 — typed access via variant_get,
    no per-access JSON re-parse); the lenient contract is IDENTICAL on
    both paths (pinned in tests/test_event_processor.py): malformed JSON
    and field type mismatches set the corrupt marker, missing fields
    stay null-then-defaulted."""
    schema = INPUT_EVENT_SCHEMA_VARIANT if variant_data else INPUT_EVENT_SCHEMA
    parsed = F.from_json(
        F.col(value_col),
        schema,
        {"columnNameOfCorruptRecord": CORRUPT_COL, "mode": "PERMISSIVE"},
    )
    return raw_df.withColumn("_parsed", parsed)


def parse_tagged(
    raw_df: DataFrame, value_col: str = "value", variant_data: bool = False
) -> DataFrame:
    """One row per input row, parsed once and tagged.

    Columns: ``error`` (boolean); ``id``, ``type``, ``timestamp``,
    ``data`` with the Kotlin defaults applied, null on error rows; the
    source's other columns (e.g. the ``arrival`` offset the stateful
    sequence orders by); ``raw``, the input message on error rows and
    null on valid ones, so valid rows do not carry it further.
    """
    p = parse_events(raw_df, value_col, variant_data)

    # from_json leaves the corrupt marker unset for empty input and the
    # bare JSON literal `null` (it returns an all-null row instead), but
    # Jackson's readValue throws on both — route them to errors
    # explicitly. (Edge found by the hypothesis contract test.)
    is_error = (
        F.col(f"_parsed.{CORRUPT_COL}").isNotNull()
        | F.col(value_col).isNull()
        | F.trim(F.col(value_col)).isin("", "null")
    )
    empty_map = (
        F.parse_json(F.lit("{}")) if variant_data else F.lit("{}")
    )
    fields = {
        "id": F.coalesce(F.col("_parsed.id"), F.lit("")),
        "type": F.coalesce(F.col("_parsed.type"), F.lit("")),
        "timestamp": F.coalesce(F.col("_parsed.timestamp"), F.lit(0).cast("long")),
        "data": F.coalesce(F.col("_parsed.data"), empty_map),
    }
    passthrough = [c for c in raw_df.columns if c != value_col]
    return p.select(
        is_error.alias("error"),
        *[F.when(~is_error, c).alias(name) for name, c in fields.items()],
        *[F.col(c) for c in passthrough],
        F.when(is_error, F.col(value_col)).alias("raw"),
    )


def error_fields(raw: Column, now: Column) -> list[Column]:
    """The ErrorEvent fields (Events.kt:19-24) of a malformed ``raw``
    message, stamped ``now``."""
    return [
        raw.alias("rawMessage"),
        F.lit(PARSE_ERROR).alias("errorType"),
        F.concat(
            F.lit("Failed to parse event JSON: "),
            F.substring(raw, 1, 256),
        ).alias("errorMessage"),
        iso_instant(now).alias("timestamp"),
    ]


def parse_and_route(
    raw_df: DataFrame,
    value_col: str = "value",
    now: Column | None = None,
    variant_data: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """Route raw strings into (valid_df, error_df).

    valid_df columns: id, type, timestamp (epoch ms), data — the open
    map as a raw JSON object string, or as VariantType when
    ``variant_data=True`` (default ``{}`` either way) — Kotlin defaults
    applied, then the source's other columns.
    error_df columns: rawMessage, errorType, errorMessage, timestamp —
    the ErrorEvent shape (Events.kt:19-24).

    ``now`` injects a deterministic clock for tests/oracles; defaults to
    processing time like the reference (EventProcessorJob.kt:92).
    """
    if now is None:
        now = F.current_timestamp()
    tagged = parse_tagged(raw_df, value_col, variant_data)
    passthrough = [c for c in raw_df.columns if c != value_col]
    valid = tagged.filter(~F.col("error")).select(
        "id", "type", "timestamp", "data", *passthrough
    )
    errors = tagged.filter(F.col("error")).select(*error_fields(F.col("raw"), now))
    return valid, errors
