"""Golden tests for the Job-2 topology (sliding-window metrics).

The reference has NO tests for AggregationJob (SURVEY §5.1) — these pin
the documented semantics instead: 10-min/5-s sliding counts per key
(AggregationJob.kt:53-54), total + per-type counts (:172-177), with
aligned-bucket window bounds per the contract decision in SURVEY §7.4
pt 4 (counts must match; bounds are Spark's epoch-aligned buckets).
"""

from __future__ import annotations

import datetime as dt
import json

from pyspark.sql import functions as F

from flink_tank_spark.operators.aggregate import (
    sliding_metrics,
    sliding_metrics_single_agg,
)

BASE = dt.datetime(2024, 6, 1, 12, 0, 0)


def _processed_df(spark, rows):
    """rows: (originalId, eventType, seconds_offset)"""
    return spark.createDataFrame(
        [(rid, et, BASE + dt.timedelta(seconds=s)) for rid, et, s in rows],
        ["originalId", "eventType", "eventTime"],
    )


def test_sliding_counts_per_key_and_type(spark):
    # Two users; user-1 has 3 events (2 login, 1 click) in one 10s burst
    df = _processed_df(
        spark,
        [
            ("user-1", "login", 0),
            ("user-1", "login", 3),
            ("user-1", "click", 7),
            ("user-2", "view", 1),
        ],
    )
    out = sliding_metrics(df, window_size="10 minutes", slide="5 seconds")
    rows = out.collect()
    # every event lands in 120 sliding windows (600s / 5s)
    by_user = {}
    for r in rows:
        by_user.setdefault(r.userId, []).append(r)
    # peak concurrent count for user-1 is 3 (all events within 10 min)
    assert max(r.totalEventCount for r in by_user["user-1"]) == 3
    assert max(r.totalEventCount for r in by_user["user-2"]) == 1
    peak = [r for r in by_user["user-1"] if r.totalEventCount == 3][0]
    assert json.loads(peak.eventTypeCounts) == {"click": 1, "login": 2}
    # window bounds are aligned 5s buckets, 10 min wide
    ws = dt.datetime.fromisoformat(peak.windowStart.replace("Z", "+00:00"))
    we = dt.datetime.fromisoformat(peak.windowEnd.replace("Z", "+00:00"))
    assert (we - ws) == dt.timedelta(minutes=10)
    assert ws.second % 5 == 0 and ws.microsecond == 0


def test_single_agg_variant_matches_two_level(spark):
    rows = [
        ("u1", "a", 0), ("u1", "b", 2), ("u1", "a", 4),
        ("u2", "b", 1), ("u2", "b", 600),  # second event outside u2's first windows
    ]
    df = _processed_df(spark, rows)
    a = sliding_metrics(df, window_size="1 minute", slide="30 seconds")
    b = sliding_metrics_single_agg(df, window_size="1 minute", slide="30 seconds")
    ka = {(r.userId, r.windowStart): (r.totalEventCount, r.eventTypeCounts) for r in a.collect()}
    kb = {(r.userId, r.windowStart): (r.totalEventCount, r.eventTypeCounts) for r in b.collect()}
    assert ka == kb


def test_events_outside_window_pruned(spark):
    # Two events 11 minutes apart never share a 10-minute window
    df = _processed_df(spark, [("u1", "a", 0), ("u1", "b", 660)])
    out = sliding_metrics(df, window_size="10 minutes", slide="5 seconds")
    assert max(r.totalEventCount for r in out.collect()) == 1


def test_pivot_value_list_covers_all_event_types(spark, oracle_sf_dir):
    """ev_pivot_type_counts pins its pivot values explicitly (so no
    discovery scan runs at scale); this guards the data contract — a new
    event type appearing in the data would otherwise be silently dropped
    from the wide table AND from both sides of the oracle comparison."""
    from flink_tank_spark.io.tables import load_table
    from flink_tank_spark.plans.streaming_batch import EVENT_TYPES

    ev = load_table(spark, oracle_sf_dir, "events")
    actual = {r.event_type for r in ev.select("event_type").distinct().collect()}
    assert actual <= set(EVENT_TYPES), f"unpivoted event types: {actual - set(EVENT_TYPES)}"
    # NULL event_type would also diverge Spark vs oracle in ev_gap_fill's
    # left-join counts (equality never matches NULL); pin it absent so a
    # testdata regeneration that introduces NULLs fails here, loudly
    assert None not in actual, "events.event_type contains NULL"
