"""Batch analogues of the streaming operator surface, oracle-checked.

Each entry runs a reference streaming operator's semantics (SURVEY §2:
P1/F2 parse-route, M3/M4 serialize/enrich, P2 sequence, P3/A1/A2 sliding
windows, §2.10 JSON scalar functions) as a deterministic batch query over
the driver's ``events`` table, with a DuckDB oracle — putting the
streaming semantics under the driver's hash-verified correctness gate
(wall-clock fields pinned with a fixed "now", per SURVEY §7.4 pt 3).

The M3→P1 entries round-trip REAL serialization: events are serialized
to the JSON wire format with ``to_json`` and re-parsed with the actual
``parse_and_route`` operator, so the gate covers the same code path the
streaming jobs run.
"""

from __future__ import annotations

from textwrap import dedent

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from flink_tank_spark.functions.numeric import dsum, sql_dsum
from flink_tank_spark.io.tables import load_table
from flink_tank_spark.operators.parse import parse_and_route
from flink_tank_spark.plans.registry import QuerySpec

FIXED_NOW = "2024-06-01 12:00:00"
FIXED_NOW_MS = 1_717_243_200_000


def _events_as_wire(spark: SparkSession, sf_dir: str, corrupt_every: int = 0) -> DataFrame:
    """Serialize the events table into the InputEvent JSON wire format
    (M3 in reverse); optionally corrupt every Nth message.

    spread_partitions: the serialize→parse round trip is per-row JSON
    work over a byte-small table — without the spread a single-split
    events file pins the whole wire pipeline on one task (no-op on a
    many-split scan)."""
    from flink_tank_spark.operators.skew import spread_partitions

    ev = spread_partitions(load_table(spark, sf_dir, "events"))
    value = F.to_json(
        F.struct(
            F.col("user_id").cast("string").alias("id"),
            F.col("event_type").alias("type"),
            F.unix_millis(F.col("ts")).alias("timestamp"),
            F.parse_json(F.col("props")).alias("data"),
        )
    )
    if corrupt_every:
        value = F.when(
            F.col("event_id") % corrupt_every == 0, F.concat(F.lit("{bad "), value)
        ).otherwise(value)
    return ev.select(F.col("event_id").alias("arrival"), value.alias("value"))


# --------------------------------------------------------------------------
# ev_parse_route — M3 serialize → P1 parse → typed projection
# --------------------------------------------------------------------------

def ev_parse_route(spark: SparkSession, sf_dir: str) -> DataFrame:
    wire = _events_as_wire(spark, sf_dir)
    valid, _ = parse_and_route(wire, now=F.to_timestamp(F.lit(FIXED_NOW)))
    return valid.select("id", "type", "timestamp", "data")


EV_PARSE_ROUTE_SQL = dedent("""
    WITH events AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM main.events)
    SELECT CAST(user_id AS VARCHAR) AS id,
           event_type AS type,
           epoch_ms(ts) AS timestamp,
           json(props)::VARCHAR AS data
    FROM events
""")


# --------------------------------------------------------------------------
# ev_error_routing — F2/R1: corrupt messages route to the error branch
# --------------------------------------------------------------------------

def ev_error_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    wire = _events_as_wire(spark, sf_dir, corrupt_every=20)
    valid, errors = parse_and_route(wire, now=F.to_timestamp(F.lit(FIXED_NOW)))
    return (
        valid.select(F.lit("valid").alias("branch"))
        .union(errors.select(F.lit("error").alias("branch")))
        .groupBy("branch")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("branch")
    )


EV_ERROR_ROUTING_SQL = dedent("""
    WITH events AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM main.events)
    SELECT CASE WHEN event_id % 20 = 0 THEN 'error' ELSE 'valid' END AS branch,
           COUNT(*) AS n
    FROM events
    GROUP BY 1
    ORDER BY 1
""")


# --------------------------------------------------------------------------
# ev_sequence — P2 batch analogue: per-key monotone sequence
# --------------------------------------------------------------------------

def ev_sequence(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "event_id",
        "user_id",
        F.row_number().over(w).cast("int").alias("sequence"),
    )


EV_SEQUENCE_SQL = dedent("""
    WITH events AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM main.events)
    SELECT event_id, user_id,
           CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS INTEGER) AS sequence
    FROM events
""")


# --------------------------------------------------------------------------
# ev_enrich — M4: full enrichment projection with a pinned clock
# --------------------------------------------------------------------------

def ev_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M4 enrichment — VARIANT path (round 11): the open map rides the
    single-pass parse as VariantType (typed, shredding-ready) and is
    serialized back only at the enrichment splice. to_json(variant)
    emits the variant format's sorted key order — on this wire the maps
    are single-key so the serialized form is unchanged and the oracle
    is untouched; the convention is pinned in schemas.py."""
    from flink_tank_spark.operators.enrich import enrich

    wire = _events_as_wire(spark, sf_dir)
    valid, _ = parse_and_route(
        wire, now=F.to_timestamp(F.lit(FIXED_NOW)), variant_data=True
    )
    out = enrich(
        valid.withColumn("data", F.to_json("data")),
        now=F.to_timestamp(F.lit(FIXED_NOW)),
        order_by=["arrival"],
    )
    return out.select(
        "originalId", "eventType", "processedAt", "processingDelay", "enrichedData", "sequence"
    )


# NOTE on the oracle: `data` reaching enrich comes from to_json(parse_json(props)),
# which canonicalizes the JSON to compact form ({"k": 69} -> {"k":69}); the
# oracle mirrors that via DuckDB's json round-trip (CAST TO JSON normalizes).
EV_ENRICH_SQL = dedent(f"""
    WITH events AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM main.events),
    base AS (
      SELECT CAST(user_id AS VARCHAR) AS originalId,
             event_type AS eventType,
             epoch_ms(ts) AS ts_ms,
             json(props)::VARCHAR AS data,
             event_id,
             user_id
      FROM events
    )
    SELECT originalId, eventType,
           '2024-06-01T12:00:00.000Z' AS processedAt,
           {FIXED_NOW_MS} - ts_ms AS processingDelay,
           substr(data, 1, length(data) - 1)
             || CASE WHEN length(regexp_replace(substr(data, 1, length(data) - 1), '^\\s*\\{{\\s*$', '{{')) > 1
                     THEN ',' ELSE '' END
             || '"original_timestamp":' || CAST(ts_ms AS VARCHAR)
             || ',"processing_pipeline":"flink-event-processor"}}' AS enrichedData,
           CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS INTEGER) AS sequence
    FROM base
""")


# --------------------------------------------------------------------------
# ev_sliding_peak — P3/A1: full 10-min/5-s sliding window, per-user peak
# --------------------------------------------------------------------------

def ev_sliding_peak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak 10-min/5-s sliding-window count per user, WITHOUT the 120×
    window-explosion ``F.window(slide)`` would generate.

    Rewrite: counts per aligned 5-s bucket (one small shuffle), then
    - peak: a RANGE-frame sliding sum over bucket indices. Any maximal
      window can be shifted right until its left edge hits an occupied
      bucket without losing events, so evaluating window starts at
      occupied buckets only is lossless.
    - n_windows (distinct windows containing ≥1 event): each occupied
      bucket contributes ``min(gap_to_previous, 120)`` windows (lag).

    Shuffled rows: #occupied buckets (≤ #events), vs 120× #events for
    the naive explode — the difference between 12 M and 100 k rows at
    sf0.1, and between feasible and not at 100 TB.
    """
    ev = load_table(spark, sf_dir, "events")
    buckets = (
        ev.groupBy(
            "user_id",
            F.floor(F.unix_micros("ts") / F.lit(5_000_000)).alias("bucket"),
        ).agg(F.count(F.lit(1)).alias("cnt"))
    )
    w_slide = (
        W.partitionBy("user_id").orderBy("bucket").rangeBetween(0, 119)
    )
    w_lag = W.partitionBy("user_id").orderBy("bucket")
    per_bucket = buckets.select(
        "user_id",
        F.sum("cnt").over(w_slide).alias("win_cnt"),
        F.least(
            F.coalesce(F.col("bucket") - F.lag("bucket").over(w_lag), F.lit(120)),
            F.lit(120),
        ).alias("new_windows"),
    )
    return (
        per_bucket.groupBy("user_id")
        .agg(
            F.max("win_cnt").cast("int").alias("peak_count"),
            F.sum("new_windows").alias("n_windows"),
        )
        .orderBy("user_id")
    )


EV_SLIDING_PEAK_SQL = dedent("""
    WITH events AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM main.events)
    SELECT user_id,
           CAST(MAX(cnt) AS INTEGER) AS peak_count,
           COUNT(*) AS n_windows
    FROM (
      SELECT user_id,
             FLOOR(epoch(ts) / 5) * 5 - 5 * i AS wstart,
             COUNT(*) AS cnt
      FROM events CROSS JOIN generate_series(0, 119) AS t(i)
      GROUP BY 1, 2
    )
    GROUP BY user_id
    ORDER BY user_id
""")


# --------------------------------------------------------------------------
# ev_type_counts — A2: per-key per-type counts
# --------------------------------------------------------------------------

def ev_type_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id", "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("user_id", "event_type")
    )


EV_TYPE_COUNTS_SQL = dedent("""
    WITH events AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM main.events)
    SELECT user_id, event_type, COUNT(*) AS n
    FROM events GROUP BY user_id, event_type
    ORDER BY user_id, event_type
""")


# --------------------------------------------------------------------------
# ev_sessionize — session windows (gaps-and-islands oracle)
# --------------------------------------------------------------------------

def ev_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    sessions = (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select("user_id", F.col("w.start").alias("session_start"), "n_events")
    )
    return sessions.orderBy("user_id", "session_start")


EV_SESSIONIZE_SQL = dedent("""
    WITH events AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM main.events),
    flagged AS (
      SELECT user_id, ts,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > INTERVAL 30 MINUTE OR
                  LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ), islands AS (
      SELECT user_id, ts,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS session_id
      FROM flagged
    )
    SELECT user_id, MIN(ts) AS session_start, COUNT(*) AS n_events
    FROM islands
    GROUP BY user_id, session_id
    ORDER BY user_id, session_start
""")


# --------------------------------------------------------------------------
# ev_json_extract — §2.10 JSON scalar functions over the open props map
# --------------------------------------------------------------------------

def ev_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 scalar access into the open map — VARIANT path (round 11):
    one parse_json per row builds the binary variant, then
    try_variant_get reads '$.k' typed, with no JSON re-parse per access
    (get_json_object re-walks the string per path; at many paths per
    row the variant parse amortizes, and variant columns shred into
    pushdown-friendly parquet subcolumns at rest on Spark 4.x)."""
    ev = load_table(spark, sf_dir, "events")
    # try_parse_json, not parse_json: a malformed props row yields a
    # null variant (and null extraction) instead of failing the query —
    # the same lenient contract the rest of the pipeline pins
    # (get_json_object was null-propagating too)
    k = F.try_variant_get(F.try_parse_json("props"), "$.k", "long")
    return (
        ev.groupBy("event_type")
        .agg(
            F.sum(k).alias("sum_k"),
            F.count(k).alias("n_with_k"),
        )
        .orderBy("event_type")
    )


EV_JSON_EXTRACT_SQL = dedent("""
    WITH events AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM main.events)
    SELECT event_type,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
           COUNT(json_extract_string(props, '$.k')) AS n_with_k
    FROM events
    GROUP BY event_type
    ORDER BY event_type
""")


# --------------------------------------------------------------------------
# ev_tumbling_hourly — tumbling window counts + exact value sums
# --------------------------------------------------------------------------

def ev_tumbling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum("value", "sum_value"),
        )
        .select(
            F.col("w.start").alias("hour_start"),
            "event_type",
            "n",
            "sum_value",
        )
        .orderBy("hour_start", "event_type")
    )


EV_TUMBLING_HOURLY_SQL = dedent(f"""
    WITH events AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM main.events)
    SELECT date_trunc('hour', ts) AS hour_start,
           event_type,
           COUNT(*) AS n,
           {sql_dsum('value')} AS sum_value
    FROM events
    GROUP BY 1, 2
    ORDER BY 1, 2
""")




# --------------------------------------------------------------------------
# ev_gap_fill — dense hourly series with zero-filled empty buckets
# --------------------------------------------------------------------------

def ev_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap fill: hourly (type, hour) counts INCLUDING hours
    with no events — the batch analogue of the reference's zero-count
    heartbeat (AggregationJob.kt:171-186 emits even when the window is
    empty; declarative aggs only emit observed buckets).

    Scale shape: the dense skeleton is DIMENSION-sized — hours exploded
    from a 1-row min/max aggregate × the distinct type table — never
    event-sized; the event-side work stays one map-side-combinable
    groupBy. The hours×types product uses the column-derived always-zero
    equi key (see similarity._broadcast_all_pairs) so it plans as a
    BroadcastHashJoin, not a nested loop."""
    ev = load_table(spark, sf_dir, "events")
    counts = ev.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("hour_start"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n"))
    span = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    hours = span.select(
        F.explode(F.sequence("lo", "hi", F.expr("interval 1 hour"))).alias("hour_start")
    ).withColumn("_xk", F.dayofmonth("hour_start") % F.lit(1))
    # NULL-safe derived key: length(NULL) is NULL and would silently drop
    # a NULL event_type from the skeleton (the oracle's CROSS JOIN keeps
    # it with n=0). Coalesce keeps the key column-derived (so constant
    # folding can't collapse the equi join back into a cross join) while
    # guaranteeing 0 for every row.
    types = ev.select("event_type").distinct().withColumn(
        "_xk", F.length(F.coalesce("event_type", F.lit(""))) % F.lit(1)
    )
    skeleton = hours.join(F.broadcast(types), "_xk").drop("_xk")
    # counts is DIMENSION-bounded (≤ hours × types rows) no matter how
    # many events fed the groupBy, but Catalyst's size estimate scales
    # with the input, so at sf1 this left join flips to a sort-merge
    # join (scripts/plan_scale_audit.py finding). Hint the truth: the
    # aggregated side always fits a broadcast.
    return (
        skeleton.join(F.broadcast(counts), ["hour_start", "event_type"], "left")
        .select(
            "hour_start", "event_type", F.coalesce("n", F.lit(0)).alias("n")
        )
        .orderBy("hour_start", "event_type")
    )


EV_GAP_FILL_SQL = dedent("""
    WITH events AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM main.events),
    span AS (
      SELECT date_trunc('hour', MIN(ts)) AS lo, date_trunc('hour', MAX(ts)) AS hi
      FROM events
    ),
    hours AS (
      SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour_start FROM span
    ),
    types AS (SELECT DISTINCT event_type FROM events),
    counts AS (
      SELECT date_trunc('hour', ts) AS hour_start, event_type, COUNT(*) AS n
      FROM events GROUP BY 1, 2
    )
    SELECT h.hour_start, t.event_type, COALESCE(c.n, 0) AS n
    FROM hours h
    CROSS JOIN types t
    LEFT JOIN counts c
      ON c.hour_start = h.hour_start AND c.event_type = t.event_type
    ORDER BY 1, 2
""")


# --------------------------------------------------------------------------
# ev_pivot_type_counts — wide per-user activity profile (pivot)
# --------------------------------------------------------------------------

EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


def ev_pivot_type_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Long→wide pivot: one row per user, one count column per event
    type. The pivot value list is EXPLICIT, so the output schema is
    static and Spark skips the extra distinct-scan job it otherwise
    runs to discover pivot values — at 100 TB that scan is a full pass.
    Count aggregation is map-side combinable; one shuffle on user_id."""
    ev = load_table(spark, sf_dir, "events")
    wide = (
        ev.groupBy("user_id")
        .pivot("event_type", list(EVENT_TYPES))
        .agg(F.count(F.lit(1)))
    )
    counts = [
        F.coalesce(F.col(t), F.lit(0)).cast("long").alias(f"n_{t}")
        for t in EVENT_TYPES
    ]
    total = sum(
        (F.coalesce(F.col(t), F.lit(0)).cast("long") for t in EVENT_TYPES),
        start=F.lit(0).cast("long"),
    ).alias("n_total")
    return wide.select("user_id", *counts, total).orderBy("user_id")


_PIVOT_COLS = ",\n           ".join(
    f"COUNT(CASE WHEN event_type = '{t}' THEN 1 END) AS n_{t}"
    for t in EVENT_TYPES
)
_PIVOT_TOTAL = " + ".join(
    f"COUNT(CASE WHEN event_type = '{t}' THEN 1 END)" for t in EVENT_TYPES
)

EV_PIVOT_TYPE_COUNTS_SQL = dedent(f"""
    SELECT user_id,
           {_PIVOT_COLS},
           {_PIVOT_TOTAL} AS n_total
    FROM events
    GROUP BY user_id
    ORDER BY user_id
""")


# --------------------------------------------------------------------------
# ev_asof_login — as-of join: latest login at-or-before each purchase
# --------------------------------------------------------------------------

def ev_asof_login(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_tank_spark.operators.joins import asof_join

    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    logins = ev.filter(F.col("event_type") == "login").select("user_id", "ts")
    return asof_join(
        purchases, logins,
        key="user_id", left_ts="ts", right_ts="ts",
        right_value="ts", value_alias="last_login_ts",
    ).orderBy("event_id")


# The carried value IS the ordering key (ts), so equal-timestamp login
# ties cannot produce different results in either engine.
EV_ASOF_LOGIN_SQL = dedent("""
    WITH events AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM main.events),
    u AS (
      SELECT user_id, ts, 1 AS side, event_id, CAST(NULL AS TIMESTAMP) AS lts
      FROM events WHERE event_type = 'purchase'
      UNION ALL
      SELECT user_id, ts, 0, NULL, ts FROM events WHERE event_type = 'login'
    )
    SELECT event_id, user_id, ts,
           last_value(lts IGNORE NULLS)
             OVER (PARTITION BY user_id ORDER BY ts, side
                   ROWS UNBOUNDED PRECEDING) AS last_login_ts
    FROM u
    QUALIFY side = 1
    ORDER BY event_id
""")


# --------------------------------------------------------------------------
# ev_interval_clicks — interval join: clicks within 5 min before an error
# --------------------------------------------------------------------------

def ev_interval_clicks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_tank_spark.operators.joins import interval_join

    ev = load_table(spark, sf_dir, "events")
    errors = ev.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", "ts")
    joined = interval_join(
        errors, clicks,
        key="user_id", left_ts="ts", right_ts="ts",
        lower=F.expr("INTERVAL -5 MINUTES"), upper=F.expr("INTERVAL 0 SECONDS"),
        how="left",
    )
    return (
        joined.groupBy("event_id", "user_id")
        .agg(F.count("r_ts").alias("n_clicks_5m_before"))
        .orderBy("event_id")
    )


EV_INTERVAL_CLICKS_SQL = dedent("""
    WITH events AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM main.events)
    SELECT e.event_id, e.user_id, COUNT(c.ts) AS n_clicks_5m_before
    FROM events e
    LEFT JOIN events c
      ON c.user_id = e.user_id AND c.event_type = 'click'
     AND c.ts >= e.ts - INTERVAL 5 MINUTE AND c.ts <= e.ts
    WHERE e.event_type = 'error'
    GROUP BY e.event_id, e.user_id
    ORDER BY e.event_id
""")




# --------------------------------------------------------------------------
# ev_salted_counts — skewed-key counting via salted two-stage aggregation
# --------------------------------------------------------------------------

def ev_salted_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same result as a plain groupBy count (the oracle proves it), but
    computed through the salt->preagg->merge path used for hot keys at
    scale (operators/skew.py)."""
    from flink_tank_spark.operators.skew import salted_count

    ev = load_table(spark, sf_dir, "events")
    return salted_count(ev, ["user_id", "event_type"], n_salts=8).orderBy(
        "user_id", "event_type"
    )


EV_SALTED_COUNTS_SQL = dedent("""
    SELECT user_id, event_type, COUNT(*) AS n
    FROM events GROUP BY user_id, event_type
    ORDER BY user_id, event_type
""")


# --------------------------------------------------------------------------
# ev_hourly_top_users — windowed Top-N (the Flink "window TopN" shape)
# --------------------------------------------------------------------------

TOPN_K = 3


def ev_hourly_top_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per tumbling hour: the 3 most active users — Flink's windowed
    TopN, the leaderboard shape next to ev_tumbling_hourly's plain
    counts. Ties break on user_id, so the board is reproducible.

    Scale shape: the (hour, user) counts are one map-side-combinable
    groupBy; the per-window top-3 goes through the two-phase SALTED
    window (operators/rank.salted_topk) — never a row_number over a
    whole window's users (100 M rows through one task at lake scale).
    """
    from flink_tank_spark.operators.rank import salted_topk

    ev = load_table(spark, sf_dir, "events")
    counts = (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "user_id", "n_events")
    )
    order = [F.col("n_events").desc(), F.col("user_id").asc()]
    return (
        salted_topk(counts, ["window_start"], order, "user_id", TOPN_K)
        .select("window_start", "rank", "user_id", "n_events")
        .orderBy("window_start", "rank")
    )


EV_HOURLY_TOP_USERS_SQL = dedent(f"""
    WITH events AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM main.events),
    c AS (
      SELECT date_trunc('hour', ts) AS window_start, user_id,
             COUNT(*) AS n_events
      FROM events GROUP BY 1, 2
    )
    SELECT window_start, rank, user_id, n_events FROM (
      SELECT window_start, user_id, n_events,
             CAST(ROW_NUMBER() OVER (PARTITION BY window_start
                                     ORDER BY n_events DESC, user_id ASC)
                  AS INTEGER) AS rank
      FROM c)
    WHERE rank <= {TOPN_K}
    ORDER BY window_start, rank
""")



# --------------------------------------------------------------------------
# ev_session_stats — per-user session metrics over the session windows
# --------------------------------------------------------------------------

def ev_session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user session metrics over the same 30-minute-gap session
    windows as ev_sessionize: session count, events, total/average
    session duration — the engagement rollup session windows exist for.

    Determinism: durations are exact integer SECONDS (max-min event
    time per session); the average is one int/int double division —
    identical IEEE op on both engines. Scale shape: session assembly is
    Spark's native session_window aggregation (per-user state, high-
    cardinality key); the rollup is one further map-side-combinable
    groupBy."""
    ev = load_table(spark, sf_dir, "events")
    sess = (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_ev"),
            F.min("ts").alias("t0"),
            F.max("ts").alias("t1"),
        )
        .select(
            "user_id",
            "n_ev",
            (F.unix_timestamp("t1") - F.unix_timestamp("t0")).alias("dur_sec"),
        )
    )
    return (
        sess.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.sum("n_ev").alias("n_events"),
            F.sum("dur_sec").alias("total_duration_sec"),
        )
        .withColumn(
            "avg_duration_sec",
            F.col("total_duration_sec").cast("double")
            / F.col("n_sessions").cast("double"),
        )
        .orderBy("user_id")
    )


EV_SESSION_STATS_SQL = dedent("""
    WITH events AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM main.events),
    flagged AS (
      SELECT user_id, ts,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > INTERVAL 30 MINUTE OR
                  LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ), islands AS (
      SELECT user_id, ts,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS session_id
      FROM flagged
    ), sess AS (
      SELECT user_id, session_id, COUNT(*) AS n_ev,
             date_diff('second', MIN(ts), MAX(ts)) AS dur_sec
      FROM islands GROUP BY user_id, session_id
    )
    SELECT user_id,
           COUNT(*) AS n_sessions,
           CAST(SUM(n_ev) AS BIGINT) AS n_events,
           CAST(SUM(dur_sec) AS BIGINT) AS total_duration_sec,
           CAST(SUM(dur_sec) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
             AS avg_duration_sec
    FROM sess GROUP BY user_id
    ORDER BY user_id
""")



QUERIES = [
    QuerySpec("ev_parse_route", ev_parse_route, EV_PARSE_ROUTE_SQL,
              "M3→P1: JSON wire serialize + parse_and_route round-trip", ("streaming", "parse")),
    QuerySpec("ev_error_routing", ev_error_routing, EV_ERROR_ROUTING_SQL,
              "F2/R1: corrupt-message routing to the error branch", ("streaming", "route")),
    QuerySpec("ev_sequence", ev_sequence, EV_SEQUENCE_SQL,
              "P2: per-key monotone sequence (batch row_number form)", ("streaming", "state")),
    QuerySpec("ev_enrich", ev_enrich, EV_ENRICH_SQL,
              "M4: enrichment projection incl. JSON splice, pinned clock", ("streaming", "enrich")),
    QuerySpec("ev_sliding_peak", ev_sliding_peak, EV_SLIDING_PEAK_SQL,
              "P3/A1: 10min/5s sliding windows, per-user peak", ("streaming", "window"), bench=True),
    QuerySpec("ev_type_counts", ev_type_counts, EV_TYPE_COUNTS_SQL,
              "A2: per-key per-type counts", ("streaming", "agg")),
    QuerySpec("ev_session_stats", ev_session_stats, EV_SESSION_STATS_SQL,
              "per-user session count / events / exact-second durations",
              ("streaming", "window", "session")),
    QuerySpec("ev_sessionize", ev_sessionize, EV_SESSIONIZE_SQL,
              "session windows vs gaps-and-islands oracle", ("streaming", "window")),
    QuerySpec("ev_json_extract", ev_json_extract, EV_JSON_EXTRACT_SQL,
              "JSON scalar functions over the open props map", ("streaming", "json")),
    QuerySpec("ev_hourly_top_users", ev_hourly_top_users, EV_HOURLY_TOP_USERS_SQL,
              "windowed Top-N: 3 most active users per tumbling hour "
              "(salted two-phase, deterministic ties)",
              ("streaming", "window", "topn")),
    QuerySpec("ev_tumbling_hourly", ev_tumbling_hourly, EV_TUMBLING_HOURLY_SQL,
              "tumbling hourly counts + exact sums", ("streaming", "window")),
    QuerySpec("ev_asof_login", ev_asof_login, EV_ASOF_LOGIN_SQL,
              "as-of join: latest login at-or-before each purchase", ("streaming", "asof")),
    QuerySpec("ev_interval_clicks", ev_interval_clicks, EV_INTERVAL_CLICKS_SQL,
              "interval join: clicks within 5min before each error", ("streaming", "rangejoin")),
    QuerySpec("ev_salted_counts", ev_salted_counts, EV_SALTED_COUNTS_SQL,
              "skew-safe salted two-stage aggregation", ("streaming", "skew")),
    QuerySpec("ev_gap_fill", ev_gap_fill, EV_GAP_FILL_SQL,
              "dense hourly series with zero-filled gaps (heartbeat, batch form)",
              ("streaming", "timeseries")),
    QuerySpec("ev_pivot_type_counts", ev_pivot_type_counts, EV_PIVOT_TYPE_COUNTS_SQL,
              "long→wide pivot: per-user count column per event type",
              ("batch", "pivot")),
]
