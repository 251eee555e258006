"""Product-analytics queries over the events table: funnels, retention.

Extension surface (SURVEY §2.12): the day-to-day event-analytics shapes
an engine user runs alongside the TPC-H-style reporting queries. Both
are pure conditional-aggregation plans — per-user reductions that
map-side combine, no window over an unbounded partition, no self-join
explosion — so they scan-bound at 100 TB.
"""

from __future__ import annotations

from textwrap import dedent

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from flink_tank_spark.functions.numeric import dsum, sql_dsum
from flink_tank_spark.io.tables import load_table
from flink_tank_spark.operators import bloom
from flink_tank_spark.plans import shared
from flink_tank_spark.plans.registry import QuerySpec

FUNNEL_STEPS = ("signup", "view", "purchase")


def ev_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered 3-step funnel (signup → view → purchase): users counted
    at step k only if each step's FIRST qualifying event happens
    strictly after the previous step's AND within the 4-hour conversion
    window (first-touch attribution with a step deadline — the form
    product funnels are actually defined in).

    Shape: one conditional min-timestamp aggregation per step — three
    map-side-combinable passes keyed by user, joined on user_id (the
    later passes reduce to the users still in the funnel), then a 1-row
    count. The correlated "first view AFTER the signup" condition is
    why this is per-step passes rather than one pivot: each step's
    threshold is the previous step's result.
    """
    ev = load_table(spark, sf_dir, "events")
    window = F.expr("interval 4 hours")

    # t1/t2 are each referenced twice (the next step's join + their own
    # scalar count) — materialized once via checkpoint (r14, guide
    # §2.4) so each step's filtered events scan + aggregation runs a
    # single time instead of once per reference. Both tables are
    # per-user (bounded far below the event volume at any scale).
    t1 = ev.filter(F.col("event_type") == FUNNEL_STEPS[0]).groupBy("user_id").agg(
        F.min("ts").alias("t1")
    )
    t1 = shared.cut(t1)
    t2 = (
        ev.filter(F.col("event_type") == FUNNEL_STEPS[1])
        .join(t1, "user_id")
        .filter((F.col("ts") > F.col("t1")) & (F.col("ts") <= F.col("t1") + window))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    t2 = shared.cut(t2)
    t3 = (
        ev.filter(F.col("event_type") == FUNNEL_STEPS[2])
        .join(t2, "user_id")
        .filter((F.col("ts") > F.col("t2")) & (F.col("ts") <= F.col("t2") + window))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    # one lazy 1-row plan (no driver-side .count() actions): four scalar
    # aggregates cross-joined — constant work at any scale, same lazy-
    # scalar pattern as tpch q11/q22
    return (
        ev.agg(F.countDistinct("user_id").alias("n_users"))
        .crossJoin(F.broadcast(t1.agg(F.count(F.lit(1)).alias("n_signup"))))
        .crossJoin(F.broadcast(t2.agg(F.count(F.lit(1)).alias("n_signup_view"))))
        .crossJoin(F.broadcast(t3.agg(F.count(F.lit(1)).alias("n_full_funnel"))))
    )


EV_FUNNEL_SQL = dedent("""
    WITH events AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM main.events),
    t1 AS (
      SELECT user_id, MIN(ts) AS t1 FROM events
      WHERE event_type = 'signup' GROUP BY user_id
    ),
    t2 AS (
      SELECT e.user_id, MIN(e.ts) AS t2
      FROM events e JOIN t1 ON e.user_id = t1.user_id
      WHERE e.event_type = 'view'
        AND e.ts > t1.t1 AND e.ts <= t1.t1 + INTERVAL 4 HOUR
      GROUP BY e.user_id
    ),
    t3 AS (
      SELECT e.user_id, MIN(e.ts) AS t3
      FROM events e JOIN t2 ON e.user_id = t2.user_id
      WHERE e.event_type = 'purchase'
        AND e.ts > t2.t2 AND e.ts <= t2.t2 + INTERVAL 4 HOUR
      GROUP BY e.user_id
    )
    SELECT (SELECT COUNT(DISTINCT user_id) FROM events) AS n_users,
           (SELECT COUNT(*) FROM t1) AS n_signup,
           (SELECT COUNT(*) FROM t2) AS n_signup_view,
           (SELECT COUNT(*) FROM t3) AS n_full_funnel
""")


def ev_retention_cohorts(spark: SparkSession, sf_dir: str, max_offset: int = 7) -> DataFrame:
    """Cohort retention: users grouped by first-seen day, counted on
    each subsequent day-offset they were active (0..max_offset).

    Shape: first-seen is one per-user min; activity is the distinct
    (user, day) set; one join on user_id and one (cohort, offset)
    count — the triangle a cohort chart is drawn from.
    """
    ev = load_table(spark, sf_dir, "events")
    active = ev.select("user_id", F.to_date("ts").alias("day")).distinct()
    first = active.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    return (
        active.join(first, "user_id")
        .withColumn("day_offset", F.datediff("day", "cohort_day"))
        .filter(F.col("day_offset") <= max_offset)
        .groupBy("cohort_day", "day_offset")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy("cohort_day", "day_offset")
    )


EV_RETENTION_SQL = dedent("""
    WITH events AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM main.events),
    active AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
    first AS (SELECT user_id, MIN(day) AS cohort_day FROM active GROUP BY user_id)
    SELECT f.cohort_day, date_diff('day', f.cohort_day, a.day) AS day_offset,
           COUNT(*) AS n_users
    FROM active a JOIN first f ON a.user_id = f.user_id
    WHERE date_diff('day', f.cohort_day, a.day) <= 7
    GROUP BY 1, 2
    ORDER BY 1, 2
""")


def ev_cep_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CEP-style pattern match (the Flink-library shape beyond the
    reference's core surface): per user, `signup` followed — in relaxed
    contiguity — by the FIRST subsequent `purchase` WITHIN 1 hour, with
    the NEGATION condition that no `error` occurs strictly between the
    two. Emits one row per matching signup (skip-to-next-match on the
    purchase side: a purchase may close several overlapping signups,
    Flink CEP's relaxed semantics).

    Shape: one pass, two conditional suffix-min window columns over
    (user, time) order — next purchase ts, next error ts — then a pure
    filter. The window partition key is user_id (high-cardinality), so
    this is NOT the low-cardinality window funnel the module docstring
    bans: per-user partitions stay small and the pass scan-bounds at
    100 TB. Ties at identical ts are broken by event_id in the ORDER,
    and the negation compares raw timestamps (an error at exactly the
    purchase ts rejects the match) — both rules identical on the oracle
    side, so the result is merge-order invariant.
    """
    ev = load_table(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(1, W.unboundedFollowing)
    )
    nxt = lambda typ: F.min(  # noqa: E731 — two symmetric suffix mins
        F.when(F.col("event_type") == typ, F.col("ts"))
    ).over(w)
    ordered = ev.select(
        "user_id", "event_id", "ts", "event_type",
        nxt("purchase").alias("next_p_ts"),
        nxt("error").alias("next_e_ts"),
    )
    return (
        ordered.filter(
            (F.col("event_type") == "signup")
            & F.col("next_p_ts").isNotNull()
            & (F.col("next_p_ts") <= F.col("ts") + F.expr("interval 1 hour"))
            & (F.col("next_e_ts").isNull() | (F.col("next_e_ts") > F.col("next_p_ts")))
        )
        .select(
            "user_id",
            F.col("event_id").alias("signup_event_id"),
            F.col("ts").alias("signup_ts"),
            F.col("next_p_ts").alias("purchase_ts"),
        )
        .orderBy("user_id", "signup_event_id")
    )


EV_CEP_MATCH_SQL = dedent("""
    WITH events AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM main.events),
    ordered AS (
      SELECT user_id, event_id, ts, event_type,
             MIN(CASE WHEN event_type = 'purchase' THEN ts END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS next_p_ts,
             MIN(CASE WHEN event_type = 'error' THEN ts END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS next_e_ts
      FROM events
    )
    SELECT user_id, event_id AS signup_event_id, ts AS signup_ts,
           next_p_ts AS purchase_ts
    FROM ordered
    WHERE event_type = 'signup'
      AND next_p_ts IS NOT NULL AND next_p_ts <= ts + INTERVAL 1 HOUR
      AND (next_e_ts IS NULL OR next_e_ts > next_p_ts)
    ORDER BY user_id, signup_event_id
""")


def join_bloom_prune(spark: SparkSession, sf_dir: str,
                     fpp: float = 0.01) -> DataFrame:
    """Bloom-pruned selective fact/dim join: revenue of line items whose
    order is '1-URGENT', computed as build-Bloom-over-urgent-orderkeys →
    probe-prune lineitem → EXACT semi-join on the survivors → aggregate.

    The result is exact regardless of the filter's false-positive rate
    (the semi-join removes them), which is what makes it oracle-gateable:
    the DuckDB oracle is the plain semi-join aggregate. What the Bloom
    stage changes is the PLAN — only ~(sel + fpp) of the fact table
    reaches the semi-join's shuffle, at the price of broadcasting
    ~1.2 bytes/key instead of the key set; Spark's own
    ``runtimeFilter.bloomFilter`` applies the same transformation
    opportunistically, and this query keeps it explicit and measurable.

    Measured regime (single-node sf1, warm, 24 cores): plain semi-join
    2.7 s (broadcast) / 1.1 s (broadcast disabled, SMJ) vs bloom+semi
    3.2 s / 2.2 s — the pruning CANNOT pay on one node, where a local
    shuffle of narrow rows costs less than k=7 extra hashes per fact
    row. Its winning regime is a cluster whose build side exceeds the
    broadcast threshold so the alternative is a two-sided NETWORK
    shuffle of the fact table: the sketch substitutes an m/8-byte
    broadcast for (1 - sel - fpp) of that traffic, the same economics
    by which Spark's runtime filter gates itself on estimated shuffle
    bytes (creationSideThreshold/applicationSideThreshold). The gate
    certifies the staging is exact; the regime note is the honest
    price tag (the WAND lesson: state where a pruning pays, not just
    that it can).

    Sizing runs ``count()`` on the (filtered, single-column,
    predicate-pushed) build side first — AQE-style statistics gathering,
    one cheap dim-side scan, never a fact-side action."""
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    urgent = orders.filter(F.col("o_orderpriority") == "1-URGENT").select(
        "o_orderkey"
    )
    m_bits, k = bloom.bloom_params(urgent.count(), fpp)
    filt = bloom.bloom_build(urgent, "o_orderkey", m_bits, k)
    maybe = bloom.bloom_probe(lineitem, "l_orderkey", filt, m_bits, k)
    exact = maybe.join(
        urgent, maybe.l_orderkey == urgent.o_orderkey, "left_semi"
    )
    return (
        exact.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            dsum(F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount")),
                 "revenue"),
        )
        .orderBy("l_returnflag")
    )


JOIN_BLOOM_PRUNE_SQL = dedent(f"""
    SELECT l_returnflag, COUNT(*) AS n_items,
           {sql_dsum('l_extendedprice * (1 - l_discount)')} AS revenue
    FROM lineitem
    WHERE l_orderkey IN (
      SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT'
    )
    GROUP BY l_returnflag
    ORDER BY l_returnflag
""")


def ev_type_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over user journeys: for each
    (from_type, to_type) pair of CONSECUTIVE events within a user's
    timeline, the transition count and row-normalized probability — the
    user-journey model product analytics fits next to funnels/retention.

    Shape: one lead() window partitioned by user_id (per-user event
    counts are bounded; user_id is high-cardinality, so no single-task
    funnel) → one map-side-combinable groupBy over at most |types|²
    pairs; the row normalization joins against the 5-row per-from-type
    totals. Ordering ties break on event_id (the ev_sequence
    convention), so the matrix is partition-invariant."""
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    trans = (
        ev.select(
            F.col("event_type").alias("from_type"),
            F.lead("event_type").over(w).alias("to_type"),
        )
        .filter(F.col("to_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).alias("n_trans"))
    )
    totals = trans.groupBy("from_type").agg(F.sum("n_trans").alias("n_from"))
    return (
        trans.join(F.broadcast(totals), "from_type")
        .select(
            "from_type",
            "to_type",
            "n_trans",
            (F.col("n_trans").cast("double") / F.col("n_from").cast("double"))
            .alias("p_trans"),
        )
        .orderBy("from_type", "to_type")
    )


EV_TYPE_TRANSITIONS_SQL = dedent("""
    WITH seq AS (
      SELECT event_type AS from_type,
             LEAD(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS to_type
      FROM events
    ),
    trans AS (
      SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS n_trans
      FROM seq WHERE to_type IS NOT NULL
      GROUP BY from_type, to_type
    ),
    totals AS (
      SELECT from_type, CAST(SUM(n_trans) AS BIGINT) AS n_from
      FROM trans GROUP BY from_type
    )
    SELECT t.from_type, t.to_type, t.n_trans,
           CAST(t.n_trans AS DOUBLE) / CAST(o.n_from AS DOUBLE) AS p_trans
    FROM trans t JOIN totals o USING (from_type)
    ORDER BY t.from_type, t.to_type
""")


# --------------------------------------------------------------------------
# ev_value_outliers — exact-arithmetic z-score anomaly counts
# --------------------------------------------------------------------------

def _z2_ppm_sql(num: str, rhs: str) -> str:
    """Exact ``floor(num * 1e6 / rhs)`` staged so no intermediate exceeds
    ``max(num, rhs * 1000)`` — the naive ``num * 1000000`` overflows
    DECIMAL(38,0)/HUGEINT once ``rhs`` passes ~1e32, well inside the
    n ≤ 1e9 group envelope (rhs = n²σ² reaches ~6e34 there). Identity:
    with q = num div rhs, r0 = num mod rhs, q1 = r0·1000 div rhs,
    r1 = r0·1000 mod rhs,  floor(num·10⁶/rhs) = q·10⁶ + q1·10³ +
    (r1·1000 div rhs); every remainder is < rhs so each staged product
    is < rhs·1000 < 1e38 whenever rhs < 1e35. Same text runs verbatim
    in Spark SQL (DECIMAL(38,0), `div`/`%`) and DuckDB (HUGEINT,
    `//`/`%` — the caller substitutes operators)."""
    return (
        f"(({num}) div ({rhs})) * 1000000"
        f" + (((({num}) % ({rhs})) * 1000) div ({rhs})) * 1000"
        f" + (((({num}) % ({rhs})) * 1000 % ({rhs})) * 1000) div ({rhs})"
    )


def _z2_ppm_duck(num: str, rhs: str) -> str:
    """DuckDB spelling of :func:`_z2_ppm_sql` (// for integer div)."""
    return (
        f"(({num}) // ({rhs})) * 1000000"
        f" + (((({num}) % ({rhs})) * 1000) // ({rhs})) * 1000"
        f" + (((({num}) % ({rhs})) * 1000 % ({rhs})) * 1000) // ({rhs})"
    )


def ev_value_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(event_type, day) value-anomaly monitor: how many events sit
    beyond 3 population standard deviations of their group, plus the
    worst squared z-score — the data-quality tripwire a training-data
    ingest runs next to the column profiler (plans/profile.py).

    Exactness contract: the z² comparison is pure INTEGER arithmetic —
    with v scaled to micro-units (the numeric.py recipe), n·s2 − s1²
    = n²σ² and (n·v − s1)² = n²(v−μ)², so

        |v − μ| > 3σ  ⇔  (n·v − s1)² > 9·(n·s2 − s1²)

    with the n² cancelled: no division, no sqrt, no float — any
    partitioning and the DuckDB oracle agree bit-for-bit. The reported
    ``z2_max_ppm`` is exact floor division (z² ≤ n by Chebyshev, so the
    ppm value fits a BIGINT at any group size).

    Scale shape: ONE corpus scan builds the exact (type, day, value)
    histogram (map-side combinable); stats, the z-test, and the counts
    all run on that bounded table — repeated values are tested once and
    counted by weight. Precision envelope: products stay in
    DECIMAL(38,0); |n·v_s| < 1e18 holds for group counts up to ~1e9 at
    this value domain (≤ 5e8 micro-units) — beyond that, shrink the
    group grain (hourly) or drop the scale factor. The z2_ppm report
    uses the staged multiply-divide of :func:`_z2_ppm_sql`, so it is
    exact over the SAME envelope (no intermediate exceeds rhs·1000 ≈
    6e37) — the naive diff²·10⁶ would overflow at rhs ≳ 1e32.
    """
    ev = load_table(spark, sf_dir, "events")
    hist = (
        ev.select(
            "event_type",
            F.to_date("ts").alias("day"),
            F.floor(F.col("value") * F.lit(1_000_000.0) + F.lit(0.5))
            .cast("decimal(20,0)")
            .alias("v"),
        )
        .groupBy("event_type", "day", "v")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    stats = hist.groupBy("event_type", "day").agg(
        F.sum("cnt").cast("decimal(12,0)").alias("n"),
        F.sum(F.col("v") * F.col("cnt")).alias("s1"),
        F.sum(F.col("v") * F.col("v") * F.col("cnt")).alias("s2"),
    )
    j = hist.join(F.broadcast(stats), ["event_type", "day"]).select(
        "event_type",
        "day",
        "cnt",
        (F.col("n") * F.col("v") - F.col("s1")).alias("diff"),
        (F.col("n") * F.col("s2") - F.col("s1") * F.col("s1")).alias("rhs"),
    )
    num = F.col("diff") * F.col("diff")
    return (
        j.select(
            "event_type",
            "day",
            "cnt",
            F.when(num > F.lit(9) * F.col("rhs"), F.col("cnt"))
            .otherwise(F.lit(0))
            .alias("out_cnt"),
            F.when(F.col("rhs") > 0, F.expr(_z2_ppm_sql("diff * diff", "rhs")))
            .otherwise(F.lit(0))
            .cast("long")
            .alias("z2_ppm"),
        )
        .groupBy("event_type", "day")
        .agg(
            F.sum("cnt").cast("long").alias("n_events"),
            F.sum("out_cnt").cast("long").alias("n_out3"),
            F.max("z2_ppm").alias("z2_max_ppm"),
        )
        .orderBy("event_type", "day")
    )


EV_VALUE_OUTLIERS_SQL = dedent(f"""
    WITH events AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM main.events),
    e AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(CAST(FLOOR(value * 1000000.0 + 0.5) AS BIGINT) AS HUGEINT) AS v
      FROM events
    ),
    s AS (
      SELECT event_type, day, CAST(COUNT(*) AS HUGEINT) AS n,
             SUM(v) AS s1, SUM(v * v) AS s2
      FROM e GROUP BY event_type, day
    ),
    j AS (
      SELECT e.event_type, e.day,
             (s.n * e.v - s.s1) * (s.n * e.v - s.s1) AS num,
             (s.n * s.s2 - s.s1 * s.s1) AS rhs
      FROM e JOIN s USING (event_type, day)
    )
    SELECT event_type, day,
           COUNT(*) AS n_events,
           CAST(SUM(CASE WHEN num > 9 * rhs THEN 1 ELSE 0 END) AS BIGINT) AS n_out3,
           CAST(MAX(CASE WHEN rhs > 0 THEN {_z2_ppm_duck('num', 'rhs')} ELSE 0 END) AS BIGINT) AS z2_max_ppm
    FROM j GROUP BY event_type, day
    ORDER BY event_type, day
""")


# --------------------------------------------------------------------------
# ev_daily_trend — per-type OLS trend slope over daily activity
# --------------------------------------------------------------------------

def ev_daily_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Is each event type's daily volume trending up or down? Ordinary
    least squares of daily count against day index, per type — the
    regression primitive next to the Markov transitions and funnel.

    Exactness: slope = (nΣxy − ΣxΣy) / (nΣx² − (Σx)²) with BOTH sides
    exact integers (x = days since the corpus' first day, y = daily
    count), so the only float is the final numerator/denominator
    division — deterministic IEEE on identical operands in both
    engines. Scale shape: one map-side-combinable (type, day) count
    scan; the regression runs on the BOUNDED daily table (the one
    unpartitioned window — min day — spans types×days rows, never the
    corpus; the distributed_ntile precedent)."""
    from pyspark.sql.window import Window as W

    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("y")
    )
    d0 = F.min("day").over(W.partitionBy())
    xy = daily.select(
        "event_type",
        F.datediff(F.col("day"), d0).cast("decimal(10,0)").alias("x"),
        F.col("y").cast("decimal(20,0)").alias("y"),
    )
    agg = xy.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("decimal(10,0)").alias("nd"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sx2"),
    )
    num = F.col("nd") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("nd") * F.col("sx2") - F.col("sx") * F.col("sx")
    return (
        agg.select(
            "event_type",
            F.col("nd").cast("long").alias("n_days"),
            (F.col("sy").cast("double") / F.col("nd").cast("double")).alias(
                "avg_daily"
            ),
            F.when(den > 0, num.cast("double") / den.cast("double"))
            .otherwise(F.lit(0.0))
            .alias("slope"),
        )
        .orderBy("event_type")
    )


EV_DAILY_TREND_SQL = dedent("""
    WITH events AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM main.events),
    daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS y
      FROM events GROUP BY 1, 2
    ),
    xy AS (
      SELECT event_type,
             CAST(date_diff('day', MIN(day) OVER (), day) AS HUGEINT) AS x,
             CAST(y AS HUGEINT) AS y
      FROM daily
    ),
    a AS (
      SELECT event_type, CAST(COUNT(*) AS HUGEINT) AS nd,
             SUM(x) AS sx, SUM(y) AS sy,
             SUM(x * y) AS sxy, SUM(x * x) AS sx2
      FROM xy GROUP BY event_type
    )
    SELECT event_type,
           CAST(nd AS BIGINT) AS n_days,
           CAST(sy AS DOUBLE) / CAST(nd AS DOUBLE) AS avg_daily,
           CASE WHEN nd * sx2 - sx * sx > 0
                THEN CAST(nd * sxy - sx * sy AS DOUBLE)
                     / CAST(nd * sx2 - sx * sx AS DOUBLE)
                ELSE 0.0 END AS slope
    FROM a
    ORDER BY event_type
""")



# --------------------------------------------------------------------------
# ev_anomaly_days — volume-level anomaly: which DAYS are off per type
# --------------------------------------------------------------------------

def ev_anomaly_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Traffic-volume anomaly per event type: days whose event COUNT
    sits beyond 3 population standard deviations of that type's daily
    distribution — the spike/outage monitor next to ev_value_outliers'
    per-event value check. Same exact integer z-test
    ((n·y − s1)² > 9·(n·s2 − s1²), n over DAYS), run entirely on the
    bounded (type, day) count table after one corpus scan. Reports the
    anomalous-day count and the worst day (ties break earliest)."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).cast("decimal(20,0)").alias("y")
    )
    stats = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("decimal(12,0)").alias("n"),
        F.sum("y").alias("s1"),
        F.sum(F.col("y") * F.col("y")).alias("s2"),
    )
    j = daily.join(F.broadcast(stats), "event_type").select(
        "event_type",
        "day",
        "y",
        (F.col("n") * F.col("y") - F.col("s1")).alias("diff"),
        (F.col("n") * F.col("s2") - F.col("s1") * F.col("s1")).alias("rhs"),
    )
    scored = j.select(
        "event_type",
        "day",
        "y",
        (F.col("diff") * F.col("diff") > F.lit(9) * F.col("rhs"))
        .cast("integer")
        .alias("is_anom"),
        F.when(F.col("rhs") > 0, F.expr(_z2_ppm_sql("diff * diff", "rhs")))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("z2_ppm"),
    )
    from pyspark.sql.window import Window as W

    w = W.partitionBy("event_type").orderBy(
        F.col("z2_ppm").desc(), F.col("day").asc()
    )
    worst = (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            "event_type",
            F.col("day").alias("worst_day"),
            F.col("y").cast("long").alias("worst_day_events"),
            F.col("z2_ppm").alias("worst_z2_ppm"),
        )
    )
    counts = scored.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum("is_anom").cast("long").alias("n_anomalous_days"),
    )
    return counts.join(worst, "event_type").orderBy("event_type")


EV_ANOMALY_DAYS_SQL = dedent(f"""
    WITH events AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM main.events),
    daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(COUNT(*) AS HUGEINT) AS y
      FROM events GROUP BY 1, 2
    ),
    st AS (
      SELECT event_type, CAST(COUNT(*) AS HUGEINT) AS n,
             SUM(y) AS s1, SUM(y * y) AS s2
      FROM daily GROUP BY event_type
    ),
    scored AS (
      SELECT d.event_type, d.day, d.y,
             CASE WHEN (s.n * d.y - s.s1) * (s.n * d.y - s.s1)
                       > 9 * (s.n * s.s2 - s.s1 * s.s1)
                  THEN 1 ELSE 0 END AS is_anom,
             CASE WHEN s.n * s.s2 - s.s1 * s.s1 > 0
                  THEN CAST({_z2_ppm_duck('(s.n * d.y - s.s1) * (s.n * d.y - s.s1)',
                                          's.n * s.s2 - s.s1 * s.s1')} AS BIGINT)
                  ELSE 0 END AS z2_ppm
      FROM daily d JOIN st s USING (event_type)
    ),
    worst AS (
      SELECT event_type, day AS worst_day, CAST(y AS BIGINT) AS worst_day_events,
             z2_ppm AS worst_z2_ppm,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY z2_ppm DESC, day ASC) AS rk
      FROM scored
    )
    SELECT s.event_type,
           COUNT(*) AS n_days,
           CAST(SUM(s.is_anom) AS BIGINT) AS n_anomalous_days,
           MAX(w.worst_day) AS worst_day,
           MAX(w.worst_day_events) AS worst_day_events,
           MAX(w.worst_z2_ppm) AS worst_z2_ppm
    FROM scored s JOIN worst w ON w.event_type = s.event_type AND w.rk = 1
    GROUP BY s.event_type
    ORDER BY s.event_type
""")



QUERIES = [
    QuerySpec("ev_funnel_conversion", ev_funnel_conversion, EV_FUNNEL_SQL,
              "ordered signup→view→purchase funnel, first-touch attribution",
              ("analytics", "events"), bench=True),
    QuerySpec("ev_retention_cohorts", ev_retention_cohorts, EV_RETENTION_SQL,
              "first-seen cohorts x day-offset retention counts (0..7)",
              ("analytics", "events")),
    QuerySpec("ev_anomaly_days", ev_anomaly_days, EV_ANOMALY_DAYS_SQL,
              "per-type anomalous traffic days (exact integer z-test on daily counts)",
              ("analytics", "events", "quality")),
    QuerySpec("ev_daily_trend", ev_daily_trend, EV_DAILY_TREND_SQL,
              "per-type OLS slope of daily volume (exact integer sums, one final division)",
              ("analytics", "events", "regression")),
    QuerySpec("ev_value_outliers", ev_value_outliers, EV_VALUE_OUTLIERS_SQL,
              "per-(type, day) 3-sigma outlier counts + max z² (exact integer z-test)",
              ("analytics", "events", "quality")),
    QuerySpec("ev_cep_match", ev_cep_match, EV_CEP_MATCH_SQL,
              "CEP pattern: signup → first purchase ≤1h, no error between "
              "(negation + within, Flink-CEP shape)",
              ("analytics", "events", "cep")),
    QuerySpec("join_bloom_prune", join_bloom_prune, JOIN_BLOOM_PRUNE_SQL,
              "Bloom-filter-pruned selective fact/dim semi-join (exact "
              "result; the sketch prunes the fact shuffle)",
              ("join", "sketch", "semijoin", "tpch")),
    QuerySpec("ev_type_transitions", ev_type_transitions,
              EV_TYPE_TRANSITIONS_SQL,
              "first-order Markov transition matrix over user event journeys",
              ("analytics", "events")),
]
