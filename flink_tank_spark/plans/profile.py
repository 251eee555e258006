"""Column profiling — the engine's data-quality / statistics surface.

Per-column row count, null count, exact distinct count, and min/max in
one declarative pass, the operation behind ``ANALYZE``-style stats
collection, ingest-time data-quality gates, and optimizer cardinality
feeds. Profiled values are cast to DOUBLE so every column shares one
output schema (exact for the key/linenumber magnitudes involved:
doubles hold integers up to 2^53); min/max are data values copied, not
arithmetic, so they hash bit-identically against the oracle.

Scale shape: ``stack`` melts each row into (col_name, value) pairs
BEFORE the aggregate, so the wide-table scan happens ONCE no matter how
many columns are profiled (vs one scan per column in the naive UNION
plan the oracle mirrors — DuckDB gets the readable form, Spark gets the
single-pass form, values identical). count/min/max collapse map-side;
the exact distinct rewrites to a two-phase aggregate keyed by
(col_name, value), which is hash-distributed across the cluster, so the
8-group final aggregate only ever sees pre-aggregated rows — no 8-key
reducer hotspot. At 100 TB this is the textbook profile plan: one scan,
partial aggs, one distinct-keyed shuffle.
"""

from __future__ import annotations

from textwrap import dedent

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from flink_tank_spark.io.tables import load_table
from flink_tank_spark.plans.registry import QuerySpec

PROFILE_COLS = (
    "l_orderkey",
    "l_partkey",
    "l_suppkey",
    "l_linenumber",
    "l_quantity",
    "l_extendedprice",
    "l_discount",
    "l_tax",
)


def melt_numeric(df: DataFrame, cols: tuple[str, ...]) -> DataFrame:
    """The shared melt stage: one row per (col_name, value-as-double)
    pair — the form the one-pass batch profile aggregates over."""
    stack = "stack({}, {}) as (col_name, val)".format(
        len(cols),
        ", ".join(f"'{c}', CAST({c} AS DOUBLE)" for c in cols),
    )
    return df.selectExpr(stack)


def profile_numeric(df: DataFrame, cols: tuple[str, ...]) -> DataFrame:
    """Single-pass numeric profile of ``cols``: one melted scan, one
    distinct-keyed aggregate. Output: (col_name, n_rows, n_null,
    n_distinct, min_val, max_val) per profiled column."""
    return (
        melt_numeric(df, cols)
        .groupBy("col_name")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            (F.count(F.lit(1)) - F.count("val")).alias("n_null"),
            F.countDistinct("val").alias("n_distinct"),
            F.min("val").alias("min_val"),
            F.max("val").alias("max_val"),
        )
        .orderBy("col_name")
    )


def tbl_profile_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    return profile_numeric(load_table(spark, sf_dir, "lineitem"), PROFILE_COLS)


TEXT_COLS = ("lang", "source", "text")


def profile_text(df: DataFrame, cols: tuple[str, ...]) -> DataFrame:
    """String-column profile: the same one-melted-scan shape as
    :func:`profile_numeric` with length statistics in place of value
    extrema — the ingest-gate stats for a text corpus (is a field
    suddenly empty/huge/low-cardinality?). Lengths are counted in code
    points, which Spark and DuckDB agree on (and are cast to BIGINT on
    both sides — DuckDB's SUM(BIGINT) would otherwise widen to HUGEINT,
    the round-7 dtype-mismatch lesson)."""
    stack = "stack({}, {}) as (col_name, val)".format(
        len(cols), ", ".join(f"'{c}', {c}" for c in cols)
    )
    length = F.length("val").cast("long")
    return (
        df.selectExpr(stack)
        .groupBy("col_name")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            (F.count(F.lit(1)) - F.count("val")).alias("n_null"),
            F.countDistinct("val").alias("n_distinct"),
            F.min(length).alias("min_len"),
            F.max(length).alias("max_len"),
            F.sum(length).alias("len_chars"),
        )
        .orderBy("col_name")
    )


def doc_profile_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    return profile_text(load_table(spark, sf_dir, "documents"), TEXT_COLS)


DOC_PROFILE_TEXT_SQL = dedent(
    """
    WITH m AS (
      {}
    )
    SELECT col_name,
           COUNT(*) AS n_rows,
           COUNT(*) - COUNT(val) AS n_null,
           COUNT(DISTINCT val) AS n_distinct,
           CAST(MIN(LENGTH(val)) AS BIGINT) AS min_len,
           CAST(MAX(LENGTH(val)) AS BIGINT) AS max_len,
           CAST(SUM(LENGTH(val)) AS BIGINT) AS len_chars
    FROM m GROUP BY col_name ORDER BY col_name
"""
).format(
    "\n      UNION ALL\n      ".join(
        f"SELECT '{c}' AS col_name, {c} AS val FROM documents"
        for c in TEXT_COLS
    )
)


_MELT_LINEITEM_SQL = "\n      UNION ALL\n      ".join(
    f"SELECT '{c}' AS col_name, CAST({c} AS DOUBLE) AS val FROM lineitem"
    for c in PROFILE_COLS
)

TBL_PROFILE_LINEITEM_SQL = dedent(
    """
    WITH m AS (
      {}
    )
    SELECT col_name,
           COUNT(*) AS n_rows,
           COUNT(*) - COUNT(val) AS n_null,
           COUNT(DISTINCT val) AS n_distinct,
           MIN(val) AS min_val,
           MAX(val) AS max_val
    FROM m GROUP BY col_name ORDER BY col_name
"""
).format(_MELT_LINEITEM_SQL)


MCV_K = 5


def mcv_numeric(
    df: DataFrame, cols: tuple[str, ...], k: int = MCV_K, salts: int = 32
) -> DataFrame:
    """Most-common values per column — the MCV half of ANALYZE-style
    statistics (the profiler's min/max tells the optimizer the range;
    the MCV list tells it the skew). Total order (cnt DESC, val ASC)
    makes the top-k deterministic under ties.

    Scale shape: the global (col_name, val) counts are map-side
    combinable, but a DIRECT per-column top-k window would funnel every
    distinct value of a column through one task (billions of rows per
    partition at 100 TB for a key-like column — the low-cardinality-
    window trap in the repo's scale notes). Two-phase instead: a salted
    window takes top-k within (col_name, hash(val)%salts) — bounded
    partitions — which provably contains the global top-k (every global
    top-k member is top-k within its own salt); the final window then
    ranks ≤ k·salts survivors per column, a constant-size task."""
    from flink_tank_spark.operators.rank import salted_topk

    counts = (
        melt_numeric(df, cols)
        .filter(F.col("val").isNotNull())
        .groupBy("col_name", "val")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    order = [F.col("cnt").desc(), F.col("val").asc()]
    return salted_topk(
        counts, ["col_name"], order, "val", k, salts=salts
    ).orderBy("col_name", "rank")


def tbl_mcv_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    return mcv_numeric(load_table(spark, sf_dir, "lineitem"), PROFILE_COLS)


TBL_MCV_LINEITEM_SQL = dedent(
    f"""
    WITH m AS (
      {_MELT_LINEITEM_SQL}
    ),
    c AS (
      SELECT col_name, val, COUNT(*) AS cnt
      FROM m WHERE val IS NOT NULL GROUP BY col_name, val
    )
    SELECT col_name, val, cnt, rank FROM (
      SELECT col_name, val, cnt,
             CAST(ROW_NUMBER() OVER (PARTITION BY col_name
                                     ORDER BY cnt DESC, val ASC) AS INTEGER)
               AS rank
      FROM c)
    WHERE rank <= {MCV_K}
    ORDER BY col_name, rank
"""
)


# --------------------------------------------------------------------------
# tbl_fk_audit — referential-integrity audit across the star schema
# --------------------------------------------------------------------------

FK_SPECS = (
    # (fk_name, child_table, child_col, parent_table, parent_col)
    ("orders.o_custkey->customer", "orders", "o_custkey", "customer", "c_custkey"),
    ("lineitem.l_orderkey->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("lineitem.l_partkey->part", "lineitem", "l_partkey", "part", "p_partkey"),
    ("customer.c_nationkey->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier.s_nationkey->nation", "supplier", "s_nationkey", "nation", "n_nationkey"),
)


def tbl_fk_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit over every foreign key in the star
    schema: child rows, nulls, distinct referenced keys, and ORPHANS
    (child keys with no parent row) — the constraint check a lakehouse
    runs at ingest because parquet enforces nothing. Zero orphans is
    the pass state; non-zero pinpoints the broken edge.

    Scale shape: per FK, the child side first collapses to its DISTINCT
    key table with counts (map-side combinable; bounded by parent
    cardinality, not child row count), then ONE anti-join against the
    parent key column decides orphanhood — never a row-level child scan
    through the join. The per-FK results union into one audit table.
    """
    out = None
    for fk_name, child, ccol, parent, pcol in FK_SPECS:
        c = load_table(spark, sf_dir, child)
        pkeys = load_table(spark, sf_dir, parent).select(
            F.col(pcol).alias("_pk")
        ).distinct()
        keyed = (
            c.select(F.col(ccol).cast("long").alias("_fk"))
            .filter(F.col("_fk").isNotNull())
            .groupBy("_fk")
            .agg(F.count(F.lit(1)).alias("_n"))
        )
        orphans = keyed.join(
            pkeys, keyed["_fk"] == pkeys["_pk"], "left_anti"
        )
        # lazy 1-row scalars (the q11/q22 lesson: never .count() at
        # plan-build time — the audit stays one composable plan)
        child_stats = c.agg(
            F.count(F.lit(1)).alias("n_child_rows"),
            F.sum(F.col(ccol).isNull().cast("long")).alias("n_null_fk"),
        )
        row = (
            keyed.agg(
                F.count(F.lit(1)).alias("n_distinct_fk"),
            )
            .crossJoin(
                F.broadcast(
                    orphans.agg(
                        F.count(F.lit(1)).alias("n_orphan_keys"),
                        F.coalesce(F.sum("_n"), F.lit(0)).alias("n_orphan_rows"),
                    )
                )
            )
            .crossJoin(F.broadcast(child_stats))
            .select(
                F.lit(fk_name).alias("fk"),
                F.col("n_child_rows").cast("long"),
                F.coalesce(F.col("n_null_fk"), F.lit(0)).cast("long").alias("n_null_fk"),
                F.col("n_distinct_fk").cast("long"),
                F.col("n_orphan_keys").cast("long"),
                F.col("n_orphan_rows").cast("long"),
            )
        )
        out = row if out is None else out.unionAll(row)
    return out.orderBy("fk")


_FK_AUDIT_BLOCKS = "\n    UNION ALL\n    ".join(
    f"""SELECT '{fk_name}' AS fk,
           (SELECT COUNT(*) FROM {child}) AS n_child_rows,
           (SELECT COUNT(*) FROM {child} WHERE {ccol} IS NULL) AS n_null_fk,
           (SELECT COUNT(DISTINCT {ccol}) FROM {child}
            WHERE {ccol} IS NOT NULL) AS n_distinct_fk,
           (SELECT COUNT(*) FROM
              (SELECT DISTINCT {ccol} AS k FROM {child} WHERE {ccol} IS NOT NULL) c
            WHERE NOT EXISTS (SELECT 1 FROM {parent} p WHERE p.{pcol} = c.k))
             AS n_orphan_keys,
           (SELECT COUNT(*) FROM {child} c
            WHERE {ccol} IS NOT NULL AND NOT EXISTS
              (SELECT 1 FROM {parent} p WHERE p.{pcol} = c.{ccol}))
             AS n_orphan_rows"""
    for fk_name, child, ccol, parent, pcol in FK_SPECS
)

TBL_FK_AUDIT_SQL = f"""
    {_FK_AUDIT_BLOCKS}
    ORDER BY fk
"""



# --------------------------------------------------------------------------
# tbl_corr_lineitem — pairwise Pearson correlation of the measure columns
# --------------------------------------------------------------------------

CORR_COLS = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")


def tbl_corr_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation between the lineitem MEASURE
    columns — the dependency half of ANALYZE-style statistics (the
    optimizer's independence assumption is exactly what this falsifies)
    and the feature-redundancy screen a training pipeline runs.

    Measures only, deliberately: key-like columns track the corpus size
    itself, so their "correlation" is meaningless AND their scaled
    cross-products outgrow any fixed precision at lake scale; the
    measure domains are scale-free. Exactness: all sums are scaled
    integers (values have ≤ 2 decimals → ×100 is lossless), r's
    numerator and both variance terms are exact, and the final
    divide/sqrt runs on identical operands in both engines. Scale
    shape: ONE corpus aggregate computes every Σx, Σx², Σxy (map-side
    combinable, 15 expressions); the 6 output rows explode from that
    single 1-row frame — the aggregate is never re-derived per pair.
    Envelope: n·Σxy stays inside DECIMAL(38,0) to ~1e11 rows at this
    domain; beyond that, re-center the measures first."""
    li = load_table(spark, sf_dir, "lineitem")
    sc = {
        c: F.floor(F.col(c) * F.lit(100.0) + F.lit(0.5)).cast("decimal(25,0)")
        for c in CORR_COLS
    }
    aggs = [F.count(F.lit(1)).cast("decimal(15,0)").alias("n")]
    for c in CORR_COLS:
        aggs.append(F.sum(sc[c]).alias(f"s_{c}"))
        aggs.append(F.sum(sc[c] * sc[c]).alias(f"q_{c}"))
    pairs = [
        (a, b) for i, a in enumerate(CORR_COLS) for b in CORR_COLS[i + 1:]
    ]
    for a, b in pairs:
        aggs.append(F.sum(sc[a] * sc[b]).alias(f"p_{a}_{b}"))
    one = li.agg(*aggs)
    structs = F.array(*[
        F.struct(
            F.lit(a).alias("col_a"),
            F.lit(b).alias("col_b"),
            F.col(f"p_{a}_{b}").alias("sxy"),
            F.col(f"s_{a}").alias("sa"),
            F.col(f"s_{b}").alias("sb"),
            F.col(f"q_{a}").alias("qa"),
            F.col(f"q_{b}").alias("qb"),
        )
        for a, b in pairs
    ])
    e = one.select("n", F.explode(structs).alias("p")).select("n", "p.*")
    num = F.col("n") * F.col("sxy") - F.col("sa") * F.col("sb")
    da = F.col("n") * F.col("qa") - F.col("sa") * F.col("sa")
    db = F.col("n") * F.col("qb") - F.col("sb") * F.col("sb")
    return (
        e.select(
            "col_a",
            "col_b",
            F.col("n").cast("long").alias("n_rows"),
            F.when(
                (da > 0) & (db > 0),
                num.cast("double")
                / (F.sqrt(da.cast("double")) * F.sqrt(db.cast("double"))),
            )
            .otherwise(F.lit(0.0))
            .alias("corr"),
        )
        .orderBy("col_a", "col_b")
    )


def _corr_sql() -> str:
    cols = CORR_COLS
    scs = {c: f"CAST(FLOOR({c} * 100.0 + 0.5) AS HUGEINT)" for c in cols}
    aggs = ["CAST(COUNT(*) AS HUGEINT) AS n"]
    for c in cols:
        aggs.append(f"SUM({scs[c]}) AS s_{c}")
        aggs.append(f"SUM({scs[c]} * {scs[c]}) AS q_{c}")
    pairs = [(a, b) for i, a in enumerate(cols) for b in cols[i + 1:]]
    for a, b in pairs:
        aggs.append(f"SUM({scs[a]} * {scs[b]}) AS p_{a}_{b}")
    sel = ",\n             ".join(aggs)
    rows = "\n    UNION ALL\n    ".join(
        f"""SELECT '{a}' AS col_a, '{b}' AS col_b,
           CAST(n AS BIGINT) AS n_rows,
           CASE WHEN n * q_{a} - s_{a} * s_{a} > 0
                 AND n * q_{b} - s_{b} * s_{b} > 0
                THEN CAST(n * p_{a}_{b} - s_{a} * s_{b} AS DOUBLE)
                     / (sqrt(CAST(n * q_{a} - s_{a} * s_{a} AS DOUBLE))
                        * sqrt(CAST(n * q_{b} - s_{b} * s_{b} AS DOUBLE)))
                ELSE 0.0 END AS corr
    FROM agg"""
        for a, b in pairs
    )
    return (
        "\n    WITH agg AS MATERIALIZED (\n      SELECT "
        + sel
        + "\n      FROM lineitem\n    )\n    "
        + rows
        + "\n    ORDER BY col_a, col_b\n"
    )


TBL_CORR_LINEITEM_SQL = _corr_sql()



# --------------------------------------------------------------------------
# emb_profile_dims — per-dimension embedding-column profile (vector QA)
# --------------------------------------------------------------------------

def emb_profile_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ANALYZE surface for a vector column: per-dimension
    rows / zero-count / min / max / mean over the embeddings table —
    the QA pass that catches dead dimensions (all-zero), clipped or
    exploding ranges, and train/serve scale drift before they poison
    an ANN index.

    Exactness: components are floor-scaled to micro-unit BIGINTs (the
    numeric.py recipe) so min/max/sum are pure integer aggregates and
    the mean is ONE floor division — reported in micro-units, no float
    merges anywhere. Scale shape: one posexplode (×dims, bounded
    fanout), groupBy on the 64-value dim key — map-side combinable,
    output bounded by dims, never by corpus."""
    emb = load_table(spark, sf_dir, "embeddings")
    comp = emb.select(
        F.posexplode("embedding").alias("dim", "x")
    ).select(
        "dim",
        F.floor(F.col("x").cast("double") * 1000000.0 + F.lit(0.5))
        .cast("long")
        .alias("u"),
    )
    return (
        comp.groupBy("dim")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum((F.col("u") == 0).cast("long")).alias("n_zero"),
            F.min("u").alias("min_u"),
            F.max("u").alias("max_u"),
            F.expr("sum(u) div count(1)").alias("mean_u"),
        )
        .orderBy("dim")
    )


EMB_PROFILE_DIMS_SQL = dedent("""
    WITH comp AS (
      SELECT CAST(i AS INTEGER) AS dim,
             CAST(FLOOR(CAST(x AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) AS u
      FROM (SELECT unnest(embedding) AS x,
                   unnest(range(0, len(embedding))) AS i
            FROM embeddings)
    )
    SELECT dim,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN u = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
           CAST(MIN(u) AS BIGINT) AS min_u,
           CAST(MAX(u) AS BIGINT) AS max_u,
           CAST(SUM(u) // COUNT(*) AS BIGINT) AS mean_u
    FROM comp
    GROUP BY dim
    ORDER BY dim
""")


QUERIES = [
    QuerySpec(
        "emb_profile_dims",
        emb_profile_dims,
        EMB_PROFILE_DIMS_SQL,
        "per-dimension embedding profile: zeros/min/max/mean in exact "
        "micro-units (dead-dimension and scale-drift QA)",
        ("profiling", "data-quality", "similarity"),
    ),
    QuerySpec(
        "tbl_profile_lineitem",
        tbl_profile_lineitem,
        TBL_PROFILE_LINEITEM_SQL,
        "Single-pass column profile: rows/nulls/exact-distinct/min/max per column",
        ("profiling", "data-quality", "stats"),
        bench=True,
    ),
    QuerySpec(
        "doc_profile_text",
        doc_profile_text,
        DOC_PROFILE_TEXT_SQL,
        "String-column profile: rows/nulls/exact-distinct/length stats per column",
        ("profiling", "data-quality", "text"),
    ),
    QuerySpec(
        "tbl_fk_audit",
        tbl_fk_audit,
        TBL_FK_AUDIT_SQL,
        "referential-integrity audit: per-FK child/null/distinct/orphan counts",
        ("profiling", "data-quality", "stats"),
    ),
    QuerySpec(
        "tbl_corr_lineitem",
        tbl_corr_lineitem,
        TBL_CORR_LINEITEM_SQL,
        "pairwise Pearson correlation of measure columns (exact sums, one scan)",
        ("profiling", "data-quality", "stats"),
    ),
    QuerySpec(
        "tbl_mcv_lineitem",
        tbl_mcv_lineitem,
        TBL_MCV_LINEITEM_SQL,
        "Most-common values per column via two-phase salted top-k",
        ("profiling", "data-quality", "stats"),
    ),
]
