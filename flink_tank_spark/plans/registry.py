"""Central query registry.

Every analytic capability the engine claims is registered here as a
:class:`QuerySpec` — a named pair of (Spark plan builder, DuckDB oracle
SQL). The driver's correctness harness consumes this through
``__spark_entry__.queries()`` / ``oracle_sql()``; ``bench.py`` and the
pytest parity suite consume it directly.

Contract (see repo root README):
- ``spark(spark_session, sf_dir)`` returns a DataFrame.
- ``oracle`` is ANSI-ish SQL DuckDB can run against the same parquet
  views, producing identical column NAMES and (canonicalized) values.
  ``None`` ⇒ not SQL-expressible; the driver records a rows-only check.
- Every computed column is aliased identically on both sides; doubles
  produced by aggregation go through exact decimal (functions/numeric.py)
  so values are bit-identical under any partitioning.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field, replace

from pyspark.sql import DataFrame, SparkSession

SparkFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    spark: SparkFn
    oracle: str | None
    description: str = ""
    tags: tuple[str, ...] = field(default_factory=tuple)
    bench: bool = False  # include in bench.py headline set


# The driver harness runs the registry in insertion order under a
# cumulative time budget and truncates at the tail (~50 rows/round), so
# queries whose newest driver-certified CORRECTNESS row is the STALEST
# run FIRST (order is otherwise meaningless to the gate). Round-15
# rotation (computed from the union of all CORRECTNESS_r*.json after
# round 14: 50 certed r14, 50 r13, 43 r12, 9 r11, none older): the 9
# remaining round-11 certs lead, then the full round-12 block — 52
# queries; the driver budget (~50) certifies the head and the short
# r12 tail rolls to next round, leaving nothing older than r12
# certified anywhere.
FRONT_OF_LINE = (
    # newest driver cert is round 11 (the stalest anywhere after r14)
    "q18_large_volume_customers",
    "q1_pricing_summary",
    "q20_excess_shipments",
    "q21_suppliers_waiting",
    "q22_sales_opportunity",
    "q2_min_cost_supplier",
    "win_moving_avg",
    "win_order_gaps",
    "win_price_position",
    # newest driver cert is round 12
    "agg_cube_status_priority",
    "agg_rollup_region_nation",
    "dim_scd2_asof_join",
    "dim_scd2_customer",
    "doc_bigram_fluency",
    "doc_bpe_merges",
    "doc_bpe_tokens",
    "doc_clean_boilerplate",
    "doc_dedup_stats",
    "doc_dsir_topk",
    "doc_fingerprint",
    "doc_fuzzy_near_dups",
    "doc_idf_rarity",
    "doc_mix_reweight",
    "doc_pii_scrub",
    "doc_pmi_pairs",
    "doc_profile_text",
    "doc_span_dedup",
    "doc_split_ks",
    "doc_zipf_ranks",
    "emb_pq_topk",
    "emb_split_drift",
    "emb_two_stage_topk",
    "ev_cms_merge_days",
    "ev_daily_trend",
    "ev_hourly_top_users",
    "ev_kmv_overlap_types",
    "ev_session_stats",
    "ev_trimmed_mean",
    "ev_type_transitions",
    "ev_value_deciles",
    "ev_value_mad",
    "join_bloom_prune",
    "mm_audio_decimate",
    "part_skyline",
    "q3_shipping_priority",
    "q4_order_priority",
    "q5_local_supplier_volume",
    "q6_forecast_revenue",
    "q7_volume_shipping",
    "tbl_corr_lineitem",
    "win_running_total",
    "win_top_orders_per_cust",
)


def all_queries() -> dict[str, QuerySpec]:
    """Assemble the full registry (imported lazily to keep startup light)."""
    from flink_tank_spark.plans import (
        analytics,
        bpe,
        graph,
        hamming,
        llm,
        layout,
        profile,
        sampling,
        scd,
        sketches,
        srp,
        streaming_batch,
        vocab,
        tpch,
        windows,
    )

    registry: dict[str, QuerySpec] = {}
    for module in (
        tpch, windows, streaming_batch, sketches, analytics, llm, graph, bpe,
        srp, scd, layout, profile, hamming, sampling, vocab,
    ):
        for spec in module.QUERIES:
            if spec.name in registry:
                raise ValueError(f"duplicate query name {spec.name!r}")
            registry[spec.name] = _prepared(spec)
    unknown = [n for n in FRONT_OF_LINE if n not in registry]
    if unknown:
        raise ValueError(f"FRONT_OF_LINE names not in registry: {unknown}")
    ordered = {n: registry.pop(n) for n in FRONT_OF_LINE}
    ordered.update(registry)
    return ordered


def _prepared(spec: QuerySpec) -> QuerySpec:
    """Prepared-query plan cache (r15, guide §5), the only caller of
    plans/shared.plan: re-invoking a registry query re-ran its full
    Python-side DataFrame construction — measured at 0.4–1.6 s of py4j
    round-trips per rep on the heavy plans (the WAND DAG: 2,122 gateway
    calls) — to produce an identical plan. The entry point memoizes the
    analyzed plan per (application, query, sf_dir), with the contract of
    :func:`shared.plan`: a query whose plan holds a stored result (a
    lineage cut, re-parallelized driver rows) is rebuilt on every call;
    any other is built once, and every action on the returned frame
    still re-executes it — only the construction is skipped, as a
    prepared statement does in a SQL engine. Direct calls to the
    underlying plan functions (tests, scripts) are untouched, and
    shared.DISABLE bypasses the cache for plan audits."""
    from flink_tank_spark.plans import shared

    fn = spec.spark

    def run(spark, sf_dir: str):
        return shared.plan(spark, "q:" + spec.name, (sf_dir,), lambda: fn(spark, sf_dir))

    return replace(spec, spark=run)
