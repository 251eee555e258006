"""Exercise conf/spark-defaults-100tb.conf AS CODE (round 6).

The 100 TB conf was prose + one pinned bloom-filter test; this script
sets the conf's actual knobs on the get_spark session and proves, executably,
that the cluster configuration does not break or silently re-plan the
engine:

1. **Correctness under the cluster conf**: a representative gate subset
   (join-heavy TPC-H, window, sketch, LLM-pipeline and embedding
   queries) runs hash-exact against the DuckDB oracle at sf0.1 with
   8192 shuffle partitions + AQE skew-join + runtime bloom filters +
   RocksDB state store on.
2. **Plan audit**: the physical join mix of EVERY registry query is
   compared between the default test session and the 100 TB session at
   the same SF. Flips are reported; the hard assertion is that the
   cluster conf introduces NO CartesianProduct and NO
   BroadcastNestedLoopJoin anywhere (a broadcast→shuffle flip from the
   different thresholds is legitimate and listed, a nested loop is
   never).

Every key a running session takes (the SQL knobs) is set with
``spark.conf.set``. The core Spark keys it rejects are left to the
launcher and listed: ``spark.checkpoint.dir`` (hdfs://; the local
master cuts lineage with local checkpoints anyway) and
``spark.dynamicAllocation.*`` / ``spark.speculation*`` (need a cluster
manager / external shuffle; no plan impact — they schedule tasks, not
queries).

Usage:
    python scripts/conf_100tb_check.py [sf_dir] [cpus]
Prints one JSON line; exit 0 iff the subset is hash-exact and no
forbidden operator appeared.
"""

from __future__ import annotations

import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

CONF_PATH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "conf",
    "spark-defaults-100tb.conf",
)

SUBSET = [
    # join-heavy TPC-H (broadcast + SMJ + semi-join shapes)
    "q2_min_cost_supplier", "q9_product_profit", "q18_large_volume_customers",
    "q21_suppliers_waiting",
    # windows / rollup
    "win_top_orders_per_cust", "agg_rollup_region_nation",
    # streaming-as-batch + sketches
    "ev_sessionize", "ev_sliding_peak", "ev_hll_user_days",
    # LLM pipeline: dedup, retrieval (incl. WAND), ANN, decontamination
    "doc_dedup_corpus", "doc_lsh_near_dups", "doc_bm25_topk", "doc_bm25_wand",
    "doc_contamination", "emb_cosine_topk", "emb_ivf_kmeans_topk",
    "emb_near_dup_pairs",
    # r14: source-pair overlap (self-equi-join + broadcast sizes)
    "doc_source_overlap",
]

JOIN_OPS = (
    "BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin",
    "BroadcastNestedLoopJoin", "CartesianProduct",
)


def parse_conf(path: str) -> dict[str, str]:
    out: dict[str, str] = {}
    for line in open(path):
        line = line.strip()
        if not line or line.startswith("#"):
            continue
        key, val = line.split(None, 1)
        out[key] = val.strip()
    return out


def apply_conf(spark, conf: dict[str, str]) -> list[str]:
    """Set every key of ``conf`` that a running session takes; return
    the keys only a launcher can set."""
    from pyspark.errors import AnalysisException

    left = []
    for k, v in conf.items():
        try:
            spark.conf.set(k, v)
        except AnalysisException:  # CANNOT_MODIFY_CONFIG: a core Spark key
            left.append(k)
    return sorted(left)


def join_mix(plan: str) -> dict[str, int]:
    return {op: n for op in JOIN_OPS if (n := len(re.findall(op, plan)))}


def collect_plans(spark, sf_dir: str) -> dict[str, dict[str, int]]:
    from flink_tank_spark.plans import shared
    from flink_tank_spark.plans.registry import all_queries

    shared.DISABLE = True  # full plans, no InMemoryTableScan prefixes
    try:
        out = {}
        for name, spec in all_queries().items():
            df = spec.spark(spark, sf_dir)
            out[name] = join_mix(df._jdf.queryExecution().executedPlan().toString())
        return out
    finally:
        shared.DISABLE = False


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    cpus = int(sys.argv[2]) if len(sys.argv) > 2 else 16

    import duckdb

    from flink_tank_spark.session import get_spark
    from scripts.verify_gate import TABLES, _hash

    # ---- phase 1: default-session plans (baseline join mix) ----------
    spark = get_spark("conf-100tb-check", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    base_mix = collect_plans(spark, sf_dir)

    # ---- phase 2: 100 TB conf — plans + oracle subset ----------------
    conf = parse_conf(CONF_PATH)
    left = apply_conf(spark, conf)
    tb_mix = collect_plans(spark, sf_dir)

    flips = {
        n: {"default": base_mix[n], "conf100tb": tb_mix[n]}
        for n in base_mix
        if base_mix[n] != tb_mix[n]
    }
    forbidden = [
        n for n, mix in tb_mix.items()
        if mix.get("CartesianProduct") or mix.get("BroadcastNestedLoopJoin")
    ]
    # the only sanctioned nested-loop shapes are the 1-row stats
    # broadcasts (retrieval/tpch lazy scalars) — those plan as
    # BroadcastNestedLoopJoin over a single-row side; verify they exist
    # in the BASELINE too (conf did not introduce them)
    introduced = [
        n for n in forbidden
        if (tb_mix[n].get("BroadcastNestedLoopJoin", 0)
            > base_mix.get(n, {}).get("BroadcastNestedLoopJoin", 0))
        or (tb_mix[n].get("CartesianProduct", 0)
            > base_mix.get(n, {}).get("CartesianProduct", 0))
    ]

    from flink_tank_spark.plans.registry import all_queries

    registry = all_queries()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    mismatches = []
    for name in SUBSET:
        spec = registry[name]
        sp = spec.spark(spark, sf_dir).toPandas()
        od = con.execute(spec.oracle).fetchdf()
        if not (_hash(sp) == _hash(od) and len(sp) == len(od)):
            mismatches.append(name)

    print(json.dumps({
        "metric": "conf_100tb_check",
        "sf": sf_dir.rstrip("/").rsplit("sf", 1)[-1],
        "conf_keys_applied": len(conf) - len(left),
        "conf_keys_left_to_launcher": left,
        "subset_queries": len(SUBSET),
        "subset_mismatches": mismatches,
        "join_mix_flips": flips,
        "forbidden_joins_introduced": introduced,
        "ok": not mismatches and not introduced,
    }))
    return 0 if (not mismatches and not introduced) else 1


if __name__ == "__main__":
    raise SystemExit(main())
