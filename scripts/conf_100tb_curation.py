"""Full curation-job rehearsal under the 100 TB cluster conf (round 11).

Extends scripts/conf_100tb_check.py (17-query subset) to the END-TO-END
job surface the verdict asked for: jobs/curation_job.py — exact dedup →
MinHash-LSH near-dup CC → repetition filter → quality filter →
decontamination → funnel stats — executed twice at the given SF:

1. under the DEFAULT test session (the configuration every gate runs);
2. under conf/spark-defaults-100tb.conf (8192 shuffle partitions, AQE
   skew join, runtime bloom filters, RocksDB state store), its runtime
   keys set on a fresh get_spark session as in conf_100tb_check. The
   master stays local[N], so lineage cuts stay local checkpoints:
   plans/shared.py takes the reliable path from a cluster master only,
   and the slow tests/test_cluster_checkpoint.py runs that path on
   local-cluster.

Asserts the stage funnels are IDENTICAL (the cluster conf must not
change results) and that the 100 TB plan introduces no
CartesianProduct / BroadcastNestedLoopJoin; reports wall times and the
flags-plan join mix under both confs.

Usage: python scripts/conf_100tb_curation.py [sf_dir] [cpus] [out]
Prints one JSON line.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from scripts.conf_100tb_check import (  # noqa: E402
    CONF_PATH,
    apply_conf,
    join_mix,
    parse_conf,
)


def run_job(spark, sf_dir: str) -> tuple[dict, dict, float]:
    from pyspark.sql import functions as F

    from flink_tank_spark.io.tables import load_table
    from flink_tank_spark.jobs.curation_job import curation_flags, funnel_stats

    docs = load_table(spark, sf_dir, "documents")
    eval_docs = docs.filter(F.col("doc_id") % 11 == 0).select("doc_id", "text")
    t0 = time.time()
    flags = curation_flags(docs, eval_docs=eval_docs).persist()
    try:
        funnel = funnel_stats(flags)
        wall = time.time() - t0
        mix = join_mix(
            flags._jdf.queryExecution().executedPlan().toString()
        )
    finally:
        flags.unpersist()
    return funnel, mix, wall


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("sf_dir", nargs="?", default="data/sf5")
    ap.add_argument("cpus", nargs="?", type=int, default=16)
    ap.add_argument("out", nargs="?", default="CONF100TB_CURATION_r11.json")
    args = ap.parse_args()

    # pass 1: default test session
    from flink_tank_spark.session import get_spark

    spark = get_spark("curation-default", cpus=args.cpus)
    spark.sparkContext.setLogLevel("ERROR")
    funnel_def, mix_def, wall_def = run_job(spark, args.sf_dir)
    spark.stop()

    # pass 2: the 100 TB conf on a fresh session (a new application id,
    # so no shared stage of pass 1 is reused)
    spark = get_spark("curation-100tb", cpus=args.cpus)
    spark.sparkContext.setLogLevel("ERROR")
    left = apply_conf(spark, parse_conf(CONF_PATH))
    funnel_tb, mix_tb, wall_tb = run_job(spark, args.sf_dir)
    spark.stop()

    forbidden = [
        op for op in ("CartesianProduct", "BroadcastNestedLoopJoin")
        if mix_tb.get(op)
    ]
    result = {
        "metric": "conf_100tb_curation",
        "sf_dir": args.sf_dir,
        "funnel_default": funnel_def,
        "funnel_100tb": funnel_tb,
        "funnel_identical": funnel_def == funnel_tb,
        "wall_sec_default": round(wall_def, 1),
        "wall_sec_100tb": round(wall_tb, 1),
        "join_mix_default": mix_def,
        "join_mix_100tb": mix_tb,
        "forbidden_joins_introduced": forbidden,
        "conf_keys_left_to_launcher": left,
        "ok": funnel_def == funnel_tb and not forbidden,
    }
    print(json.dumps(result))
    with open(args.out, "w") as f:
        json.dump(result, f, indent=1)
    return 0 if result["ok"] else 1


if __name__ == "__main__":
    raise SystemExit(main())
