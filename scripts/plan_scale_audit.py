"""Join-strategy scale audit: diff physical plans between two SF dirs.

The round-3 verdict's scale-stress ask includes documenting plan flips
when the data grows 10×: Catalyst picks join strategies from size
estimates (e.g. `spark.sql.autoBroadcastJoinThreshold` = 10 MB), so a
side that broadcast at sf0.1 can flip to a shuffle join at sf1 — which
is usually the CORRECT behavior, but must be (a) noticed and (b) checked
for accidental inverses (a broadcast that survives past its welcome, a
nested-loop appearing where an equi key got folded away).

For every registry query this builds the DataFrame against BOTH dirs,
counts physical join operators in `explain` output, and prints queries
whose operator mix differs. Static analysis only (no execution): AQE
runtime re-planning on top of this can only *demote* shuffle joins back
to broadcast when runtime stats allow — it never introduces a nested
loop — so the static diff is the conservative audit. Shared-stage
caching is disabled so every query shows its full plan.

Usage:
    python scripts/plan_scale_audit.py [dir_a] [dir_b] [cpus]
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

JOIN_OPS = (
    "BroadcastHashJoin",
    "SortMergeJoin",
    "ShuffledHashJoin",
    "BroadcastNestedLoopJoin",
    "CartesianProduct",
)


def join_mix(plan: str) -> dict[str, int]:
    return {op: len(re.findall(op, plan)) for op in JOIN_OPS}


def main() -> int:
    dir_a = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    dir_b = sys.argv[2] if len(sys.argv) > 2 else "data/sf1"
    cpus = int(sys.argv[3]) if len(sys.argv) > 3 else 8

    from flink_tank_spark.plans import shared
    from flink_tank_spark.plans.registry import all_queries
    from flink_tank_spark.session import get_spark

    shared.DISABLE = True  # full plans, no InMemoryTableScan over cache
    spark = get_spark("plan-scale-audit", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")

    flips = 0
    for name, spec in all_queries().items():
        mixes = []
        for d in (dir_a, dir_b):
            df = spec.spark(spark, d)
            mixes.append(join_mix(df._jdf.queryExecution().executedPlan().toString()))
        a, b = mixes
        if a != b:
            flips += 1
            diff = {
                op: (a[op], b[op]) for op in JOIN_OPS if a[op] != b[op]
            }
            print(f"{name:34s} FLIP {diff}")
    print(f"queries: {len(all_queries())}  plan flips: {flips}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
