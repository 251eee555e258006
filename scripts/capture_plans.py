"""Dump .explain('formatted') for registry queries into an output dir.

    python scripts/capture_plans.py <sf_dir> <out_dir> <suffix> [query,query,...]

Writes <out_dir>/<query>_<suffix>.txt (suffix = before|after, e.g.
out_dir = plans/r15). With no query list, captures the full bench set.
Shared-stage memoization is disabled so every plan shows its complete
physical tree instead of an InMemoryTableScan over a previously
persisted prefix.

Planning only — no job is executed, so this is safe to run while other
measurements are in flight.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    if len(sys.argv) < 4:
        raise SystemExit(__doc__)
    sf_dir, out, suffix = sys.argv[1:4]
    only = (
        {s.strip() for s in sys.argv[4].split(",") if s.strip()}
        if len(sys.argv) > 4
        else None
    )
    from flink_tank_spark.plans import shared
    from flink_tank_spark.plans.registry import all_queries
    from flink_tank_spark.session import get_spark

    shared.DISABLE = True
    spark = get_spark("plan-capture")
    os.makedirs(out, exist_ok=True)
    for name, spec in sorted(all_queries().items()):
        if only is not None:
            if name not in only:
                continue
        elif not spec.bench:
            continue
        df = spec.spark(spark, sf_dir)
        txt = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(out, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(txt)
        print(f"{name}: {len(txt.splitlines())} plan lines -> {path}", flush=True)


if __name__ == "__main__":
    main()
