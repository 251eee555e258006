"""Partition-invariance sweep: hash every query under one Spark layout.

Determinism at cluster scale means MERGE-ORDER independence: the same
query must produce bit-identical values whether partials merge across 32
shuffle partitions or an adversarial 11, 5 cores or 32. This script runs
a query set under ONE layout and prints ``name<TAB>rows<TAB>hash`` per
query (the driver-gate canonicalization from verify_gate.py); run it
twice with different layouts and diff the outputs:

    python scripts/partition_invariance.py data/sf5 32 32 --bench > a.txt
    python scripts/partition_invariance.py data/sf5 5 11 --bench > b.txt
    diff a.txt b.txt   # empty ⇒ invariant

Two processes (not one re-configured session) because ``master`` is
fixed per JVM. ``--bench`` restricts to the bench.py headline set (the
right subset beyond sf1, where the DuckDB oracle — not the engine — is
the gate bottleneck and Spark-vs-Spark equality is the meaningful
check); default is the full registry.
"""

from __future__ import annotations

import os
import sys

_HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(_HERE))
sys.path.insert(0, _HERE)

from verify_gate import _hash  # driver-gate canonicalization  # noqa: E402


def main() -> int:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    bench_only = "--bench" in sys.argv
    # --only=a,b,c: restrict to named queries (incremental certification
    # of round-new queries at big SF without re-running the registry)
    only = None
    for a in sys.argv[1:]:
        if a.startswith("--only="):
            only = a.split("=", 1)[1].split(",")
    sf_dir = args[0] if len(args) > 0 else "/root/testdata/sf0.01"
    cpus = int(args[1]) if len(args) > 1 else 8
    shuffle = int(args[2]) if len(args) > 2 else cpus

    from flink_tank_spark.session import get_spark

    spark = get_spark("partition-invariance", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    # the exact layout under test: no AQE coalescing back toward cores
    spark.conf.set("spark.sql.shuffle.partitions", str(shuffle))
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")

    from flink_tank_spark.plans.registry import all_queries

    specs = all_queries()
    names = [n for n, s in specs.items() if s.bench] if bench_only else list(specs)
    if only:
        unknown = [n for n in only if n not in specs]
        if unknown:
            raise SystemExit(f"--only names not in registry: {unknown}")
        names = only
    for name in sorted(names):
        pdf = specs[name].spark(spark, sf_dir).toPandas()
        print(f"{name}\t{len(pdf)}\t{_hash(pdf)}", flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
