"""The ``registry_fresh`` workload: registry queries on a fresh plan.

Each rep of each query calls ``plans.shared.clear`` first, then times
``QuerySpec.spark`` (plan construction through py4j) as ``build_s`` and
``.collect()`` as ``exec_s``: a first run in a warm JVM with no
prepared plan and no shared stage left from an earlier rep. Reps run in
rounds over the query set; the seed shuffles the order of every round.

An untimed first round pays code generation and first-use costs; its
results are checked against each query's DuckDB oracle under the gate's
canonical hash, after timing.

Traced runs add the per-operator breakdown of each query's untimed
first run (the executed adaptive plan, walked through its query stages), the
scheduler's job/stage/task counts per rep, and ``registry.session_s``:
the same queries through the prepared-plan path, each run once to warm
and then timed.
"""

from __future__ import annotations

import os
import random
import statistics
import sys
import time
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
DATA = os.path.join(HERE, "data", "sf0.01")
sys.path.insert(0, os.path.join(os.path.dirname(HERE), "scripts"))

from verify_gate import _hash  # the oracle gate's canonical result hash  # noqa: E402

# A fixed subset of the bench=True queries, chosen so that three rounds
# fit in one run: a scan + aggregate, a three-way join, event analytics
# with lineage cuts (localCheckpoint), and an Arrow/pandas crossing.
QUERIES = (
    "q1_pricing_summary",
    "q3_shipping_priority",
    "ev_funnel_conversion",
    "mm_wav_roundtrip",
)
MIN_ROUNDS = 2

# Physical operator buckets of the traced breakdown; everything else
# lands in "Other".
OP_BUCKETS = (
    "Scan", "HashAggregate", "Exchange", "Sort", "SortMergeJoin",
    "BroadcastHashJoin", "WholeStageCodegen", "Python", "Other",
)
_PYTHON_NODES = ("ArrowEvalPython", "BatchEvalPython", "FlatMapGroupsInPandas",
                 "MapInPandas", "MapInArrow", "FlatMapGroupsInArrow",
                 "FlatMapCoGroupsInPandas", "AggregateInPandas", "WindowInPandas",
                 "ArrowWindowPython", "ArrowAggregatePython", "PythonMapInArrow")


def _scala_iter(seq):
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


def _bucket(node_name: str) -> str:
    name = node_name.split(" (")[0]
    if name.startswith("Scan"):
        return "Scan"
    if name in _PYTHON_NODES:
        return "Python"
    return name if name in OP_BUCKETS else "Other"


def operator_metrics(df, acc: dict[str, float]) -> None:
    """Add the executed plan's SQL metrics to ``acc``, by operator bucket."""
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            stack.append(node.finalPhysicalPlan())
            continue
        if cls.endswith("QueryStageExec"):
            stack.append(node.plan())
            continue
        b = _bucket(node.nodeName())
        for kv in _scala_iter(node.metrics()):
            key, m = kv._1(), kv._2()
            v = float(m.value())
            kind = m.metricType()
            if kind == "timing":
                acc[f"op.{b}.time_ms"] += v
            elif kind == "nsTiming":
                acc[f"op.{b}.time_ms"] += v / 1e6
            elif key == "numOutputRows":
                acc[f"op.{b}.rows_out"] += v
            elif key == "spillSize":
                acc[f"op.{b}.spill_bytes"] += v
            elif b == "Exchange" and key == "dataSize":
                acc["op.Exchange.shuffle_bytes"] += v
        stack.extend(_scala_iter(node.children()))


def _oracle_hashes(specs) -> dict[str, tuple[str, int]]:
    import duckdb

    con = duckdb.connect()
    for f in sorted(os.listdir(DATA)):
        if f.endswith(".parquet"):
            con.execute(
                f"CREATE VIEW {f[:-len('.parquet')]} AS SELECT * FROM '{os.path.join(DATA, f)}'"
            )
    out = {}
    for s in specs:
        od = con.execute(s.oracle).fetchdf()
        out[s.name] = (_hash(od), len(od))
    con.close()
    return out


def run(spark, seed: int, seconds: float, tracer, trace: bool) -> dict:
    from flink_tank_spark.plans import shared
    from flink_tank_spark.plans.registry import all_queries
    from layers import scheduler_counts

    registry = all_queries()
    specs = [registry[n] for n in QUERIES]
    rng = random.Random(seed)
    sc = spark.sparkContext
    layer: dict[str, float] = defaultdict(float)
    times: dict[str, list[tuple[float, float]]] = {s.name: [] for s in specs}

    # An untimed first round: code generation and first-use costs are
    # paid here, and its results are the ones checked against the oracle.
    first: dict[str, tuple] = {}
    with tracer.span("warm_up"):
        for spec in specs:
            shared.clear(spark)
            df = spec.spark(spark, DATA)
            first[spec.name] = (df.schema, df.collect())
            if trace:
                operator_metrics(df, layer)

    start = time.perf_counter()
    rounds = 0
    while rounds < MIN_ROUNDS or time.perf_counter() - start < seconds:
        order = specs[:]
        rng.shuffle(order)
        for spec in order:
            shared.clear(spark)
            group = f"perfbench:{spec.name}:{rounds}"
            if trace:
                sc.setJobGroup(group, group)
            with tracer.span("query", query=spec.name, round=rounds):
                with tracer.span("query.build"):
                    t0 = time.perf_counter()
                    df = spec.spark(spark, DATA)
                    t1 = time.perf_counter()
                with tracer.span("query.exec"):
                    df.collect()
                    t2 = time.perf_counter()
            times[spec.name].append((t1 - t0, t2 - t1))
            if trace:
                scheduler_counts(sc, group, layer)
        rounds += 1
    if trace:
        sc.setLocalProperty("spark.jobGroup.id", None)

    with tracer.span("query.check"):
        want = _oracle_hashes(specs)
        failed = 0
        for spec in specs:
            schema, rows = first[spec.name]
            got = spark.createDataFrame(rows, schema).toPandas()
            if (_hash(got), len(got)) != want[spec.name]:
                failed += 1

    per_query = {}
    for name, ts in times.items():
        b = statistics.median(t[0] for t in ts)
        e = statistics.median(t[1] for t in ts)
        per_query[name] = statistics.median(t[0] + t[1] for t in ts)
        layer[f"q.{name}.build_s"] = b
        layer[f"q.{name}.exec_s"] = e
        layer["registry.build_s"] += b
        layer["registry.exec_s"] += e
    fresh = sum(per_query.values())
    layer["registry.fresh_s"] = fresh

    if trace:
        for spec in specs:
            shared.clear(spark)
            spec.spark(spark, DATA).collect()  # warm: prepares the plan
            with tracer.span("query.session", query=spec.name):
                t0 = time.perf_counter()
                spec.spark(spark, DATA).collect()
                layer["registry.session_s"] += time.perf_counter() - t0
        shared.clear(spark)

    samples = sorted(per_query.values())
    return {
        "ops_per_s": len(per_query) / fresh,
        "latency_p50_ms": statistics.median(samples) * 1000.0,
        "latency_p99_ms": samples[-1] * 1000.0,
        "attempted": len(specs),
        "failed": failed,
        "layer": dict(layer),
    }
