"""Session reuse: the one module that decides how work is reused inside
a Spark application. Three named kinds, each with one lifetime:

- :func:`stage` — an index stage (shingle sets, signatures, postings,
  centroids) that several registry queries of ONE pipeline share. Built
  once per (application, name, params) and held until the params change
  or :func:`clear`; a name holds at most one entry, so cache growth is
  O(#stage names) for any session lifetime.
- :func:`plan` — a prepared plan: the registry entry point memoizes
  CONSTRUCTION only; every action re-executes.
- :func:`cut` — a lineage cut: materialize a multi-referenced subtree
  (graph loops, LSH candidate rows, funnel steps) and truncate its
  lineage so it is evaluated once.

How cuts and stages are made follows from the session master alone
(:func:`reliable_dir`):

- ``local`` / ``local[...]``: cuts are ``localCheckpoint`` and stages
  a ``MEMORY_AND_DISK`` persist — cheapest, and executor loss is moot.
- anything else (a cluster, including ``local-cluster[...]``): cuts are
  reliable ``checkpoint()`` and stages are parquet under
  ``<checkpoint dir>/stages/<applicationId>/<name>-<params hash>``, so
  executor loss cannot strand a materialization and cached stages never
  compete with execution memory. The dir is ``spark.checkpoint.dir``
  (set by conf/spark-defaults-100tb.conf and k8s/spark/curation-job.yaml);
  without it the first cut or stage raises before any job runs.

Stage paths are keyed by applicationId, so a fresh run always rebuilds
from its inputs: this is durability of a within-session intermediate,
not cross-run result reuse.
"""

from __future__ import annotations

import hashlib
import re
from collections.abc import Callable
from typing import Any

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession

# (app_id, name) -> (params, DataFrame)
_cache: dict[tuple[str, str], tuple[Any, DataFrame]] = {}

# Escape hatch for plan audits: when True, builders run un-persisted and
# un-memoized so `.explain` shows every stage's full physical plan
# instead of an InMemoryTableScan over an already-cached prefix.
DISABLE = False


def _is_local(master: str) -> bool:
    return master == "local" or master.startswith("local[")


def reliable_dir(sc) -> str | None:
    """The one materialization decision: ``None`` under a local master,
    else the reliable checkpoint dir that cuts and stages are written
    under. A cluster master without ``spark.checkpoint.dir`` raises."""
    if _is_local(sc.master):
        return None
    d = sc.getCheckpointDir()
    if not d:
        raise RuntimeError(
            f"master {sc.master!r} runs cluster mode, which materializes "
            "lineage cuts and shared stages reliably: set "
            "spark.checkpoint.dir to a durable directory"
        )
    return d


def cut(df: DataFrame, eager: bool = False) -> DataFrame:
    """Materialize ``df`` and truncate its lineage (see module doc).
    Checkpointed values are the computed values in either mode."""
    if reliable_dir(df.sparkSession.sparkContext) is None:
        return df.localCheckpoint(eager=eager)
    return df.checkpoint(eager=eager)


def stage(
    spark: SparkSession,
    name: str,
    params: Any,
    builder: Callable[[], DataFrame],
) -> DataFrame:
    """Return the shared stage ``name``, building it on first use.

    ``params`` identifies the build inputs (sf_dir + tuning knobs); a
    call with different params rebuilds and replaces the entry (the old
    one is unpersisted — blocking=False, eviction is async; a parquet
    stage keeps its own path, so frames already handed out still read
    their rows).
    """
    if DISABLE:
        return builder()
    sc = spark.sparkContext
    key = (sc.applicationId, name)
    hit = _cache.get(key)
    if hit is not None and hit[0] == params:
        return hit[1]
    if hit is not None:
        _drop(key)
    root = reliable_dir(sc)
    if root is None:
        df = builder().persist(StorageLevel.MEMORY_AND_DISK)
    else:
        digest = hashlib.sha1(repr(params).encode()).hexdigest()[:12]
        safe = re.sub(r"[^A-Za-z0-9_.-]", "_", name)
        path = f"{root.rstrip('/')}/stages/{sc.applicationId}/{safe}-{digest}"
        builder().write.mode("overwrite").parquet(path)
        df = spark.read.parquet(path)
    _cache[key] = (params, df)
    return df


def _has_rdd_leaf(jplan) -> bool:
    leaves = jplan.collectLeaves()
    return any(
        leaves.apply(i).getClass().getSimpleName() == "LogicalRDD"
        for i in range(leaves.size())
    )


def plan(
    spark: SparkSession,
    name: str,
    params: Any,
    builder: Callable[[], DataFrame],
) -> DataFrame:
    """Prepared plan: memoize a query's ANALYZED LOGICAL PLAN per
    session and return a FRESH Dataset over it on every call.

    Contract:

    - a builder whose analyzed plan has no ``LogicalRDD`` leaf runs
      once per (name, params); each returned frame gets a new
      QueryExecution, so every action on it launches Spark jobs and
      re-executes every exchange — only the Python-side construction
      (0.4–1.6 s of py4j on the WAND and CC plans) is skipped, as with
      a SQL prepared statement;
    - a builder whose plan has such a leaf — a :func:`cut`, or
      driver-side rows re-parallelized by ``createDataFrame`` — runs
      again on every call and its own frame is returned: that leaf is a
      stored result, and memoizing it would serve the result instead of
      recomputing it.

    Returning the SAME DataFrame object would not honour the first
    point: a re-collected DataFrame reuses its QueryExecution's
    materialized AQE shuffle stages (measured: tbl_profile_lineitem
    2.7 s fresh vs 0.085 s same-object). Entries share the stage cache
    and are dropped by :func:`clear`."""
    if DISABLE:
        return builder()
    key = (spark.sparkContext.applicationId, "plan:" + name)
    hit = _cache.get(key)
    if hit is not None and hit[0] == params:
        cached = hit[1]
    else:
        if hit is not None:
            _drop(key)
        cached = builder()
        if _has_rdd_leaf(cached._jdf.queryExecution().analyzed()):
            return cached
        _cache[key] = (params, cached)
    jplan = cached._jdf.queryExecution().analyzed()
    jdf = spark._jvm.org.apache.spark.sql.classic.Dataset.ofRows(
        spark._jsparkSession, jplan
    )
    return DataFrame(jdf, spark)


def _drop(key: tuple[str, str]) -> None:
    # best-effort: the entry's SparkContext may already be stopped (a
    # recreated session gets a new applicationId); the dict entry must
    # go regardless, and a dead context's unpersist must not abort the
    # caller's loop.
    df = _cache.pop(key)[1]
    try:
        df.unpersist()
    except Exception:
        pass


def clear(spark: SparkSession | None = None) -> None:
    """Unpersist and drop every cached stage and plan (of one app, or
    all — including entries whose SparkContext has since been stopped)."""
    app = spark.sparkContext.applicationId if spark is not None else None
    for key in list(_cache):
        if app is None or key[0] == app:
            _drop(key)
