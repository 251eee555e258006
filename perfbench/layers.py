"""The per-layer metric set, printed in full by every traced run.

A traced run prints every name below; a layer its workload does not
use reads 0 (the registry layers on a chain workload, the generator on
``chain_drain``). README.md maps each layer metric to the end-to-end
metric and workload it should move.
"""

from __future__ import annotations

from registry import OP_BUCKETS, QUERIES

_JOB_MS = (
    "source.latest_offset_ms", "source.get_batch_ms", "query_planning_ms",
    "add_batch_ms", "wal_commit_ms", "commit_offsets_ms", "trigger_ms",
    "state.commit_ms", "state.update_ms", "state.rocksdb_flush_ms",
    "state.rocksdb_checkpoint_ms",
)


def units() -> dict[str, str]:
    u = {"gen.events": "count", "gen.late_p99_ms": "ms",
         "paced.latency_p50_ms": "ms", "paced.latency_p99_ms": "ms"}
    for j in ("job1", "job2"):
        u[f"{j}.batches"] = "count"
        u.update({f"{j}.{k}": "ms" for k in _JOB_MS})
        u[f"{j}.backlog_files_max"] = "count"
        u[f"{j}.state.rows_total"] = "count"
        u[f"{j}.state.rows_removed"] = "count"
        u[f"{j}.state.memory_bytes"] = "bytes"
        u[f"{j}.state.sst_bytes"] = "bytes"
    u.update({"wire.files": "count", "wire.bytes": "bytes"})
    u.update({f"q.{q}.{k}": "s" for q in QUERIES for k in ("build_s", "exec_s")})
    u.update({f"registry.{k}": "s" for k in ("build_s", "exec_s", "fresh_s", "session_s")})
    for b in OP_BUCKETS:
        u.update({f"op.{b}.time_ms": "ms", f"op.{b}.rows_out": "count",
                  f"op.{b}.spill_bytes": "bytes"})
    u["op.Exchange.shuffle_bytes"] = "bytes"
    u.update({"spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count"})
    u.update({"drain.eps_1cpu": "1/s", "drain.eps_3cpu": "1/s"})
    u.update({"setup.cold_s": "s", "mem.peak_rss_mb": "MB", "failed_frac": "ratio",
              "trace.overhead_frac": "ratio", "trace.baseline_spread": "ratio"})
    return u


def per_layer(measured: dict[str, float]) -> dict[str, tuple[float, str]]:
    unknown = set(measured) - set(units())
    if unknown:
        raise KeyError(f"per-layer metrics missing from layers.units(): {sorted(unknown)}")
    return {k: (float(measured.get(k, 0.0)), u) for k, u in units().items()}


def scheduler_counts(sc, group: str, acc: dict[str, float]) -> None:
    """Add the jobs, stages and tasks of one job group to ``acc``."""
    st = sc.statusTracker()
    for jid in st.getJobIdsForGroup(group):
        acc["spark.jobs"] = acc.get("spark.jobs", 0.0) + 1
        info = st.getJobInfo(jid)
        for sid in (info.stageIds if info else []):
            acc["spark.stages"] = acc.get("spark.stages", 0.0) + 1
            s = st.getStageInfo(sid)
            acc["spark.tasks"] = acc.get("spark.tasks", 0.0) + (s.numTasks if s else 0)
