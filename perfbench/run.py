"""Benchmark runner: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload chain_drain --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Workloads:

- ``chain_drain``: closed backlog, 150 events per ``--seconds`` over
  50,000 keys, drained by Job 1 (``available_now``) while Job 2 runs;
- ``chain_paced``: open loop, a separate generator process writes one
  10-event file every 200 ms (50 events/s) over 50 keys;
- ``registry_fresh``: four registry queries on the bundled sf0.01 tables,
  every rep on a fresh plan.

Every run builds the session three times (``session.get_spark(cpus=3)``
with the Arrow warmup, through a first trivial action); ``setup_s`` is
the median. The first build also launches the JVM; the later two stop
and rebuild the session in the same JVM, so ``setup_s`` leaves JVM
launch out (traced runs print the first build as ``setup.cold_s``).

End-to-end metrics (``--trace 0``), on every workload:

- ``ops_per_s``: events (chain) or queries (registry) per second;
- ``latency_p50_ms``: per event on ``chain_drain``, from the backlog's
  start to the commit of the Job-1 micro-batch that read it; per event
  on ``chain_paced``, from its file's due time to the Job-2 commit that
  absorbed it; per query, its median fresh time (build + exec), over
  the four queries;
- ``setup_s``.

``--trace 1`` prints the per-layer metrics instead, records spans, and
writes them to ``perfbench/out/trace-<workload>-<seed>.json``. Its
``trace.overhead_frac`` compares the traced ``ops_per_s`` against the
median of the untraced runs of the same workload and seed recorded in
``perfbench/out/`` (of every seed when there is none), and
``trace.baseline_spread`` is the spread (IQR / median) of all recorded
untraced runs of the workload.

Output checks run after timing; any failure makes ``correct`` false,
raises ``failed`` and sets exit code 1. Without the program beside it
(``flink_tank_spark``) the runner exits 2 before printing a result.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
from contextlib import contextmanager

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out")
CPUS = 3
SESSION_BUILDS = 3
WORKLOADS = ("chain_drain", "chain_paced", "registry_fresh")
PACED_PASS_SECONDS = 5
GEN_LATE_LIMIT_MS = 100.0  # half a generator tick
END_TO_END = {"ops_per_s": "1/s", "latency_p50_ms": "ms", "setup_s": "s"}


class Tracer:
    """In-memory spans (name, start, end, parent), written at the end."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def add(self, name: str, start: float, end: float, parent: int | None = None,
            **attrs) -> int:
        if not self.enabled:
            return -1
        sid = len(self.spans)
        if parent is None and self._stack:
            parent = self._stack[-1]
        self.spans.append({"id": sid, "parent": parent, "name": name,
                           "start": start, "end": end, **attrs})
        return sid

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        sid = self.add(name, time.time(), 0.0, **attrs)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[sid]["end"] = time.time()

    def add_batch(self, job: str, p: dict) -> None:
        """A micro-batch from query progress, its phases as children.
        Phase children all start at the batch start: progress gives
        durations, not offsets."""
        from datetime import datetime

        start = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
        total = p["durationMs"].get("triggerExecution", 0) / 1000.0
        sid = self.add(f"{job}.batch", start, start + total, batch=p["batchId"],
                       rows=p["numInputRows"])
        for k, ms in p["durationMs"].items():
            if k != "triggerExecution":
                self.add(f"{job}.{k}", start, start + ms / 1000.0, parent=sid)

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f)


def _isolate(work: str) -> None:
    """Keep every file the session writes inside the checkout, and run
    the session's default configuration whatever the caller's env."""
    for k in list(os.environ):
        if k.startswith("SPARK_GRAFT_"):
            del os.environ[k]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_ARROW_WARMUP": "1",
        "SPARK_GRAFT_DRIVER_MEM": "2g",
        "SPARK_GRAFT_WAREHOUSE": os.path.join(work, "warehouse"),
        "SPARK_GRAFT_CKPT_DIR": os.path.join(work, "ckpt"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp}",
    })


def _build_session(cpus: int):
    from flink_tank_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench", cpus=cpus)
    spark.range(1).collect()
    return spark, time.perf_counter() - t0


def _hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _pin_jvm(pid: int, cores: list[int]) -> None:
    """Move every thread of the JVM to ``cores``; threads and processes
    it starts later inherit them."""
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            os.sched_setaffinity(int(tid), cores)
        except ProcessLookupError:
            pass  # the thread ended


def _spread(values: list[float]) -> float:
    if len(values) < 2:
        return 0.0
    q = statistics.quantiles(values, n=4)
    return (q[2] - q[0]) / statistics.median(values)


def _shutdown(spark) -> None:
    """Stop the session and wait for the JVM to exit."""
    from pyspark import SparkContext

    try:
        for q in spark.streams.active:
            q.stop()
        spark.stop()
    finally:
        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        if proc is not None:
            gw.shutdown()
            proc.stdin.close()  # the JVM exits on EOF of its stdin
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()


def _chain_passes(spark, r: dict, seed: int, seconds: float, work: str, tracer,
                  jvm_pid: int, core: int):
    """Traced chain_drain extras: the open-loop paced chain on the same
    session, then the same drain on a one-core session, with every JVM
    thread moved to ``core`` (the single-threaded baseline). Returns the
    session left open."""
    import chain

    with tracer.span("workload", workload="chain_paced", cpus=CPUS):
        p = chain.run(spark, work, "chain_paced", seed, PACED_PASS_SECONDS, tracer, False)
    spark.stop()
    _pin_jvm(jvm_pid, [core])
    spark, _ = _build_session(1)
    with tracer.span("workload", workload="chain_drain", cpus=1):
        d1 = chain.run(spark, os.path.join(work, "cpu1"), "chain_drain", seed,
                       seconds, tracer, False)
    r["layer"].update({
        "paced.latency_p50_ms": p["latency_p50_ms"],
        "paced.latency_p99_ms": p["latency_p99_ms"],
        "gen.events": p["gen_events"],
        "gen.late_p99_ms": p["gen_late_p99_ms"],
        "drain.eps_3cpu": r["ops_per_s"],
        "drain.eps_1cpu": d1["ops_per_s"],
    })
    for x in (p, d1):
        r["attempted"] += x["attempted"]
        r["failed"] += x["failed"]
    return spark


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    trace = bool(args.trace)

    sys.path.insert(0, ROOT)
    try:
        import flink_tank_spark.session  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the program is not importable here: {e}", file=sys.stderr)
        return 2

    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    # on SIGTERM, still stop the JVM and remove the scratch dir below
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    _isolate(work)
    tracer = Tracer(trace)
    spark = None
    try:
        with tracer.span("run", workload=args.workload, seed=args.seed):
            # The JVM and the Python workers it forks get CPUS cores; this
            # process, the paced generator and the checks get the rest.
            cores = sorted(os.sched_getaffinity(0))
            if len(cores) > CPUS:
                os.sched_setaffinity(0, cores[:CPUS])
            setups = []
            for _ in range(SESSION_BUILDS):
                if spark is not None:
                    spark.stop()
                with tracer.span("session.build"):
                    spark, dt = _build_session(CPUS)
                setups.append(dt)
                if len(cores) > CPUS:
                    os.sched_setaffinity(0, cores[CPUS:])
            jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
            with tracer.span("workload", workload=args.workload, cpus=CPUS):
                if args.workload == "registry_fresh":
                    import registry

                    r = registry.run(spark, args.seed, args.seconds, tracer, trace)
                else:
                    import chain

                    r = chain.run(spark, work, args.workload, args.seed, args.seconds,
                                  tracer, trace)
            rss = _hwm_mb(jvm_pid) + _hwm_mb("self")
            if trace and args.workload == "chain_drain":
                spark = _chain_passes(spark, r, args.seed, args.seconds, work, tracer,
                                      jvm_pid, cores[0])
    finally:
        try:
            if spark is not None:
                _shutdown(spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)

    metrics = {
        "ops_per_s": r["ops_per_s"],
        "latency_p50_ms": r["latency_p50_ms"],
        "setup_s": statistics.median(setups),
    }
    layer = r["layer"]
    untraced = os.path.join(OUT, f"untraced-{args.workload}.jsonl")
    if trace:
        from layers import per_layer

        runs = []
        if os.path.exists(untraced):
            with open(untraced) as f:
                runs = [json.loads(line) for line in f if line.strip()]
        every = [x["ops_per_s"] for x in runs]
        base = [x["ops_per_s"] for x in runs if x["seed"] == args.seed] or every
        if base:
            b = statistics.median(base)
            layer["trace.overhead_frac"] = (b - metrics["ops_per_s"]) / b
        layer["trace.baseline_spread"] = _spread(every)
        layer["failed_frac"] = r["failed"] / r["attempted"]
        layer["setup.cold_s"] = setups[0]
        layer["mem.peak_rss_mb"] = rss
        if args.workload == "chain_paced":
            layer.update({"paced.latency_p50_ms": r["latency_p50_ms"],
                          "paced.latency_p99_ms": r["latency_p99_ms"],
                          "gen.events": r["gen_events"], "gen.late_p99_ms": r["gen_late_p99_ms"]})
        out = {k: {"value": v, "unit": u} for k, (v, u) in per_layer(layer).items()}
        tracer.write(os.path.join(OUT, f"trace-{args.workload}-{args.seed}.json"))
    else:
        os.makedirs(OUT, exist_ok=True)
        with open(untraced, "a") as f:
            f.write(json.dumps({"seed": args.seed, **metrics}) + "\n")
        out = {k: {"value": v, "unit": END_TO_END[k]} for k, v in metrics.items()}
    late = r.get("gen_late_p99_ms", layer.get("gen.late_p99_ms", 0.0))
    if late > GEN_LATE_LIMIT_MS:
        print(f"perfbench: the generator fell behind (late p99 {late:.1f} ms)", file=sys.stderr)
    correct = r["failed"] == 0
    print(json.dumps({"correct": correct, "attempted": int(r["attempted"]),
                      "failed": int(r["failed"]), "metrics": out}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
