"""The two chain workloads: ``chain_drain`` and ``chain_paced``.

Both drive ``jobs.pipeline.start_processor_job`` (Job 1) and
``start_aggregation_job`` (Job 2) over the file wire with the reference
cadence (10-min window, 5-s heartbeat emission). Timing comes from the
checkpoints (``join.py``); per-batch phases come from a
``StreamingQueryListener`` registered only on traced runs.

Every run checks its outputs after timing stops:

- the processed and error wires hold exactly the records the batch
  topology (``streaming.jobs.get_output_streams``) produces on the same
  input wire: every input once, per-key sequences 1..n in arrival order;
- after the next heartbeat emission, each key's highest-total emission
  carries the per-key total and per-type counts of the processed wire,
  and so of the batch topology.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time
from collections import Counter, defaultdict

import gen
import join
from layers import scheduler_counts

EMIT_EVERY_MS = 5_000  # the reference cadence (AggregationJob.kt:54)

DRAIN_KEYS = 50_000
DRAIN_EVENTS_PER_FILE = 500
# The backlog is sized from --seconds at this nominal rate (about the
# 3-core rate on a 4-core 2 GHz VM when the benchmark was written), so a
# run drains a fixed amount of work: 150 × 10 s = 1,500 events, which
# reach about 1,400 of the 50,000 keys. At that size query start-up, not
# per-record cost, sets most of the drain time.
DRAIN_NOMINAL_EPS = 150
DRAIN_WARM_EVENTS = 200

WARM_FILES = 2

PACED_KEYS = 50
PACED_FILES_PER_S = 5
PACED_EVENTS_PER_FILE = 10  # 50 events/s offered

QUERY_NAMES = {"processor-job": "job1", "aggregation-job": "job2"}


class ProgressLog:
    """Collects query progress as dicts, keyed by ``job1`` / ``job2``."""

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        log: dict[str, list[dict]] = {"job1": [], "job2": []}

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = json.loads(event.progress.json)
                log.setdefault(QUERY_NAMES.get(p.get("name"), p.get("name")), []).append(p)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.log = log
        self.listener = _Listener()
        self.spark = spark
        spark.streams.addListener(self.listener)

    def close(self) -> None:
        self.spark.streams.removeListener(self.listener)


def _dirs(work: str, tag: str) -> dict[str, str]:
    """Input, outputs and checkpoints of one chain, under ``work``."""
    return {k: os.path.join(work, f"{tag}-{k}") for k in
            ("src", "processed", "errors", "metrics", "chk1", "chk2")}


def _start(spark, d: dict[str, str], available_now: bool):
    from flink_tank_spark.jobs.pipeline import (
        start_aggregation_job,
        start_processor_job,
    )

    q1 = start_processor_job(
        spark, d["src"], d["processed"], d["errors"], d["chk1"],
        trigger_interval=None, available_now=available_now,
    )
    q2 = start_aggregation_job(
        spark, d["processed"], d["metrics"], d["chk2"],
        emit_every_ms=EMIT_EVERY_MS, trigger_interval=None,
    )
    return q1, q2


def _outputs(dirpath: str) -> list[str]:
    try:
        return sorted(n for n in os.listdir(dirpath) if n.startswith("batch-"))
    except FileNotFoundError:
        return []


class Chain:
    """One running chain and the outside observers of its checkpoints."""

    def __init__(self, spark, d: dict[str, str], available_now: bool):
        self.d = d
        os.makedirs(d["src"], exist_ok=True)
        self.w1 = join.CheckpointWatcher(d["chk1"])
        self.w2 = join.CheckpointWatcher(d["chk2"])
        self.q1, self.q2 = _start(spark, d, available_now)

    def absorbed(self, inputs: list[str]) -> dict[str, float | None]:
        self.w1.poll()
        self.w2.poll()
        return join.absorb_times(self.w1, self.w2, _outputs(self.d["processed"]), inputs)

    def read_times(self, inputs: list[str]) -> dict[str, float | None]:
        """Input file name -> commit time of the Job-1 micro-batch that read it."""
        self.w1.poll()
        read_by = self.w1.batch_of_file()
        return {n: self.w1.committed.get(read_by.get(n)) for n in inputs}

    def wait_absorbed(self, inputs: list[str], deadline: float) -> dict[str, float | None]:
        """Poll until Job 2 has committed every input file's output."""
        while True:
            times = self.absorbed(inputs)
            if all(t is not None for t in times.values()) or time.time() > deadline:
                return times
            time.sleep(0.05)

    def stop(self) -> None:
        for q in (self.q1, self.q2):
            try:
                q.stop()
            except Exception:
                pass
        for q in (self.q1, self.q2):
            q.awaitTermination(60)


def _wire(dirpath: str) -> list[str]:
    out: list[str] = []
    for n in _outputs(dirpath):
        out += join.read_lines(os.path.join(dirpath, n))
    return out


class MetricsReader:
    """Reads committed files of the Job-2 text sink, once each, keeping
    per key the emission with the highest total."""

    def __init__(self, dirpath: str):
        self.dirpath = dirpath
        self.logs: set[str] = set()
        self.best: dict[str, dict] = {}

    def poll(self) -> None:
        # the sink's manifest log lists committed files, one JSON per line
        meta = os.path.join(self.dirpath, "_spark_metadata")
        try:
            names = sorted(os.listdir(meta))
        except FileNotFoundError:
            return
        for n in names:
            if n in self.logs or not n.split(".")[0].isdigit():
                continue
            lines = join.read_lines(os.path.join(meta, n))
            if not lines:
                continue
            self.logs.add(n)
            for line in lines[1:]:
                self._read(os.path.join(self.dirpath, os.path.basename(json.loads(line)["path"])))

    def _read(self, path: str) -> None:
        for line in join.read_lines(path):
            m = json.loads(line)
            cur = self.best.get(m["userId"])
            if cur is None or m["totalEventCount"] > cur["totalEventCount"]:
                self.best[m["userId"]] = m


def _batch_truth(spark, src: str):
    """The batch topology on the same input wire: processed records as
    (key, type, original timestamp, sequence) and error raw messages."""
    from pyspark.sql import functions as F

    from flink_tank_spark.streaming.jobs import get_output_streams

    raw = (
        spark.read.options(sep="\t", quote="", escape="")
        .schema("arrival long, value string")
        .csv(src)
    )
    processed, errors = get_output_streams(raw, order_by=["arrival"])
    p = processed.select(
        "originalId", "eventType",
        F.get_json_object("enrichedData", "$.original_timestamp").cast("long").alias("ts"),
        "sequence",
    ).toPandas()
    e = errors.select("rawMessage").toPandas()
    return (
        Counter(zip(p.originalId, p.eventType, p.ts.astype(int), p.sequence.astype(int))),
        Counter(e.rawMessage),
    )


def check_outputs(spark, chain: Chain, deadline: float):
    """Returns (attempted, failed) over records and per-key metrics.

    Waits for the heartbeat emissions to match the processed wire, then
    stops the chain before computing the batch topology, so the check
    does not compete with the chain for cores. The wires are compared
    with the batch topology, so matching metrics match it too."""
    d = chain.d
    got_p: Counter = Counter()
    for line in _wire(d["processed"]):
        r = json.loads(line)
        got_p[(r["originalId"], r["eventType"],
               int(r["enrichedData"]["original_timestamp"]), int(r["sequence"]))] += 1
    got_e = Counter(json.loads(line)["rawMessage"] for line in _wire(d["errors"]))

    totals: dict[str, Counter] = {}
    for (k, t, _, _), c in got_p.items():
        totals.setdefault(k, Counter())[t] += c
    metrics = MetricsReader(d["metrics"])

    def mismatched() -> int:
        bad = 0
        for k, types in totals.items():
            m = metrics.best.get(k)
            if m is None or m["totalEventCount"] != sum(types.values()) or (
                m["eventTypeCounts"] != dict(types)
            ):
                bad += 1
        return bad

    # the next heartbeat emission after the last event was absorbed
    while True:
        metrics.poll()
        bad = mismatched()
        if bad == 0 or time.time() > deadline:
            break
        time.sleep(0.1)
    chain.stop()

    want_p, want_e = _batch_truth(spark, d["src"])
    failed = bad + sum(((want_p - got_p) + (got_p - want_p)).values())
    failed += sum(((want_e - got_e) + (got_e - want_e)).values())
    attempted = sum(want_p.values()) + sum(want_e.values()) + len(totals)
    return attempted, failed


def _pct(samples: list[tuple[float, int]], q: float) -> float:
    """Weighted nearest-rank percentile of (value, weight) pairs."""
    samples = sorted(samples)
    total = sum(w for _, w in samples)
    rank = q * total
    acc = 0
    for v, w in samples:
        acc += w
        if acc >= rank:
            return v
    return samples[-1][0]


def _events_in(src: str, names: list[str]) -> dict[str, int]:
    return {n: len(join.read_lines(os.path.join(src, n))) for n in names}


def _layer_metrics(chain: Chain, created1: dict[str, float], progress: ProgressLog,
                   spark) -> dict[str, float]:
    """Per-layer figures of the timed chain; ``created1`` maps each input
    file to the time it appeared."""
    out: dict[str, float] = defaultdict(float)
    chain.absorbed([])
    created2 = {
        n: os.stat(os.path.join(chain.d["processed"], n)).st_mtime
        for n in _outputs(chain.d["processed"])
    }
    for job, w, created in (("job1", chain.w1, created1), ("job2", chain.w2, created2)):
        out[f"{job}.backlog_files_max"] = join.backlog_max(w, created)
    for k in ("processed", "errors"):
        names = _outputs(chain.d[k])
        out["wire.files"] += len(names)
        out["wire.bytes"] += sum(os.path.getsize(os.path.join(chain.d[k], n)) for n in names)
    for q in (chain.q1, chain.q2):
        scheduler_counts(spark.sparkContext, str(q.runId), out)
    for job in ("job1", "job2"):
        ps = progress.log.get(job, [])
        dur = lambda k: float(sum(p["durationMs"].get(k, 0) for p in ps))  # noqa: E731
        out[f"{job}.batches"] = len(ps)
        out[f"{job}.source.latest_offset_ms"] = dur("latestOffset")
        out[f"{job}.source.get_batch_ms"] = dur("getBatch")
        out[f"{job}.query_planning_ms"] = dur("queryPlanning")
        out[f"{job}.add_batch_ms"] = dur("addBatch")
        out[f"{job}.wal_commit_ms"] = dur("walCommit")
        out[f"{job}.commit_offsets_ms"] = dur("commitOffsets")
        out[f"{job}.trigger_ms"] = dur("triggerExecution")
        ops = [p["stateOperators"][0] for p in ps if p.get("stateOperators")]
        cm = lambda o, k: float(o.get("customMetrics", {}).get(k, 0))  # noqa: E731
        out[f"{job}.state.rows_total"] = float(ops[-1]["numRowsTotal"]) if ops else 0.0
        out[f"{job}.state.rows_removed"] = float(sum(o["numRowsRemoved"] for o in ops))
        out[f"{job}.state.memory_bytes"] = float(max((o["memoryUsedBytes"] for o in ops), default=0))
        out[f"{job}.state.commit_ms"] = float(sum(o["commitTimeMs"] for o in ops))
        out[f"{job}.state.update_ms"] = float(sum(o["allUpdatesTimeMs"] for o in ops))
        out[f"{job}.state.rocksdb_flush_ms"] = sum(cm(o, "rocksdbCommitFlushLatency") for o in ops)
        out[f"{job}.state.rocksdb_checkpoint_ms"] = sum(
            cm(o, "rocksdbCommitCheckpointLatency") for o in ops)
        out[f"{job}.state.sst_bytes"] = max((cm(o, "rocksdbSstFileSize") for o in ops), default=0.0)
    return dict(out)


def drain_files(seconds: float) -> int:
    """Backlog files of one timed drain of ``seconds``."""
    return max(1, round(seconds * DRAIN_NOMINAL_EPS / DRAIN_EVENTS_PER_FILE))


def _drain_warm_up(spark, work: str, seed: int) -> None:
    """A throwaway drain on separate dirs: JIT, Python workers and the
    stateful operators' first-use costs are paid before timing."""
    d = _dirs(work, "drain-warm")
    src = gen.EventSource(f"warm-{seed}", DRAIN_KEYS)
    names = gen.write_files(d["src"], src, 1, DRAIN_WARM_EVENTS, prefix="warm")
    chain = Chain(spark, d, available_now=True)
    try:
        chain.wait_absorbed(names, deadline=time.time() + 90)
    finally:
        chain.stop()


def _generate(work: str, d: dict[str, str], seed: int, seconds: float, first_arrival: int,
              chain: Chain) -> dict:
    """Run the open-loop generator process to completion; returns its log."""
    log = os.path.join(work, "gen-log.json")
    proc = subprocess.Popen([
        sys.executable, os.path.join(os.path.dirname(os.path.abspath(__file__)), "gen.py"),
        "--out", d["src"], "--log", log, "--seed", str(seed),
        "--keys", str(PACED_KEYS), "--files-per-s", str(PACED_FILES_PER_S),
        "--events-per-file", str(PACED_EVENTS_PER_FILE), "--seconds", str(seconds),
        "--t0", repr(time.time() + 0.5), "--first-arrival", str(first_arrival),
    ])
    try:
        limit = time.time() + seconds + 60
        while proc.poll() is None and time.time() < limit:
            chain.absorbed([])  # keep up with Spark's metadata purge
            time.sleep(0.1)
    finally:
        if proc.poll() is None:
            proc.kill()
        proc.wait()
    with open(log) as f:
        return json.load(f)


def _finish(spark, chain: Chain, names: list[str], due: dict[str, float],
            times: dict[str, float | None], tracer) -> dict:
    """Latency samples and output checks of one timed chain, which stops it."""
    counts = _events_in(chain.d["src"], names)
    n_events = sum(counts.values())
    done = [t for t in times.values() if t is not None]
    end = max(done) if done else time.time()
    with tracer.span("check"):
        attempted, failed = check_outputs(
            spark, chain, deadline=time.time() + EMIT_EVERY_MS / 1000 + 30)
    pending = sum(counts[n] for n in names if times.get(n) is None)
    read1 = chain.read_times(names)
    return {
        "events": n_events,
        "eps": n_events / max(end - min(due.values()), 1e-9),
        "samples": [((times[n] - due[n]) * 1000.0, counts[n]) for n in names
                    if times.get(n) is not None],
        "read_samples": [((read1[n] - due[n]) * 1000.0, counts[n]) for n in names
                         if read1.get(n) is not None],
        "attempted": attempted,
        "failed": min(attempted, failed + pending),
    }


def run(spark, work: str, workload: str, seed: int, seconds: float,
        tracer, trace: bool) -> dict:
    """One chain workload. ``chain_drain`` drains one backlog sized by
    ``drain_files(seconds)``; ``chain_paced`` runs the generator for
    ``seconds``."""
    progress = None
    layer: dict[str, float] = {}
    try:
        if workload == "chain_paced":
            d = _dirs(work, "paced")
            with tracer.span("warm_up"):
                chain = Chain(spark, d, available_now=False)
                src = gen.EventSource(f"warm-{seed}", PACED_KEYS)
                warm = gen.write_files(d["src"], src, WARM_FILES, PACED_EVENTS_PER_FILE,
                                       prefix="warm")
                chain.wait_absorbed(warm, deadline=time.time() + 90)
            progress = ProgressLog(spark) if trace else None
            glog = _generate(work, d, seed, seconds, src.arrival, chain)
            names = [gen.file_name(i) for i in range(len(glog["due"]))]
            due = dict(zip(names, glog["due"]))
            created = dict(zip(names, glog["written"]))
            for n in names:
                tracer.add("gen.tick", due[n], created[n], file=n)
            times = chain.wait_absorbed(names, deadline=glog["due"][-1] + 60)
        else:
            files = drain_files(seconds)
            with tracer.span("warm_up"):
                _drain_warm_up(spark, work, seed)
            progress = ProgressLog(spark) if trace else None
            d = _dirs(work, "drain")
            names = gen.write_files(d["src"], gen.EventSource(str(seed), DRAIN_KEYS),
                                    files, DRAIN_EVENTS_PER_FILE)
            t0 = time.time()
            with tracer.span("job.start"):
                chain = Chain(spark, d, available_now=True)
            due = created = {n: t0 for n in names}
            times = chain.wait_absorbed(names, deadline=t0 + 6 * seconds)
        f = _finish(spark, chain, names, due, times, tracer)
        if progress:
            layer = _layer_metrics(chain, created, progress, spark)
            for job in ("job1", "job2"):
                for p in progress.log.get(job, []):
                    tracer.add_batch(job, p)
        # The paced chain times each event to its absorption by Job 2. A
        # drain's last Job-2 commit already sets ops_per_s, so there an
        # event is timed to the commit of the Job-1 batch that read it.
        lat = f["samples"] if workload == "chain_paced" else f["read_samples"]
        result = {
            "ops_per_s": f["eps"],
            "latency_p50_ms": _pct(lat, 0.50) if lat else 0.0,
            "latency_p99_ms": _pct(lat, 0.99) if lat else 0.0,
            "attempted": f["attempted"],
            "failed": f["failed"],
            "layer": layer,
        }
        if workload == "chain_paced":
            late = [(w - d_) * 1000.0 for d_, w in zip(glog["due"], glog["written"])]
            result["gen_events"] = f["events"]
            result["gen_late_p99_ms"] = _pct([(v, 1) for v in late], 0.99)
        return result
    finally:
        if progress:
            progress.close()
        for q in spark.streams.active:
            q.stop()
