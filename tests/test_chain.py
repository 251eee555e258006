"""End-to-end two-job streaming chain with mid-stream kill/restart.

The one reference behavior no other test executes as a single pipeline:
producer wire → Job 1 (parse/route → stateful sequence → enrich, dual
checkpointed sinks) → Job 2 (parse → timer-based sliding heartbeat →
metrics sink), chained through the file wire exactly as the reference
chains EventProcessorJob → AggregationJob through Kafka topics
(EventProcessorJob.kt:50-52 → AggregationJob.kt:214-215).

Both queries are killed abruptly mid-stream and restarted from their
checkpoints; more input arrives after recovery. Assertions:

- the processed wire holds every valid input exactly once, with exact
  per-key sequences 1..n (Job-1 state + sink idempotency both survived
  the kill);
- the error wire holds every malformed input exactly once;
- the final per-key metrics equal the BATCH topology's answer on the
  same input: per-key totals and per-type count maps (the heartbeat
  window spans the whole run, so the last emission per key counts all
  of that key's events). The file wire's deterministic names make the
  hop effectively exactly-once, so equality is strict — the Kafka hop
  would be at-least-once (SURVEY §7.4 pt 7), which only this transport
  detail, not the topology, upgrades.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import functions as F

from flink_tank_spark.jobs.pipeline import (
    start_aggregation_job,
    start_processor_job,
)
from flink_tank_spark.streaming.jobs import TAG_ERROR, TAG_PROCESSED, get_output_streams

_ARRIVAL = 0


def _write_wire(dirpath: str, name: str, messages: list[str]) -> None:
    global _ARRIVAL
    os.makedirs(dirpath, exist_ok=True)
    tmp = os.path.join(dirpath, f".{name}.tmp")
    with open(tmp, "w") as f:
        for m in messages:
            f.write(f"{_ARRIVAL}\t{m}\n")
            _ARRIVAL += 1
    os.rename(tmp, os.path.join(dirpath, f"{name}.jsonl"))


def _event(key: int, etype: str, i: int) -> str:
    return json.dumps(
        {"id": f"u{key}", "type": etype, "timestamp": i + 1, "data": {"n": i}}
    )


def _read_wire(dirpath: str) -> list[str]:
    out: list[str] = []
    if not os.path.isdir(dirpath):
        return out
    for fn in sorted(os.listdir(dirpath)):
        if fn.startswith(("_", ".")):
            continue
        try:
            with open(os.path.join(dirpath, fn)) as f:
                out += [line.rstrip("\n") for line in f if line.strip()]
        except FileNotFoundError:
            # a just-stopped query's cancelled task may delete its
            # UNCOMMITTED part file between listdir and open (seen only
            # under heavy concurrent load); committed output never
            # vanishes, and the content assertions still cover it
            continue
    return out


def _committed_wire(sink_dir: str) -> list[str]:
    """Lines of the files a streaming file sink has committed, as its
    ``_spark_metadata`` log lists them. The sink writes a batch's part
    files into ``sink_dir`` before it commits the batch, and a stopped
    query deletes the part files of the batch it did not commit."""
    meta = os.path.join(sink_dir, "_spark_metadata")
    if not os.path.isdir(meta):
        return []
    names: set[str] = set()
    for log in os.listdir(meta):
        if not log.split(".")[0].isdigit():
            continue
        with open(os.path.join(meta, log)) as f:
            entries = [json.loads(line) for line in f.read().splitlines()[1:] if line]
        names.update(os.path.basename(e["path"]) for e in entries if e["action"] == "add")
    out: list[str] = []
    for name in sorted(names):
        with open(os.path.join(sink_dir, name)) as f:
            out += [line.rstrip("\n") for line in f if line.strip()]
    return out


def _metric_maxima(metrics_dir: str) -> dict[str, dict]:
    """Per key, the committed emission with the highest totalEventCount."""
    best: dict[str, dict] = {}
    for line in _committed_wire(metrics_dir):
        m = json.loads(line)
        cur = best.get(m["userId"])
        if cur is None or m["totalEventCount"] > cur["totalEventCount"]:
            best[m["userId"]] = m
    return best


def test_two_job_chain_survives_kill_and_restart(spark, tmp_path):
    src = str(tmp_path / "wire-in")
    processed = str(tmp_path / "wire-processed")
    errors = str(tmp_path / "wire-errors")
    metrics = str(tmp_path / "metrics")
    chk1 = str(tmp_path / "chk-job1")
    chk2 = str(tmp_path / "chk-job2")

    n_keys, types = 12, ["a", "b", "c"]
    expected: dict[str, dict[str, int]] = {f"u{k}": {} for k in range(n_keys)}
    malformed: list[str] = []
    seq = 0

    def make_file(name: str, n_valid: int, n_bad: int) -> None:
        nonlocal seq
        msgs = []
        for _ in range(n_valid):
            k = seq % n_keys
            t = types[seq % len(types)]
            msgs.append(_event(k, t, seq))
            expected[f"u{k}"][t] = expected[f"u{k}"].get(t, 0) + 1
            seq += 1
        for _ in range(n_bad):
            bad = "{not json %d" % seq
            msgs.append(bad)
            malformed.append(bad)
            seq += 1
        _write_wire(src, name, msgs)

    for b in range(6):
        make_file(f"b{b}", 24, 1)

    def start_both():
        q1 = start_processor_job(
            spark, src, processed, errors, chk1,
            max_files_per_trigger=1, trigger_interval="250 milliseconds",
        )
        q2 = start_aggregation_job(
            spark, processed, metrics, chk2,
            window_ms=300_000, emit_every_ms=500,
            trigger_interval="250 milliseconds",
        )
        return q1, q2

    # phase 1: run until Job 1 has committed a few batches AND Job 2 has
    # emitted at least one metric — both queries are genuinely mid-stream
    q1, q2 = start_both()
    try:
        deadline = time.time() + 120
        while time.time() < deadline:
            committed = [p for p in q1.recentProgress if p["numInputRows"] > 0]
            if len(committed) >= 3 and _read_wire(metrics):
                break
            time.sleep(0.25)
        else:
            raise AssertionError("chain never reached mid-stream checkpoints")
    finally:
        # abrupt kill of BOTH queries (stream-execution threads
        # interrupted; in-flight batches abandoned)
        q1.stop()
        q2.stop()
    q1.awaitTermination(60)
    q2.awaitTermination(60)

    # phase 2: restart both from their checkpoints; more input arrives
    for b in range(6, 8):
        make_file(f"b{b}", 24, 1)
    want_totals = {u: sum(c.values()) for u, c in expected.items()}

    q1, q2 = start_both()
    try:
        deadline = time.time() + 180
        while time.time() < deadline:
            best = _metric_maxima(metrics)
            if all(
                best.get(u, {}).get("totalEventCount", 0) >= n
                for u, n in want_totals.items()
            ):
                break
            time.sleep(0.5)
    finally:
        q1.stop()
        q2.stop()
    q1.awaitTermination(60)
    q2.awaitTermination(60)

    # --- processed wire: every valid input exactly once, sequences 1..n
    proc = [json.loads(line) for line in _read_wire(processed)]
    got_seqs: dict[str, list[int]] = {}
    for p in proc:
        got_seqs.setdefault(p["originalId"], []).append(p["sequence"])
    assert set(got_seqs) == set(expected)
    for u, seqs in got_seqs.items():
        assert sorted(seqs) == list(range(1, want_totals[u] + 1)), (
            u, sorted(seqs)[:5], want_totals[u],
        )
    got_types: dict[str, dict[str, int]] = {u: {} for u in expected}
    for p in proc:
        d = got_types[p["originalId"]]
        d[p["eventType"]] = d.get(p["eventType"], 0) + 1
    assert got_types == expected

    # --- error wire: every malformed input exactly once
    errs = [json.loads(line) for line in _read_wire(errors)]
    assert sorted(e["rawMessage"] for e in errs) == sorted(malformed)

    # --- metrics parity with the batch topology on the same input
    raw_batch = (
        spark.read.options(sep="\t", quote="", escape="")
        .schema("arrival long, value string")
        .csv(src)
    )
    batch_processed, _ = get_output_streams(raw_batch, order_by=["arrival"])
    batch_counts = {
        (r.originalId, r.eventType): r.cnt
        for r in batch_processed.groupBy("originalId", "eventType")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    best = _metric_maxima(metrics)
    assert set(best) == set(expected)
    for u in expected:
        m = best[u]
        assert m["totalEventCount"] == want_totals[u], (u, m)
        assert m["eventTypeCounts"] == {
            t: c for (uu, t), c in batch_counts.items() if uu == u
        }, (u, m)
        # reference window-bound semantics: [now-window, now]
        assert m["windowStart"] < m["windowEnd"]


def _processed(df):
    """Tag a frame of ``value`` strings as Job 1's processed output."""
    return df.withColumn("tag", F.lit(TAG_PROCESSED))


def test_idempotent_wire_sink_replay_overwrites_same_file(spark, tmp_path):
    """The foreachBatch idempotency contract: replaying a batch id must
    replace its file (same name, same row set), never mint a new one —
    this is what makes the file hop effectively exactly-once for a
    name-tracking downstream file source."""
    from flink_tank_spark.jobs.pipeline import idempotent_wire_sink

    out = str(tmp_path / "wire")
    sink = idempotent_wire_sink(out, str(tmp_path / "errors"))
    df1 = _processed(spark.createDataFrame([("a",), ("b",)], "value string"))
    sink(df1, 3)
    # replay of batch 3 (e.g. after a crash before the checkpoint
    # commit) with the same rows in a different partitioning
    sink(df1.repartition(4), 3)
    sink(_processed(spark.createDataFrame([("c",)], "value string")), 4)

    files = sorted(f for f in os.listdir(out) if not f.startswith(("_", ".")))
    assert files == ["batch-00000003.txt", "batch-00000004.txt"]
    with open(os.path.join(out, files[0])) as f:
        assert sorted(f.read().split()) == ["a", "b"]
    # empty batch: no file, no error
    sink(_processed(spark.createDataFrame([], "value string")), 5)
    files = sorted(f for f in os.listdir(out) if not f.startswith(("_", ".")))
    assert files == ["batch-00000003.txt", "batch-00000004.txt"]


def test_wire_sink_fanout_deterministic_names(spark, tmp_path):
    """fanout > 1 must land a CONTENT-deterministic file set: replaying
    the same batch (same rows, same batch_id) reproduces the identical
    names and the identical per-file contents — the property that keeps
    the downstream file source (which tracks files by name) exactly-once
    across Job-1 replays."""
    from flink_tank_spark.jobs.pipeline import idempotent_wire_sink

    rows = [(f"payload-{i}",) for i in range(500)]
    df = _processed(spark.createDataFrame(rows, ["value"]))

    out1 = str(tmp_path / "w1")
    sink = idempotent_wire_sink(out1, str(tmp_path / "e1"), fanout=4)
    sink(df, 7)
    names1 = sorted(os.listdir(out1))
    contents1 = {n: sorted(open(os.path.join(out1, n)).read().splitlines())
                 for n in names1}
    # replay the SAME batch into the same dir (the foreachBatch retry
    # path): names and contents must be unchanged, no extra files
    sink(df, 7)
    names2 = sorted(os.listdir(out1))
    contents2 = {n: sorted(open(os.path.join(out1, n)).read().splitlines())
                 for n in names2}
    assert names1 == names2 and contents1 == contents2
    assert all(n.startswith("batch-00000007-") for n in names1)
    assert 1 < len(names1) <= 4  # actually fanned out
    # and a different-layout source producing the same ROWS lands the
    # same file set (hash partitioning is content-pure, not layout-pure)
    out2 = str(tmp_path / "w2")
    sink2 = idempotent_wire_sink(out2, str(tmp_path / "e2"), fanout=4)
    sink2(df.repartition(13), 7)
    contents3 = {n: sorted(open(os.path.join(out2, n)).read().splitlines())
                 for n in sorted(os.listdir(out2))}
    assert contents3 == contents1
    # every row landed exactly once across the fanout
    all_rows = sorted(sum((c for c in contents1.values()), []))
    assert all_rows == sorted(r[0] for r in rows)


def test_wire_sink_fanout_one_error_file_and_identical_replay(spark, tmp_path):
    """One write lands both wires: at ``fanout=4`` the processed rows
    fan out while every error row lands in the one file
    ``batch-<id>.txt``, and a replay of the batch from another layout
    re-lands byte-identical files under the same names."""
    from flink_tank_spark.jobs.pipeline import idempotent_wire_sink

    rows = [(f"payload-{i}", TAG_PROCESSED) for i in range(400)] + [
        (f"{{broken {i}", TAG_ERROR) for i in range(40)
    ]
    df = spark.createDataFrame(rows, "value string, tag string")

    def landed(root):
        out = {}
        for wire in ("processed", "errors"):
            d = os.path.join(root, wire)
            for n in sorted(os.listdir(d)):
                with open(os.path.join(d, n), "rb") as f:
                    out[(wire, n)] = f.read()
        return out

    root = str(tmp_path / "w")
    sink = idempotent_wire_sink(f"{root}/processed", f"{root}/errors", fanout=4)
    sink(df, 7)
    first = landed(root)
    assert [n for w, n in first if w == "errors"] == ["batch-00000007.txt"]
    processed = [n for w, n in first if w == "processed"]
    assert 1 < len(processed) <= 4
    assert all(n.startswith("batch-00000007-") for n in processed)
    assert sorted(first[("errors", "batch-00000007.txt")].decode().splitlines()) == sorted(
        v for v, t in rows if t == TAG_ERROR
    )
    # replay of the same batch, its rows arriving in another partitioning
    sink(df.repartition(13), 7)
    assert landed(root) == first


def test_wire_sink_keeps_upstream_parallelism(spark, tmp_path):
    """A one-file batch must not run its upstream in one task: the sink
    shapes the batch behind a shuffle, so the stage that computes the
    micro-batch (Job 1's stateful sequence, in the chain) keeps every
    input partition as a task and only the write itself is single-task.
    A ``coalesce(1)`` would fold that whole stage into one task."""
    from flink_tank_spark.jobs.pipeline import idempotent_wire_sink

    out = str(tmp_path / "wire")
    sink = idempotent_wire_sink(out, str(tmp_path / "errors"))
    n = 3_000
    df = _processed(spark.range(0, n, 1, numPartitions=3).select(
        F.col("id").cast("string").alias("value")
    ))
    sc = spark.sparkContext
    group = f"wire-sink-parallelism-{tmp_path.name}"
    sc.setJobGroup(group, "idempotent_wire_sink parallelism")
    try:
        sink(df, 11)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)

    # the status store fills from the listener bus, a little after the
    # write returns: wait until every job of the group has finished
    tracker = sc.statusTracker()
    deadline = time.time() + 30
    while True:
        jobs = [tracker.getJobInfo(j) for j in tracker.getJobIdsForGroup(group)]
        if jobs and all(j and j.status == "SUCCEEDED" for j in jobs):
            break
        assert time.time() < deadline, jobs
        time.sleep(0.1)
    stages = [tracker.getStageInfo(s) for j in jobs for s in j.stageIds]
    tasks = [s.numTasks for s in stages if s is not None]
    assert max(tasks) >= 3, tasks

    files = sorted(f for f in os.listdir(out) if not f.startswith(("_", ".")))
    assert files == ["batch-00000011.txt"]
    with open(os.path.join(out, files[0])) as f:
        assert sorted(f.read().split()) == sorted(str(i) for i in range(n))


def test_chain_with_fanout_matches_batch(spark, tmp_path):
    """The chained pipeline with wire_fanout > 1 and multi-batch
    pipelining (maxFilesPerTrigger) still ends metrics-equal to the
    batch topology — the throughput knobs must not change semantics."""
    src = str(tmp_path / "fin")
    processed = str(tmp_path / "fproc")
    errors = str(tmp_path / "ferr")
    metrics = str(tmp_path / "fmet")
    chk1 = str(tmp_path / "fchk1")
    chk2 = str(tmp_path / "fchk2")

    msgs = [_event(k, "click", i) for k in range(5) for i in range(40)]
    for part in range(4):
        _write_wire(src, f"in-{part}", msgs[part * 50:(part + 1) * 50])

    q1 = start_processor_job(
        spark, src, processed, errors, chk1,
        available_now=True, wire_fanout=3, max_files_per_trigger=1,
    )
    q2 = start_aggregation_job(
        spark, processed, metrics, chk2,
        window_ms=600_000, emit_every_ms=250,
        trigger_interval="500 milliseconds",
    )
    assert q1.awaitTermination(120)
    # progress-aware poll (r12 flake fix): a fixed deadline conflated
    # "slow host" with "real race" — one full-suite run lost a key
    # after 300 s while solo runs converge in ~35 s. Now the deadline
    # extends while q2 is still COMMITTING micro-batches (batchId
    # advancing => it is lagging, not stuck), and the poll fails fast
    # once q2 has been batch-idle for idle_window with the condition
    # unmet — at that point the metrics state is final and a missing
    # key is evidence of a skipped input file, not slowness.
    hard_deadline = time.time() + 600
    idle_window = 150.0
    want_keys = {f"u{k}" for k in range(5)}
    last_batch, last_advance = -1, time.time()
    while time.time() < hard_deadline:
        best = _metric_maxima(metrics)
        if (set(best) == want_keys
                and all(m["totalEventCount"] == 40 for m in best.values())):
            break
        lp = q2.lastProgress
        batch = lp.get("batchId", -1) if lp else -1
        if batch != last_batch:
            last_batch, last_advance = batch, time.time()
        elif time.time() - last_advance > idle_window:
            break  # q2 idle: no batch committed in idle_window — final
        time.sleep(0.5)
    # snapshot the aggregation query's view of the world BEFORE stop so
    # a failure is diagnosable: the progress row says whether q2
    # stalled, lagged, or silently skipped an input file
    diag = (q2.status, q2.lastProgress,
            sorted(f for f in os.listdir(processed) if not f.startswith("_")))
    q2.stop()
    q2.awaitTermination(30)
    best = _metric_maxima(metrics)
    assert set(best) == want_keys, (sorted(best), diag)
    assert all(m["totalEventCount"] == 40 for m in best.values()), (best, diag)
    # multiple wire files per batch actually landed
    fan_files = [f for f in os.listdir(processed) if f.count("-") == 2]
    assert fan_files, sorted(os.listdir(processed))


def test_chain_event_time_mode_matches_batch(spark, tmp_path):
    """--event-time chain parity: Job 2 runs watermarked event-time
    windows in append mode; every window it emits must carry exactly the
    batch topology's counts for that (userId, windowStart) — and the
    wave-1 windows MUST have emitted (the late wave advances the
    watermark past them, and Spark's no-data batch flushes them)."""
    src = str(tmp_path / "ein")
    processed = str(tmp_path / "eproc")
    errors = str(tmp_path / "eerr")
    metrics = str(tmp_path / "emet")
    chk1 = str(tmp_path / "echk1")
    chk2 = str(tmp_path / "echk2")

    def ev(key, etype, ts_ms):
        return json.dumps(
            {"id": f"u{key}", "type": etype, "timestamp": ts_ms, "data": {}}
        )

    # wave 1: 3 keys x 20 events inside [1s, 21s) event time
    wave1 = [ev(k, "click", 1_000 + i * 1_000) for k in range(3) for i in range(20)]
    _write_wire(src, "wave1", wave1)

    q1 = start_processor_job(
        spark, src, processed, errors, chk1,
        trigger_interval="500 milliseconds", wire_fanout=2,
    )
    q2 = start_aggregation_job(
        spark, processed, metrics, chk2,
        window_ms=60_000, emit_every_ms=30_000,
        trigger_interval="500 milliseconds",
        event_time=True, watermark="10 seconds",
    )
    # wait until wave1 is on the processed wire, then send the
    # watermark-advancing late wave (event time +30 min)
    deadline = time.time() + 60
    while time.time() < deadline and len(_read_wire(processed)) < len(wave1):
        time.sleep(0.5)
    assert len(_read_wire(processed)) == len(wave1)
    _write_wire(src, "wave2", [ev(9, "view", 30 * 60_000)])

    # wave-1 windows all end by 81s; watermark reaches 30min-10s >> 81s
    want_rows = None
    deadline = time.time() + 90
    while time.time() < deadline:
        got = [json.loads(x) for x in _read_wire(metrics)]
        w1 = [m for m in got if m["userId"] != "u9"]
        # 20 events over [1s,21s) in 60s/30s sliding windows: the
        # covering windows start at -30s and 0s -> 2 windows per key
        if len(w1) >= 6:
            want_rows = got
            break
        time.sleep(0.5)
    q1.stop()
    q2.stop()
    q1.awaitTermination(30)
    q2.awaitTermination(30)
    assert want_rows is not None, "wave-1 event-time windows never emitted"

    # batch truth on the SAME processed wire content
    raw = spark.read.text(processed)
    from flink_tank_spark.operators.aggregate import sliding_metrics
    from flink_tank_spark.streaming.jobs import parse_processed_events

    pe = parse_processed_events(raw).withColumn(
        "eventTime",
        F.timestamp_millis(
            F.get_json_object("enrichedData", "$.original_timestamp").cast("long")
        ),
    )
    batch = {
        (r["userId"], r["windowStart"]): r
        for r in sliding_metrics(
            pe, window_size="60000 milliseconds", slide="30000 milliseconds"
        ).collect()
    }
    emitted = [m for m in want_rows if m["userId"] != "u9"]
    assert len(emitted) == 6  # 3 keys x 2 windows, each exactly once
    for m in emitted:
        b = batch[(m["userId"], m["windowStart"])]
        assert m["totalEventCount"] == b["totalEventCount"], (m, b)
        # the wire line nests eventTypeCounts as a JSON object; the
        # batch row carries it as a string
        assert m["eventTypeCounts"] == json.loads(b["eventTypeCounts"])
