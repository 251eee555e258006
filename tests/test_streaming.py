"""True Structured Streaming tests: cross-micro-batch state + sinks.

Exercises the streaming path the batch golden tests can't: the per-key
sequence must SURVIVE across micro-batches via GroupState (the analogue
of Flink's ValueState persisting across records, EventProcessorJob.kt:
104-126), and the topology must run end-to-end from a file source to a
file sink with checkpointing.
"""

from __future__ import annotations

import json
import os
import random

from pyspark.sql import functions as F

from flink_tank_spark.io.kafka import read_jsonl_stream
from flink_tank_spark.jobs.pipeline import start_processor_job
from flink_tank_spark.streaming.jobs import TAG_ERROR, get_output_streams
from flink_tank_spark.streaming.sequence import N_BUCKETS, key_bucket


_ARRIVAL = 0


def _write_batch(dirpath: str, name: str, messages: list[str]) -> None:
    global _ARRIVAL
    os.makedirs(dirpath, exist_ok=True)
    tmp = os.path.join(dirpath, f".{name}.tmp")
    with open(tmp, "w") as f:
        for m in messages:
            f.write(f"{_ARRIVAL}\t{m}\n")
            _ARRIVAL += 1
    os.rename(tmp, os.path.join(dirpath, f"{name}.jsonl"))


def test_sequence_state_survives_micro_batches(spark, tmp_path):
    src = str(tmp_path / "in")
    ckpt = str(tmp_path / "ckpt")
    out_dir = str(tmp_path / "out")

    def run_available(msgs, batch_name):
        _write_batch(src, batch_name, msgs)
        _drain_sequenced(spark, src, ckpt, out_dir)

    # micro-batch 1: user-1 ×2, user-2 ×1
    run_available(
        [
            '{"id":"user-1","type":"a","timestamp":1,"data":{}}',
            '{"id":"user-2","type":"b","timestamp":2,"data":{}}',
            '{"id":"user-1","type":"c","timestamp":3,"data":{}}',
        ],
        "batch1",
    )
    # micro-batch 2 (separate query run, state restored from checkpoint)
    run_available(
        [
            '{"id":"user-1","type":"d","timestamp":4,"data":{}}',
            '{"id":"user-2","type":"e","timestamp":5,"data":{}}',
        ],
        "batch2",
    )

    rows = [
        json.loads(r.value)
        for r in spark.read.text(out_dir).collect()
    ]
    seqs = {(r["originalId"], r["eventType"]): r["sequence"] for r in rows}
    assert seqs == {
        ("user-1", "a"): 1,
        ("user-1", "c"): 2,
        ("user-1", "d"): 3,  # state survived the restart
        ("user-2", "b"): 1,
        ("user-2", "e"): 2,
    }
    # processingDelay invariant (reference asserts >= 0)
    assert all(r["processingDelay"] >= 0 for r in rows)


def _drain_sequenced(spark, src: str, ckpt: str, out_dir: str, err_dir: str | None = None):
    """One availableNow run of Job 1 over ``src``: processed JSON lines
    under ``out_dir``, errors under ``err_dir`` (default: beside
    ``out_dir``); returns the finished query."""
    q = start_processor_job(
        spark, src, out_dir, err_dir or f"{out_dir}-errors", ckpt, available_now=True
    )
    q.awaitTermination(120)
    return q


def _sequences(spark, out_dir: str) -> dict:
    rows = (json.loads(r.value) for r in spark.read.text(out_dir).collect())
    return {(r["originalId"], r["eventType"]): r["sequence"] for r in rows}


def test_sequence_follows_arrival_across_arrow_chunks(spark, tmp_path):
    """One key's rows can reach the sequence operator as several Arrow
    chunks (spark.sql.execution.arrow.maxRecordsPerBatch); its sequences
    must follow `arrival` across all of them, not within each chunk."""
    src = tmp_path / "in"
    src.mkdir()
    for name, arrivals in (("even", range(0, 20, 2)), ("odd", range(1, 20, 2))):
        (src / f"{name}.jsonl").write_text(
            "".join(
                f'{a}\t{{"id":"k","type":"t{a}","timestamp":{a},"data":{{}}}}\n'
                for a in arrivals
            )
        )
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(conf)
    spark.conf.set(conf, "2")
    try:
        _drain_sequenced(spark, str(src), str(tmp_path / "ckpt"), str(tmp_path / "out"))
    finally:
        spark.conf.set(conf, prev)
    assert _sequences(spark, str(tmp_path / "out")) == {
        ("k", f"t{a}"): a + 1 for a in range(20)
    }


def test_sequence_buckets_share_state_across_restarts(spark, tmp_path):
    """Hundreds of keys share the sequence's hash buckets: across three
    query runs on one checkpoint, every key's sequences still equal the
    batch topology's row_number over arrival, and the state holds one
    row per bucket, not one per key."""
    src = str(tmp_path / "in")
    ckpt = str(tmp_path / "ckpt")
    out_dir = str(tmp_path / "out")
    rng = random.Random(5)
    keys = [f"user-{i}" for i in range(300)]
    for run in range(3):
        _write_batch(
            src,
            f"run{run}",
            [
                json.dumps({"id": rng.choice(keys), "type": f"t{run}-{i}", "timestamp": i, "data": {}})
                for i in range(400)
            ],
        )
        q = _drain_sequenced(spark, src, ckpt, out_dir)

    batch_raw = (
        spark.read.schema("arrival long, value string")
        .options(sep="\t", quote="", escape="")
        .csv(src)
    )
    batch_processed, _ = get_output_streams(batch_raw, order_by=["arrival"])
    want = {
        (r.originalId, r.eventType): r.sequence
        for r in batch_processed.select("originalId", "eventType", "sequence").collect()
    }
    got = _sequences(spark, out_dir)
    assert len(got) == 1200
    assert got == want
    assert q.lastProgress["stateOperators"][0]["numRowsTotal"] <= N_BUCKETS


def test_error_stream_end_to_end(spark, tmp_path):
    src = str(tmp_path / "in")
    err_dir = str(tmp_path / "err")
    _write_batch(src, "b1", ["{broken", '{"id":"u","type":"t","timestamp":1,"data":{}}'])
    _drain_sequenced(spark, src, str(tmp_path / "ckpt"), str(tmp_path / "out"), err_dir)
    vals = [json.loads(r.value) for r in spark.read.text(err_dir).collect()]
    assert len(vals) == 1
    assert vals[0]["rawMessage"] == "{broken"
    assert vals[0]["errorType"] == "PARSE_ERROR"


def test_stream_dedup_drops_redeliveries_across_batches(spark, tmp_path):
    """dropDuplicatesWithinWatermark state must survive micro-batches:
    a re-delivered event id in a LATER batch (within the watermark
    horizon) is dropped; fresh ids pass."""
    from flink_tank_spark.streaming.dedup import dedup_stream

    src = str(tmp_path / "in")
    ckpt = str(tmp_path / "ckpt")
    out_dir = str(tmp_path / "out")

    def run_available(msgs, batch_name):
        _write_batch(src, batch_name, msgs)
        raw = read_jsonl_stream(spark, src)
        parsed = raw.select(
            F.get_json_object("value", "$.event_id").alias("event_id"),
            F.to_timestamp(F.get_json_object("value", "$.ts")).alias("ts"),
        )
        deduped = dedup_stream(parsed, ["event_id"], ts_col="ts", delay="1 hour")
        q = (
            deduped.select(F.to_json(F.struct("event_id", "ts")).alias("value"))
            .writeStream.format("text")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    def mk(eid, ts):
        return json.dumps({"event_id": eid, "ts": ts})

    run_available(
        [mk("e1", "2024-01-01 10:00:00"), mk("e2", "2024-01-01 10:00:05"),
         mk("e1", "2024-01-01 10:00:07")],  # same-batch duplicate
        "b1",
    )
    run_available(
        [mk("e1", "2024-01-01 10:01:00"),   # cross-batch re-delivery -> dropped
         mk("e3", "2024-01-01 10:01:30")],  # fresh -> kept
        "b2",
    )

    out = []
    for fn in os.listdir(out_dir):
        if fn.startswith("part-"):
            with open(os.path.join(out_dir, fn)) as f:
                out += [json.loads(line) for line in f if line.strip()]
    ids = sorted(e["event_id"] for e in out)
    assert ids == ["e1", "e2", "e3"]


def test_stream_stream_interval_join(spark, tmp_path):
    """Watermark-bounded stream-stream inner join: clicks attribute to a
    view of the same user within 10 minutes; out-of-window or other-user
    clicks don't match."""
    from flink_tank_spark.streaming.joins import stream_interval_join

    views_dir = str(tmp_path / "views")
    clicks_dir = str(tmp_path / "clicks")
    ckpt = str(tmp_path / "ckpt")
    out_dir = str(tmp_path / "out")

    def mk(dirpath, name, rows):
        _write_batch(dirpath, name, [json.dumps(r) for r in rows])

    mk(views_dir, "v1", [
        {"user": "u1", "view_ts": "2024-01-01 10:00:00"},
        {"user": "u2", "view_ts": "2024-01-01 10:00:00"},
    ])
    mk(clicks_dir, "c1", [
        {"user": "u1", "click_ts": "2024-01-01 10:05:00"},   # in window
        {"user": "u1", "click_ts": "2024-01-01 10:20:00"},   # too late
        {"user": "u3", "click_ts": "2024-01-01 10:01:00"},   # no view
    ])

    views = read_jsonl_stream(spark, views_dir).select(
        F.get_json_object("value", "$.user").alias("user"),
        F.to_timestamp(F.get_json_object("value", "$.view_ts")).alias("view_ts"),
    )
    clicks = read_jsonl_stream(spark, clicks_dir).select(
        F.get_json_object("value", "$.user").alias("user"),
        F.to_timestamp(F.get_json_object("value", "$.click_ts")).alias("click_ts"),
    )
    joined = stream_interval_join(
        views, clicks, key="user", left_ts="view_ts", right_ts="click_ts"
    )
    q = (
        joined.select(F.to_json(F.struct("user", "view_ts", "click_ts")).alias("value"))
        .writeStream.format("text")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    out = []
    for fn in os.listdir(out_dir):
        if fn.startswith("part-"):
            with open(os.path.join(out_dir, fn)) as f:
                out += [json.loads(line) for line in f if line.strip()]
    assert [(e["user"], e["click_ts"]) for e in out] == [("u1", "2024-01-01T10:05:00.000Z")]


def test_dual_sink_foreachbatch_routes_both_outputs(spark, tmp_path):
    """One query + one checkpoint feeding both outputs (one foreachBatch
    writer routing rows by tag): processed and error records land in
    their own sinks with the stateful sequence intact across
    micro-batches."""
    from flink_tank_spark.streaming.jobs import start_processor_query

    src = str(tmp_path / "in")
    ckpt = str(tmp_path / "ckpt")
    ok_dir = str(tmp_path / "ok")
    err_dir = str(tmp_path / "err")
    os.makedirs(ok_dir), os.makedirs(err_dir)

    def text_sink(df, batch_id):
        for r in df.collect():
            dirpath = err_dir if r.tag == TAG_ERROR else ok_dir
            with open(os.path.join(dirpath, f"b{batch_id}.jsonl"), "a") as f:
                f.write(r.value + "\n")

    def run_available(msgs, name):
        _write_batch(src, name, msgs)
        q = start_processor_query(
            read_jsonl_stream(spark, src),
            text_sink,
            ckpt,
            f"dual-{name}",
            available_now=True,
        )
        q.awaitTermination(120)

    run_available(
        ['{"id":"user-1","type":"a","timestamp":1,"data":{}}',
         "{not json",
         '{"id":"user-1","type":"b","timestamp":2,"data":{}}'],
        "b1",
    )
    run_available(
        ['{"id":"user-1","type":"c","timestamp":3,"data":{}}'],
        "b2",
    )

    def read_dir(d):
        out = []
        for fn in sorted(os.listdir(d)):
            with open(os.path.join(d, fn)) as f:
                out += [json.loads(line) for line in f if line.strip()]
        return out

    ok = read_dir(ok_dir)
    err = read_dir(err_dir)
    assert [(e["originalId"], e["sequence"]) for e in sorted(ok, key=lambda e: e["sequence"])] == [
        ("user-1", 1), ("user-1", 2), ("user-1", 3),
    ]
    assert len(err) == 1 and err[0]["rawMessage"] == "{not json"


def _mixed_events(n: int) -> list[str]:
    """n events over 20 keys, every tenth one malformed."""
    return [
        "{broken %d" % i if i % 10 == 9
        else json.dumps({"id": f"user-{i % 20}", "type": f"t{i}", "timestamp": i, "data": {}})
        for i in range(n)
    ]


def _data_batches(q) -> list[dict]:
    return [p for p in q.recentProgress if p["numInputRows"] > 0]


def test_job1_scans_source_once(spark, tmp_path):
    """Job 1 is one linear plan: its progress counts each event read
    once (a plan that forks into a valid and an error branch scans the
    source twice and reports twice the rows)."""
    src = str(tmp_path / "in")
    _write_batch(src, "b1", _mixed_events(300))
    q = _drain_sequenced(spark, src, str(tmp_path / "ckpt"), str(tmp_path / "out"))
    assert [p["numInputRows"] for p in _data_batches(q)] == [300]


def test_job1_batch_is_one_spark_job(spark, tmp_path):
    """A Job 1 data batch, both wires included, runs as exactly one
    Spark job: no persisted batch, no write per output."""
    import time

    src = str(tmp_path / "in")
    _write_batch(src, "b1", _mixed_events(300))
    q = _drain_sequenced(spark, src, str(tmp_path / "ckpt"), str(tmp_path / "out"))
    assert len(_data_batches(q)) == 1
    # a streaming query runs its jobs in the job group of its run id; the
    # status store fills from the listener bus a little after the query
    # returns, so wait until every job of the group has finished
    tracker = spark.sparkContext.statusTracker()
    deadline = time.time() + 30
    while True:
        jobs = [tracker.getJobInfo(j) for j in tracker.getJobIdsForGroup(str(q.runId))]
        if jobs and all(j and j.status == "SUCCEEDED" for j in jobs):
            break
        assert time.time() < deadline, jobs
        time.sleep(0.1)
    assert len(jobs) == 1, jobs


def test_malformed_only_batch_leaves_state_unchanged(spark, tmp_path):
    """Error rows pass the sequence operator without touching state: a
    micro-batch of only malformed rows, spread over many buckets, adds
    and updates no state row."""
    src = str(tmp_path / "in")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    _write_batch(src, "valid", [
        json.dumps({"id": f"user-{i}", "type": "a", "timestamp": i, "data": {}}) for i in range(5)
    ])
    [first] = _data_batches(_drain_sequenced(spark, src, ckpt, out))
    rows = first["stateOperators"][0]["numRowsTotal"]
    assert rows > 0
    _write_batch(src, "malformed", ["{broken %d" % i for i in range(200)])
    [second] = _data_batches(_drain_sequenced(spark, src, ckpt, out))
    state = second["stateOperators"][0]
    assert (state["numRowsTotal"], state["numRowsUpdated"]) == (rows, 0)
    assert len(spark.read.text(f"{out}-errors").collect()) == 200


def test_error_rows_do_not_shift_sequences(spark, tmp_path):
    """Malformed rows interleaved with one key's events, some of them in
    that key's bucket, leave the key's sequences 1..n in arrival order."""
    src = str(tmp_path / "in")
    out = str(tmp_path / "out")
    [k_bucket] = [r.b for r in spark.range(1).select(key_bucket(F.lit("k")).alias("b")).collect()]
    candidates = spark.createDataFrame([("{bad %d" % i,) for i in range(2_000)], "raw string")
    same = [
        r.raw for r in candidates.filter(key_bucket("raw") == k_bucket).limit(10).collect()
    ]
    assert len(same) == 10
    msgs = []
    for i in range(20):
        msgs.append(json.dumps({"id": "k", "type": f"t{i}", "timestamp": i, "data": {}}))
        msgs.append(same[i // 2] if i % 2 == 0 else "{other %d" % i)
    _write_batch(src, "b1", msgs)
    _drain_sequenced(spark, src, str(tmp_path / "ckpt"), out)
    assert _sequences(spark, out) == {("k", f"t{i}"): i + 1 for i in range(20)}
    errs = [json.loads(r.value)["rawMessage"] for r in spark.read.text(f"{out}-errors").collect()]
    assert sorted(errs) == sorted(m for m in msgs if not m.startswith('{"id"'))


def test_error_rows_spread_over_buckets(spark):
    """An error row has no key: it is bucketed by a hash of its raw
    message, not piled into the bucket of the empty id."""
    from flink_tank_spark.operators.parse import parse_tagged
    from flink_tank_spark.streaming.sequence import bucketed

    msgs = ["{broken %d" % i for i in range(500)] + ['{"type":"no-id"}']
    raw = spark.createDataFrame(list(enumerate(msgs)), "arrival long, value string")
    rows = bucketed(parse_tagged(raw)).select(
        "error", "id", "bucket", key_bucket("raw").alias("raw_bucket")
    ).collect()
    errors = [r for r in rows if r.error]
    [valid] = [r for r in rows if not r.error]
    assert len(errors) == 500 and valid.id == ""
    assert all(r.bucket == r.raw_bucket for r in errors)
    assert len({r.bucket for r in errors}) > N_BUCKETS // 2
    assert sum(r.bucket == valid.bucket for r in errors) < 50


def test_ingest_job_lands_partitioned_parquet(spark, tmp_path):
    """Ingest job: raw jsonl stream -> date-partitioned parquet with
    exactly-once file-sink semantics across restarts (second availableNow
    run must not duplicate batch-1 rows)."""
    from flink_tank_spark.jobs.ingest_job import start_ingest

    src = str(tmp_path / "raw")
    lake = str(tmp_path / "lake")
    ckpt = str(tmp_path / "ckpt")

    def run(msgs, name):
        _write_batch(src, name, msgs)
        q1, q2 = start_ingest(spark, src, lake, ckpt, once=True)
        q1.awaitTermination(120)
        q2.awaitTermination(120)

    # ts 1700000000000 -> 2023-11-14; 1700100000000 -> 2023-11-16
    run(
        ['{"id":"u1","type":"click","timestamp":1700000000000,"data":{}}',
         '{"id":"u2","type":"view","timestamp":1700200000000,"data":{}}',
         "{nope"],
        "b1",
    )
    run(
        ['{"id":"u1","type":"view","timestamp":1700000001000,"data":{}}'],
        "b2",
    )

    events = spark.read.parquet(f"{lake}/events")
    assert events.count() == 3  # no duplicates from the restart
    dates = {str(r.event_date) for r in events.select("event_date").distinct().collect()}
    assert dates == {"2023-11-14", "2023-11-17"}
    # partition pruning works on the landed layout
    pruned = events.filter(F.col("event_date") == "2023-11-14")
    assert pruned.count() == 2
    errors = spark.read.parquet(f"{lake}/errors")
    assert errors.count() == 1


def test_hll_registers_as_streaming_state(spark, tmp_path):
    """The HLL register table works as STREAMING state: max-per-register
    is an algebraic aggregate Structured Streaming maintains in its
    state store, so after any number of micro-batches the emitted
    registers (and hence estimates) are bit-identical to the batch
    sketch over all rows seen — distinct-count state stays bounded at
    groups x 256 rows no matter how many events arrive."""
    import json
    import os

    from flink_tank_spark.operators import sketch

    src, ckpt = str(tmp_path / "in"), str(tmp_path / "ck")
    os.makedirs(src)
    batch1 = [("click", f"u{i}:d1") for i in range(300)]
    batch2 = [("click", f"u{i}:d2") for i in range(200)] + [
        ("view", f"u{i}:d1") for i in range(150)
    ]

    def write_batch(rows):
        name = os.path.join(src, f"b{len(os.listdir(src))}.jsonl")
        with open(name, "w") as f:
            for et, ud in rows:
                f.write(json.dumps({"event_type": et, "user_day": ud}) + "\n")

    def run_stream():
        stream = spark.readStream.schema("event_type string, user_day string").json(src)
        q = (
            sketch.hll_registers(stream, "user_day", ["event_type"])
            .writeStream.format("memory")
            .queryName("hll_stream_regs")
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return {
            (r.event_type, r.register): r.rho
            for r in spark.table("hll_stream_regs").collect()
        }

    def batch_regs(rows):
        df = spark.createDataFrame(rows, ["event_type", "user_day"])
        return {
            (r.event_type, r.register): r.rho
            for r in sketch.hll_registers(df, "user_day", ["event_type"]).collect()
        }

    write_batch(batch1)
    assert run_stream() == batch_regs(batch1)

    # second micro-batch: the restarted query resumes from the same
    # checkpoint and only the register STATE carries history forward
    write_batch(batch2)
    streamed = run_stream()
    assert streamed == batch_regs(batch1 + batch2)
    assert len(streamed) <= 2 * 256  # bounded: groups x registers


def test_histogram_as_streaming_state(spark, tmp_path):
    """Like the HLL registers, the fixed-precision histogram is an
    algebraic aggregate (count per bin): the same fp_histogram transform
    runs on a streaming DataFrame with state bounded at groups x bins,
    and after checkpointed restarts across micro-batches the emitted
    bins equal the batch histogram over all rows seen."""
    import json
    import os

    from flink_tank_spark.operators import sketch

    src, ckpt = str(tmp_path / "in"), str(tmp_path / "ck")
    os.makedirs(src)
    batch1 = [("a", round(0.01 * (i % 50), 2)) for i in range(400)]
    batch2 = [("a", round(0.01 * (i % 30), 2)) for i in range(300)]

    def write_batch(rows):
        name = os.path.join(src, f"b{len(os.listdir(src))}.jsonl")
        with open(name, "w") as f:
            for g, v in rows:
                f.write(json.dumps({"g": g, "value": v}) + "\n")

    def run_stream():
        stream = spark.readStream.schema("g string, value double").json(src)
        q = (
            sketch.fp_histogram(stream, "value", ["g"])
            .writeStream.format("memory")
            .queryName("hist_stream")
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return {(r.g, r.bin): r.n for r in spark.table("hist_stream").collect()}

    def batch_hist(rows):
        df = spark.createDataFrame(rows, ["g", "value"])
        return {
            (r.g, r.bin): r.n
            for r in sketch.fp_histogram(df, "value", ["g"]).collect()
        }

    write_batch(batch1)
    assert run_stream() == batch_hist(batch1)
    write_batch(batch2)
    assert run_stream() == batch_hist(batch1 + batch2)
