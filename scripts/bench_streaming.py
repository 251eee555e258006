"""Streaming ingest throughput bench: events/sec through the landing job.

The reference's streaming surface is configured at 2 events/sec in and
<=10 messages/sec out (EventProducer.kt; BASELINE.md documents that no
other number is published), so the meaningful engine number is the
CAPACITY of the identical topology: wire-format JSON lines -> lenient
parse/route (operators/parse.py) -> date-partitioned parquet lake with
exactly-once file-sink commits (jobs/ingest_job.py) — the same code
paths the crash-recovery test kills and restarts (tests/test_recovery.py).

Method: serialize the events table into the wire format once (N files so
micro-batches parallelize), then drain it with trigger(availableNow)
through start_ingest and time start->termination. That includes ALL of:
source listing, JSON parse, validity routing, partitioned parquet
commit, checkpoint/transaction-log writes. Prints ONE JSON line.

Usage:
    python scripts/bench_streaming.py [sf_dir] [cpus]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
    )
    cpus = int(sys.argv[2]) if len(sys.argv) > 2 else int(
        os.environ.get("SPARK_GRAFT_CPUS", "32")
    )

    from pyspark.sql import functions as F

    from flink_tank_spark.session import get_spark

    spark = get_spark("bench-streaming", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")

    from flink_tank_spark.jobs.ingest_job import start_ingest
    from flink_tank_spark.plans.streaming_batch import _events_as_wire

    work = tempfile.mkdtemp(prefix="stream-bench-")
    src, lake, chk = (os.path.join(work, d) for d in ("src", "lake", "chk"))
    try:
        # wire-format corpus: one text line per event, spread over cpus
        # files so the availableNow drain parallelizes like a backlogged
        # topic with cpus partitions
        wire = _events_as_wire(spark, sf_dir)
        n_events = wire.count()
        (
            wire.select(
                F.concat_ws("\t", F.col("arrival").cast("string"), F.col("value"))
            )
            .repartition(cpus)
            .write.mode("overwrite")
            .text(src)
        )

        t0 = time.perf_counter()
        q1, q2 = start_ingest(spark, src, lake, chk, once=True)
        q1.awaitTermination()
        q2.awaitTermination()
        wall = time.perf_counter() - t0

        landed = spark.read.parquet(os.path.join(lake, "events")).count()

        # Job-1 processor topology: parse/route -> STATEFUL per-key
        # sequence -> serialize, one checkpointed query feeding both
        # sinks (the reference's EventProcessorJob shape). Slower than
        # raw ingest by design: every event crosses the Python stateful
        # operator.
        from flink_tank_spark.io.kafka import read_jsonl_stream
        from flink_tank_spark.streaming.jobs import start_processor_query

        from flink_tank_spark.streaming.jobs import TAG_PROCESSED

        out_dir, chk2 = (os.path.join(work, d) for d in ("job1-out", "chk2"))
        ok_dir = os.path.join(out_dir, f"tag={TAG_PROCESSED}")

        def parquet_sink(df, batch_id):
            df.write.mode("append").partitionBy("tag").parquet(out_dir)

        t0 = time.perf_counter()
        q = start_processor_query(
            read_jsonl_stream(spark, src),
            parquet_sink,
            chk2,
            "bench-processor",
            available_now=True,
        )
        q.awaitTermination()
        proc_wall = time.perf_counter() - t0
        processed = spark.read.parquet(ok_dir).count()

        # Job-2 aggregator topology: ProcessedEvent JSON -> lenient parse
        # -> timer-based sliding heartbeat (streaming/heartbeat.py), the
        # reference's AggregationJob. Two key cardinalities: 50 (the
        # reference's user pool, EventProducer.kt:20) and 50k (state-
        # scale: every key's window, held in its bucket's state row).
        # Reference cadence: 10 min window / 5 s emit, so a multi-second
        # drain fires real timers.
        from flink_tank_spark.streaming.heartbeat import sliding_metrics_heartbeat
        from flink_tank_spark.streaming.jobs import (
            parse_processed_events,
            serialize_processed,
        )
        from flink_tank_spark.streaming.sequence import key_bucket

        pe = parse_processed_events(spark.read.parquet(ok_dir))
        job2 = {}
        job2_ok = True
        # Every case runs the session's RocksDB state store. The 1M-key
        # case is the state-SCALE soak: per-event-unique keys (full
        # hash, no pool fold); at small SFs the actual key count is
        # bounded by the event count and reported as expected_keys.
        for n_keys in (50, 50_000, 1_000_000):
            src2 = os.path.join(work, f"job2-src-{n_keys}")
            chk3 = os.path.join(work, f"chk3-{n_keys}")
            key_col = (
                F.xxhash64("originalId", "sequence").cast("string")
                if n_keys >= 1_000_000
                else F.pmod(
                    F.xxhash64("originalId", "sequence"), F.lit(n_keys)
                ).cast("string")
            )
            remapped = pe.withColumn(
                "originalId", F.concat(F.lit("k"), key_col)
            )
            serialize_processed(remapped).repartition(cpus).write.mode(
                "overwrite"
            ).text(src2)
            # hash remap leaves some of the n_keys pool unused (and at
            # small SFs processed < n_keys): the state plateau target is
            # the ACTUAL distinct key count's buckets, computed batch-side
            expect_keys = remapped.select("originalId").distinct().count()
            expect_rows = (
                remapped.select(key_bucket("originalId")).distinct().count()
            )

            raw2 = (
                spark.readStream.option("maxFilesPerTrigger", str(cpus))
                .text(src2)
            )
            metrics = sliding_metrics_heartbeat(
                parse_processed_events(raw2),
                window_ms=600_000,
                emit_every_ms=5_000,
            )
            # availableNow can NEVER terminate this query: the heartbeat
            # re-registers a processing-time timer while its window is
            # non-empty (activity-based heartbeat; window 10 min), so
            # timer-only micro-batches continue after the source drains.
            # Bound the run by polling progress until every input row is
            # committed, then stop — wall measures the DATA path (the
            # throughput question) plus whatever timers fired during it.
            t0 = time.perf_counter()
            q = (
                metrics.writeStream.format("noop")
                .option("checkpointLocation", chk3)
                .queryName(f"bench-aggregator-{n_keys}")
                .start()
            )
            state_rows = None
            deadline = time.time() + 600
            drained_at = None
            # latch per-batch input rows: recentProgress is a ring
            # buffer (~100 entries), so a bare sum() undercounts once a
            # long run (or the heartbeat's timer-only batches) evicts
            # early data batches
            batch_rows: dict[int, int] = {}
            while time.time() < deadline:
                for p in q.recentProgress:
                    batch_rows[p["batchId"]] = p["numInputRows"]
                seen = sum(batch_rows.values())
                p = q.lastProgress
                if p and p.get("stateOperators"):
                    state_rows = p["stateOperators"][0]["numRowsTotal"]
                if seen >= processed and drained_at is None:
                    drained_at = time.perf_counter()
                if drained_at is not None and state_rows == expect_rows:
                    break
                time.sleep(0.2)
            q.stop()
            q.awaitTermination(60)
            j2_wall = (drained_at or time.perf_counter()) - t0
            job2[f"keys{n_keys}"] = {
                "events_per_sec": round(processed / j2_wall, 1),
                "wall_sec": round(j2_wall, 2),
                "state_rows": state_rows,
                "expected_rows": expect_rows,
                "expected_keys": expect_keys,
            }
            job2_ok = job2_ok and state_rows == expect_rows

        # Chained two-job dataflow (jobs/pipeline.py): Job-1 drains the
        # wire while Job-2 concurrently consumes Job-1's output and runs
        # the heartbeat — the reference's full deployment as one number.
        # Includes the file-wire shim's deterministic-name write (the
        # determinism trade documented in pipeline.py); the Kafka hop
        # would parallelize the sink.
        from flink_tank_spark.jobs.pipeline import (
            start_aggregation_job,
            start_processor_job,
        )

        proc_c, err_c, met_c, chk_c1, chk_c2 = (
            os.path.join(work, d)
            for d in ("chain-ok", "chain-err", "chain-metrics", "chain-chk1", "chain-chk2")
        )
        # Chain tuning: the wire sink shapes each batch behind a hash
        # shuffle, so Job-1's micro-batch (scan, parse, stateful
        # sequence, enrich) runs at full parallelism at any fanout — a
        # coalesce(1) there would fold that whole stage into one task.
        # wire_fanout only splits the text write across tasks, with
        # content-deterministic file names. Measured knob grid at sf1:
        # fanout 8 / single availableNow batch = 90.5k ev/s; fanout 16
        # ≈ same (87.7k); splitting the drain into micro-batches so
        # Job-2 overlaps LOSES (fanout 8 / 16-file triggers = 69.7k,
        # 4-file = 29.3k): each extra Job-1 micro-batch pays a stateful
        # state-store load/commit + plan startup that outweighs the
        # overlap, so the backlogged drain runs as ONE batch.
        t0 = time.perf_counter()
        q1 = start_processor_job(
            spark, src, proc_c, err_c, chk_c1, available_now=True,
            wire_fanout=max(2, cpus // 4),
        )
        q2 = start_aggregation_job(
            spark, proc_c, met_c, chk_c2,
            window_ms=600_000, emit_every_ms=5_000,
            trigger_interval="1 second",
        )
        # deadline-bounded like every other phase: a hung availableNow
        # Job-1 must fail the bench, not hang it (and the Job-2 deadline
        # below must actually start)
        if not q1.awaitTermination(900):
            q1.stop()
            q2.stop()
            print(json.dumps({"error": "chain Job-1 exceeded 900s deadline"}))
            return 1
        chain_done = None
        deadline = time.time() + 900
        chain_batch_rows: dict[int, int] = {}
        while time.time() < deadline:
            for p in q2.recentProgress:
                chain_batch_rows[p["batchId"]] = p["numInputRows"]
            seen = sum(chain_batch_rows.values())
            if seen >= processed:
                chain_done = time.perf_counter()
                break
            time.sleep(0.2)
        q2.stop()
        q2.awaitTermination(60)
        chain_wall = (chain_done or time.perf_counter()) - t0

        out = {
            "metric": "streaming_ingest_throughput",
            "value": round(landed / wall, 1),
            "unit": "events/sec",
            "events": landed,
            "sent": n_events,
            "wall_sec": round(wall, 2),
            "processor_events_per_sec": round(processed / proc_wall, 1),
            "processor_events": processed,
            "processor_wall_sec": round(proc_wall, 2),
            "job2_heartbeat": job2,
            "chain_events_per_sec": round(processed / chain_wall, 1),
            "chain_wall_sec": round(chain_wall, 2),
            "sf": sf_dir.rstrip("/").rsplit("sf", 1)[-1],
            "cpus": cpus,
        }
        print(json.dumps(out))
        return (
            0
            if landed == n_events
            and processed == n_events
            and job2_ok
            and chain_done is not None
            else 1
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    raise SystemExit(main())
