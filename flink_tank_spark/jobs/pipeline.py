"""The full two-job streaming chain: producer wire → Job 1 → Job 2.

The reference's complete dataflow is two independently-deployed Flink
jobs chained through Kafka topics: the event processor consumes
``input-events`` and produces ``output-results`` + ``error-events``
(``EventProcessorJob.kt:50-52``), and the aggregation job consumes
``output-results`` and produces ``aggregated-metrics``
(``AggregationJob.kt:214-215``). This module is that deployment as two
checkpointed Structured Streaming queries:

- **Job 1** (:func:`start_processor_job`): wire source → parse/route →
  stateful per-key sequence → enrich → serialize, ONE linear query
  (streaming/jobs.start_processor_query — the query
  jobs/event_processor.py runs with a Kafka sink) whose sink writes the
  processed and error wires in one Spark job per micro-batch.
- **Job 2** (:func:`start_aggregation_job`): Job-1's processed output →
  lenient parse (failures silently dropped — the reference's error-path
  asymmetry, AggregationJob.kt:246-256) → timer-based sliding-window
  heartbeat aggregator (streaming/heartbeat.py) → metrics sink.

Transport: with a broker, both hops are Kafka (io/kafka.py) and the
chain is at-least-once per hop, exactly like the reference (SURVEY §7.4
pt 7). Without one, the hop is a directory of text files written by
:func:`idempotent_wire_sink` — per-micro-batch DETERMINISTIC file names,
so a replayed (uncommitted) batch rewrites the same file instead of
minting a new one. Structured Streaming's file source tracks inputs by
name, which upgrades the file hop to effectively exactly-once and makes
the chain test's parity assertion strict instead of duplicate-tolerant.
The sink lands each micro-batch as one file per wire by default —
matching the reference's operating point (≤10 msg/s out) and keeping
the name set deterministic — behind a hash shuffle, so the micro-batch
itself is still computed at full parallelism and only the text write is
single-task; a high-throughput deployment would use the Kafka hop, not
this shim.

Cadence defaults mirror the reference: 60 s checkpoint intervals
(EventProcessorJob.kt:161), 10 min window / 5 s emit (AggregationJob.kt:
53-54). Tests shrink all three to keep wall-clock short.
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession

from flink_tank_spark.io.kafka import DEFAULT_CHECKPOINT_INTERVAL, read_jsonl_stream
from flink_tank_spark.streaming.heartbeat import (
    EMIT_EVERY_MS,
    WINDOW_MS,
    sliding_metrics_heartbeat,
)
from flink_tank_spark.streaming.jobs import (
    TAG_ERROR,
    TAG_PROCESSED,
    parse_processed_events,
    serialize_metrics,
    start_processor_query,
)


def idempotent_wire_sink(processed_dir: str, errors_dir: str, fanout: int = 1):
    """foreachBatch writer of Job 1's tagged micro-batch
    (streaming/jobs.processor_stream's ``tag``, ``value`` rows): lands
    the processed values in ``processed_dir`` and the error values in
    ``errors_dir`` as deterministically-named text files, in ONE Spark
    write job. Processed rows land as ``batch-<id>.txt`` at the default
    ``fanout=1``, else as ``batch-<id>-<part>.txt`` × ``fanout``; error
    rows always as the one file ``batch-<id>.txt`` (the reference's
    error topic is low-volume by design).

    The batch is HASH-partitioned into ``fanout`` parts: a processed row
    on its value, every error row on one shared null key, so all error
    rows meet in one part. The shuffle is a stage boundary: the stage
    that computes the micro-batch (in Job 1 the stateful sequence and
    serialization) always runs one task per input partition, and
    ``fanout`` only sets how many tasks write the text. Coalescing to
    one partition instead would be a narrow dependency, folding that
    whole upstream stage into the one writer task. Each part is sorted
    by tag and value and written partitioned by tag, so a part holds
    one file per tag. Hash partitioning and the sort are pure functions
    of content, so a replayed batch reproduces byte-identical files
    (round-robin repartition would not), and each non-empty part lands
    under a name derived from its partition index.

    Replay safety (the foreachBatch idempotency contract from the Spark
    docs, keyed on ``batch_id``): the batch is written distributed to a
    scratch dir, then each part file is renamed over its final name — a
    same-filesystem atomic replace PER FILE. Atomicity is per-file, not
    per-batch: a crash mid-loop can expose a PARTIAL batch to the
    downstream file source (the processed files without the error file,
    or some of ``fanout`` parts). Exactly-once still holds: names and
    contents are pure functions of batch content, a replayed batch
    reproduces the same row set (its input files and rolled-back state
    are the same) and so re-lands byte-identical files, completing the
    set — and downstream file sources, which track files by NAME, never
    double-read the already-landed ones.

    DEPLOYMENT CONSTRAINT: the rename runs DRIVER-side with ``os``
    calls, so both paths must be on one POSIX filesystem visible to the
    driver and every executor — local mode (this repo's test/bench
    setup) or a shared mount (NFS). It is NOT valid for object-store
    paths (s3a://, gs://, …); a real cluster uses the Kafka hop
    (io/kafka.py), not this shim. Guarded two ways below: URI schemes
    are rejected up front, and a scratch dir the driver cannot see
    (executors wrote to non-shared storage) fails loudly instead of
    silently landing nothing.
    """
    for dirpath in (processed_dir, errors_dir):
        for prefix in ("s3://", "s3a://", "s3n://", "gs://", "abfs://",
                       "abfss://", "wasb://", "hdfs://"):
            if dirpath.startswith(prefix):
                raise ValueError(
                    f"idempotent_wire_sink requires a driver-visible POSIX path, "
                    f"got {dirpath!r}; use the Kafka hop (io/kafka.py) on a cluster"
                )
        os.makedirs(dirpath, exist_ok=True)

    from pyspark.sql import functions as F

    is_processed = F.col("tag") == TAG_PROCESSED

    def write(df: DataFrame, batch_id: int) -> None:
        # the file source skips `_`-prefixed names, so Job 2 never lists it
        scratch = os.path.join(processed_dir, f"_scratch-{uuid.uuid4().hex}")
        shaped = df.repartition(fanout, F.when(is_processed, F.col("value")))
        shaped.sortWithinPartitions("tag", "value").write.partitionBy("tag").text(scratch)
        if not os.path.isdir(scratch):
            raise RuntimeError(
                f"executors wrote {scratch!r} but the driver cannot see it: "
                "idempotent_wire_sink needs a shared POSIX filesystem "
                "(local mode or NFS); use the Kafka hop on a real cluster"
            )
        for tag, dirpath in ((TAG_PROCESSED, processed_dir), (TAG_ERROR, errors_dir)):
            tag_dir = os.path.join(scratch, f"tag={tag}")
            if not os.path.isdir(tag_dir):
                continue
            # Spark names task outputs part-NNNNN-...; NNNNN is the
            # partition index, which is content-deterministic under hash
            # partitioning, so a replayed batch reproduces the identical
            # final-name set. Empty parts are not landed.
            for p in sorted(os.listdir(tag_dir)):
                src = os.path.join(tag_dir, p)
                if not p.startswith("part-") or os.path.getsize(src) == 0:
                    continue
                idx = int(p.split("-")[1])
                final = (
                    f"batch-{batch_id:08d}-{idx:04d}.txt"
                    if tag == TAG_PROCESSED and fanout > 1
                    else f"batch-{batch_id:08d}.txt"
                )
                os.replace(src, os.path.join(dirpath, final))
        shutil.rmtree(scratch)

    return write


def start_processor_job(
    spark: SparkSession,
    source_dir: str,
    processed_dir: str,
    errors_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = None,
    trigger_interval: str | None = DEFAULT_CHECKPOINT_INTERVAL,
    available_now: bool = False,
    wire_fanout: int = 1,
):
    """Job 1 over the file wire: one checkpointed query whose sink writes
    both wires in one job.

    The micro-batch is computed at full parallelism whatever the
    fanout; ``wire_fanout`` > 1 only splits the processed-side text
    write into that many files (see idempotent_wire_sink). Errors stay
    single-file.
    """
    return start_processor_query(
        read_jsonl_stream(spark, source_dir, max_files_per_trigger),
        idempotent_wire_sink(processed_dir, errors_dir, fanout=wire_fanout),
        checkpoint_dir,
        "processor-job",
        trigger_interval=trigger_interval,
        available_now=available_now,
    )


def start_aggregation_job(
    spark: SparkSession,
    processed_dir: str,
    metrics_dir: str,
    checkpoint_dir: str,
    window_ms: int = WINDOW_MS,
    emit_every_ms: int = EMIT_EVERY_MS,
    trigger_interval: str | None = None,
    max_files_per_trigger: int | None = None,
    event_time: bool = False,
    watermark: str = "1 minute",
):
    """Job 2 over the file wire: parse → sliding aggregation → metrics
    file sink.

    Two aggregation modes, selectable per deployment:

    - **heartbeat** (default): the reference-parity PROCESSING-TIME
      aggregator (streaming/heartbeat.py) — emits every ``emit_every_ms``
      including zero-count heartbeats, timers aligned like
      AggregationJob.kt. State is bounded by the window length.
    - **event_time=True**: the idiomatic Structured Streaming form the
      reference's own docs name as the alternative (AggregationJob.kt:
      30-46 discusses event-time windows): watermark + built-in
      ``window()`` in APPEND mode — each window emits exactly once when
      the watermark passes it, late events beyond ``watermark`` are
      dropped, and closed-window state is EVICTED (the property that
      bounds state at 100 TB). The event time is the ORIGINAL event's
      epoch-millis timestamp, which Job-1's enrichment spliced into
      ``enrichedData.original_timestamp`` (operators/enrich.py) — the
      only place the reference's ProcessedEvent carries it
      (Events.kt:10-17 has no event-time field).

    The metrics sink is Structured Streaming's native text sink —
    manifest-committed per micro-batch, so readers see each metric
    exactly once across restarts of THIS query.
    """
    from pyspark.sql import functions as F

    from flink_tank_spark.operators.aggregate import sliding_metrics_watermarked

    os.makedirs(processed_dir, exist_ok=True)  # source dir may not exist yet
    reader = spark.readStream
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    raw = reader.text(processed_dir)
    parsed = parse_processed_events(raw)
    if event_time:
        ev_ts = F.timestamp_millis(
            F.get_json_object("enrichedData", "$.original_timestamp").cast("long")
        )
        # explicit malformed-row policy (mirrors the parse path's
        # corrupt-record filter): a NULL eventTime would land in a null
        # window group that never crosses the watermark in append mode —
        # silently never emitted, state never evicted. Drop it up front.
        metrics = sliding_metrics_watermarked(
            parsed.withColumn("eventTime", ev_ts).filter(ev_ts.isNotNull()),
            window_size=f"{window_ms} milliseconds",
            slide=f"{emit_every_ms} milliseconds",
            watermark=watermark,
        )
        out_mode = "append"
    else:
        metrics = sliding_metrics_heartbeat(
            parsed, window_ms=window_ms, emit_every_ms=emit_every_ms
        )
        out_mode = "append"
    writer = (
        serialize_metrics(metrics)
        .writeStream.format("text")
        .outputMode(out_mode)
        .option("path", metrics_dir)
        .option("checkpointLocation", checkpoint_dir)
        .queryName("aggregation-job")
    )
    if trigger_interval:
        writer = writer.trigger(processingTime=trigger_interval)
    return writer.start()


def main(argv: list[str] | None = None) -> None:
    """Run the whole chain (both jobs, one driver) over the file wire.

    The reference deploys the two jobs separately (two Flink clusters);
    with a broker, deploy jobs/event_processor.py (the same Job-1 query
    with Kafka sinks) and jobs/aggregation.py (the same heartbeat
    aggregator) the same way. This entrypoint is the broker-less
    single-driver form — the two checkpointed queries the chain test
    kills/restarts.
    """
    import argparse

    from flink_tank_spark.session import get_spark

    ap = argparse.ArgumentParser(description="Two-job streaming chain (file wire)")
    ap.add_argument("--source", required=True, help="wire-format input dir")
    ap.add_argument("--out", required=True, help="output root (processed/errors/metrics)")
    ap.add_argument("--checkpoint-dir", required=True)
    ap.add_argument("--trigger", default=DEFAULT_CHECKPOINT_INTERVAL)
    ap.add_argument(
        "--event-time",
        action="store_true",
        help="Job 2 uses watermarked event-time windows (append mode) "
        "instead of the processing-time heartbeat",
    )
    ap.add_argument(
        "--wire-fanout",
        type=int,
        default=1,
        help="files per Job-1 micro-batch on the processed wire; the "
        "batch is computed at full parallelism either way, this only "
        "splits the text write",
    )
    args = ap.parse_args(argv)

    spark = get_spark("pipeline")
    q1 = start_processor_job(
        spark,
        args.source,
        f"{args.out}/processed",
        f"{args.out}/errors",
        f"{args.checkpoint_dir}/job1",
        trigger_interval=args.trigger,
        wire_fanout=args.wire_fanout,
    )
    q2 = start_aggregation_job(
        spark,
        f"{args.out}/processed",
        f"{args.out}/metrics",
        f"{args.checkpoint_dir}/job2",
        trigger_interval=args.trigger,
        event_time=args.event_time,
    )
    q1.awaitTermination()
    q2.awaitTermination()


if __name__ == "__main__":
    main()
