"""Job 1 entrypoint: Kafka → parse/route/enrich → Kafka (+ error topic).

Mirrors the reference job's config surface (``EventProcessorJob.kt:48-53``
ParameterTool args; K8s wiring ``k8s/flink/event-processor-job.yaml:27-38``)
on Structured Streaming: ONE query with one checkpoint writes both
topics in one Kafka write per micro-batch (streaming/jobs.start_processor_query
with io/kafka.kafka_batch_sink routing each row by its tag), as the
reference's one job does (EventProcessorJob.kt:65-74, wired at
:173-174). A replayed micro-batch re-sends its records, so delivery is
at-least-once like the reference (SURVEY §2.2).

Usage:
    spark-submit -m event_processor \\
        --brokers kafka:9092 --input-topic input-events \\
        --output-topic output-results --error-topic error-events \\
        --checkpoint-dir /chk/event-processor
"""

from __future__ import annotations

import argparse

from flink_tank_spark.io.kafka import (
    DEFAULT_CHECKPOINT_INTERVAL,
    kafka_batch_sink,
    read_kafka_stream,
)
from flink_tank_spark.session import get_spark
from flink_tank_spark.streaming.jobs import (
    TAG_ERROR,
    TAG_PROCESSED,
    start_processor_query,
)

# Records per micro-batch at most. A fresh checkpoint starts at
# `earliest`, and uncapped its first batch is the whole retained topic:
# about 1.2 M events at the producer's 2 events/s and 7-day retention,
# which took 31.8-45.7 s of add-batch in one batch over 50 keys
# (streaming/sequence.py). At this cap a backlog drains at up to
# 100,000 records per 60-s trigger, about 800 times the producer's rate,
# while a batch holds 1/12 of that backlog. Steady state (120 records a
# trigger) never reaches it.
MAX_OFFSETS_PER_TRIGGER = 100_000


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description="Event Processor Job (Spark)")
    ap.add_argument("--brokers", default="localhost:9092")
    ap.add_argument("--input-topic", default="input-events")
    ap.add_argument("--output-topic", default="output-results")
    ap.add_argument("--error-topic", default="error-events")
    ap.add_argument("--checkpoint-dir", required=True)
    # 60 s micro-batch cadence = the reference's checkpoint interval
    # (EventProcessorJob.kt:161); each micro-batch commit checkpoints,
    # so the trigger interval IS the at-least-once commit cadence.
    ap.add_argument("--trigger-interval", default=DEFAULT_CHECKPOINT_INTERVAL)
    args = ap.parse_args(argv)

    spark = get_spark("event-processor")
    q = start_processor_query(
        read_kafka_stream(
            spark, args.brokers, args.input_topic,
            max_offsets_per_trigger=MAX_OFFSETS_PER_TRIGGER,
        ),
        kafka_batch_sink(
            args.brokers, {TAG_PROCESSED: args.output_topic, TAG_ERROR: args.error_topic}
        ),
        # the subdirectory every one-query shape has used: a checkpoint
        # of an older shape fails loudly at start instead of being
        # skipped for a fresh one, which would restart the sequences
        f"{args.checkpoint_dir}/dual",
        "event-processor",
        trigger_interval=args.trigger_interval,
    )
    q.awaitTermination()


if __name__ == "__main__":
    main()
