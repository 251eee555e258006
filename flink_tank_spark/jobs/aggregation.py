"""Job 2 entrypoint: Kafka → sliding-window metrics → Kafka.

Mirrors the reference's aggregation job (``AggregationJob.kt:208-275``:
args at :212-216, topology at :244-271) with exact reference parity: the
always-emit 5-s cadence with zero-count records (streaming/heartbeat.py).
The watermarked event-time alternative runs over the file wire
(jobs/pipeline.start_aggregation_job ``event_time=True``).
"""

from __future__ import annotations

import argparse

from flink_tank_spark.io.kafka import read_kafka_stream, write_kafka_stream
from flink_tank_spark.session import get_spark
from flink_tank_spark.streaming.heartbeat import sliding_metrics_heartbeat
from flink_tank_spark.streaming.jobs import parse_processed_events, serialize_metrics


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description="Aggregation Job (Spark)")
    ap.add_argument("--brokers", default="localhost:9092")
    ap.add_argument("--input-topic", default="output-results")
    ap.add_argument("--output-topic", default="aggregated-metrics")
    ap.add_argument("--checkpoint-dir", required=True)
    # Micro-batch cadence. In Spark each micro-batch commit checkpoints,
    # so the trigger interval IS the checkpoint cadence. The heartbeat
    # must micro-batch fast enough to fire its 5 s processing-time
    # timers, so it defaults to no fixed trigger (back-to-back batches).
    ap.add_argument("--trigger-interval", default=None)
    args = ap.parse_args(argv)

    spark = get_spark("aggregation")
    raw = read_kafka_stream(spark, args.brokers, args.input_topic)
    metrics = sliding_metrics_heartbeat(parse_processed_events(raw))

    q = write_kafka_stream(
        serialize_metrics(metrics),
        args.brokers,
        args.output_topic,
        f"{args.checkpoint_dir}/metrics",
        "aggregation-metrics",
        trigger_interval=args.trigger_interval,
    )
    q.awaitTermination()


if __name__ == "__main__":
    main()
