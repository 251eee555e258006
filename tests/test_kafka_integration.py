"""Real-broker end-to-end smoke for the Kafka path (S1/S2 + K1/K2).

Mirrors the reference's manual E2E (jobs/flink-job/README.md:93-117):
produce the synthetic mix (valid + malformed) to an input topic, run the
Job-1 topology (parse/route/sequence/enrich) Kafka→Kafka, then assert
both output topics hold the expected record shapes.

Gated, not mocked: requires (a) the spark-sql-kafka connector jar on the
session classpath and (b) a reachable broker named by
``SPARK_GRAFT_KAFKA_BOOTSTRAP`` (e.g. ``localhost:9092`` from
``docker run -p 9092:9092 apache/kafka``). Skips cleanly otherwise, so
the default offline suite stays green.
"""

from __future__ import annotations

import json
import os
import uuid

import pytest
from pyspark.sql import functions as F

from flink_tank_spark.io.kafka import kafka_available, kafka_batch_sink, read_kafka_stream
from flink_tank_spark.producer import generate_messages
from flink_tank_spark.streaming.jobs import TAG_ERROR, TAG_PROCESSED, start_processor_query

BOOTSTRAP = os.environ.get("SPARK_GRAFT_KAFKA_BOOTSTRAP")


def _require_kafka(spark):
    if not BOOTSTRAP:
        pytest.skip("no broker configured (set SPARK_GRAFT_KAFKA_BOOTSTRAP=host:port)")
    if not kafka_available(spark):
        pytest.skip("spark-sql-kafka connector jar not on the session classpath")


def test_job1_kafka_to_kafka_end_to_end(spark, tmp_path):
    _require_kafka(spark)
    run = uuid.uuid4().hex[:8]
    in_topic, out_topic, err_topic = (f"sgt-in-{run}", f"sgt-out-{run}", f"sgt-err-{run}")

    n = 200
    msgs = list(generate_messages(n, seed=7))
    n_malformed = sum(1 for k, _ in msgs if k is None)
    # Batch produce through the same connector (no extra client library).
    (
        spark.createDataFrame(msgs, ["key", "value"])
        .write.format("kafka")
        .option("kafka.bootstrap.servers", BOOTSTRAP)
        .option("topic", in_topic)
        .save()
    )

    # the deployed shape (jobs/event_processor.py): one query, one
    # checkpoint, both topics written in one write per micro-batch
    q = start_processor_query(
        read_kafka_stream(spark, BOOTSTRAP, in_topic),
        kafka_batch_sink(BOOTSTRAP, {TAG_PROCESSED: out_topic, TAG_ERROR: err_topic}),
        str(tmp_path / "chk"),
        f"e2e-processor-{run}",
        available_now=True,
    )
    q.awaitTermination(120)

    def read_topic(topic):
        return [
            json.loads(r.v)
            for r in spark.read.format("kafka")
            .option("kafka.bootstrap.servers", BOOTSTRAP)
            .option("subscribe", topic)
            .option("startingOffsets", "earliest")
            .load()
            .select(F.col("value").cast("string").alias("v"))
            .collect()
        ]

    out = read_topic(out_topic)
    err = read_topic(err_topic)
    # routing: every valid event enriched to the output topic, every
    # malformed line to the error topic — nothing lost, nothing crossed
    assert len(out) == n - n_malformed
    assert len(err) == n_malformed
    assert all("sequence" in e and "enrichedData" in e for e in out)
    assert all("errorType" in e and "rawMessage" in e for e in err)
    # per-key sequences are a dense 1..n_k (ValueState parity, P2)
    by_key: dict[str, set[int]] = {}
    for e in out:
        by_key.setdefault(e["originalId"], set()).add(e["sequence"])
    for key, seqs in by_key.items():
        assert seqs == set(range(1, len(seqs) + 1)), key
