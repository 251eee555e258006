"""get_spark under spark-submit keeps the launcher's conf.

The k8s manifests size a run through spark-submit (master, executors,
shuffle partitions, ``spark.checkpoint.dir``); a session factory that
overrides them runs every deployed job in local mode in its driver
pod. This submits a probe that calls ``get_spark(cpus=2)`` and checks
that the launcher's master and shuffle partitions win, that the local
scan sizing is left out, and that the engine-semantics keys are still
set. One JVM, about 10 s, offline.
"""

from __future__ import annotations

import json

ENGINE = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.python.daemon.module": "flink_tank_spark.spark_daemon",
    "spark.sql.streaming.stateStore.providerClass":
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
}

_PROBE = """
    import json, sys
    from flink_tank_spark.session import get_spark

    spark = get_spark(cpus=2)
    keys = ["spark.master", "spark.sql.shuffle.partitions",
            "spark.sql.files.maxPartitionBytes", *json.loads(sys.argv[1])]
    out = {k: spark.conf.get(k, None) for k in keys}
    out["set:spark.sql.files.maxPartitionBytes"] = (
        spark.sparkContext.getConf().contains("spark.sql.files.maxPartitionBytes"))
    spark.stop()
    print("CONF:" + json.dumps(out))
"""


def test_spark_submit_conf_wins_and_engine_conf_stays(spark_submit, tmp_path):
    stdout = spark_submit(
        _PROBE,
        "local[1]",
        {"spark.sql.shuffle.partitions": "6",
         "spark.checkpoint.dir": str(tmp_path / "ckpt")},
        json.dumps(list(ENGINE)),
    )
    line = [ln for ln in stdout.splitlines() if ln.startswith("CONF:")]
    assert line, stdout[-2000:]
    conf = json.loads(line[0][5:])
    assert conf["spark.master"] == "local[1]"
    assert conf["spark.sql.shuffle.partitions"] == "6"
    # Spark's 128 MB default, not the local 4 MB split size
    assert not conf["set:spark.sql.files.maxPartitionBytes"]
    assert conf["spark.sql.files.maxPartitionBytes"] != str(4 * 1024 * 1024)
    assert {k: conf[k] for k in ENGINE} == ENGINE
