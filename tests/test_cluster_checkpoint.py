"""Exercise connected_components' cluster path for real.

Under any master other than ``local``/``local[...]``, plans/shared.cut
swaps ``localCheckpoint`` (executor-storage truncation, lost on executor
failure) for reliable ``checkpoint()`` into ``spark.checkpoint.dir`` —
the branch a cluster deployment runs. No flag selects it: this runs it
under ``local-cluster[2,1,*]`` — Spark's real multi-process cluster harness: a standalone master plus
2 separate worker JVMs with 1 core each, so data genuinely crosses
process boundaries through the reliable checkpoint files — and asserts
the labels are identical to the plain local-mode run.

Runs as a spark-submit SUBPROCESS, the way the k8s manifests launch
the jobs: the launcher sets the master and ``spark.checkpoint.dir``
and the driver takes its session from ``get_spark``, so this is the
jobs' real session path. (The pytest session owns a long-lived
local-mode SparkSession; a second master in-process would either be
rejected or clobber it.) ~40 s of cluster spin-up, so env-gated like
the sf0.1 parity suite (SPARK_GRAFT_SLOW_TESTS=1 enables; `make
slow-parity` sets it).
"""

from __future__ import annotations

import json
import os

import pytest

# chain 0-1-2-3-4 (multi-hop propagation), clique {10,11,12}, pair {20,21}
PAIRS = [(0, 1), (1, 2), (2, 3), (3, 4), (10, 11), (10, 12), (11, 12), (20, 21)]
EXPECTED = {0: 0, 1: 0, 2: 0, 3: 0, 4: 0, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}

_DRIVER = """
    import json, os, sys
    from flink_tank_spark.operators.dedup import connected_components
    from flink_tank_spark.session import get_spark

    pairs, ckpt_dir = json.loads(sys.argv[1]), sys.argv[2]
    spark = get_spark("cc-reliable-ckpt")
    spark.sparkContext.setLogLevel("ERROR")
    df = spark.createDataFrame(pairs, ["id_a", "id_b"])
    labels = {r.doc_id: r.canon_id for r in connected_components(df).collect()}
    n_files = sum(len(fs) for _, _, fs in os.walk(ckpt_dir))
    spark.stop()
    print("CKPT_FILES:" + str(n_files))
    print("LABELS:" + json.dumps(labels))
"""


@pytest.mark.skipif(
    not os.environ.get("SPARK_GRAFT_SLOW_TESTS"),
    reason="local-cluster spin-up is slow; set SPARK_GRAFT_SLOW_TESTS=1",
)
def test_cluster_master_labels_match_local_mode(spark, spark_submit, tmp_path):
    ckpt_dir = str(tmp_path / "ckpt")
    stdout = spark_submit(
        _DRIVER,
        "local-cluster[2,1,1024]",
        {"spark.checkpoint.dir": ckpt_dir, "spark.sql.shuffle.partitions": "4"},
        json.dumps(PAIRS),
        ckpt_dir,
    )
    line = [ln for ln in stdout.splitlines() if ln.startswith("LABELS:")]
    assert line, stdout[-2000:]
    cluster_labels = {int(k): v for k, v in json.loads(line[0][7:]).items()}
    assert cluster_labels == EXPECTED
    files = [ln for ln in stdout.splitlines() if ln.startswith("CKPT_FILES:")]
    assert int(files[0][11:]) > 0, "the cluster master must take the reliable path"

    # same graph through the default local path on the session fixture
    from flink_tank_spark.operators.dedup import connected_components

    df = spark.createDataFrame(PAIRS, ["id_a", "id_b"])
    local_labels = {r.doc_id: r.canon_id for r in connected_components(df).collect()}
    assert local_labels == cluster_labels
