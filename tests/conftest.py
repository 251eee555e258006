from __future__ import annotations

import os

import pytest

SF_SMALL = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
SF_ORACLE = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark():
    from flink_tank_spark.session import get_spark

    # The session default heap (16g) lets the one long-lived test JVM
    # grow past the RAM of a 16 GB host over a full run, where the host
    # OOM killer ends it mid-suite; the test tables need far less.
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "6g")
    s = get_spark("flink_tank_spark-tests", cpus=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_SMALL


@pytest.fixture(scope="session")
def oracle_sf_dir() -> str:
    return SF_ORACLE


@pytest.fixture
def cluster_mode(spark, tmp_path, monkeypatch):
    """Run plans/shared.py in cluster mode on the local test session:
    its master check is forced to "not local" and the session gets a
    fresh checkpoint dir, so cuts are reliable checkpoints and stages
    are parquet. Yields the checkpoint dir. Afterwards the mode check
    and the session's previous checkpoint dir are restored, and the
    stages built meanwhile are dropped."""
    from flink_tank_spark.plans import shared

    jsc = spark.sparkContext._jsc.sc()
    prev_dir = jsc.checkpointDir()
    ckpt = tmp_path / "ckpt"
    monkeypatch.setattr(shared, "_is_local", lambda master: False)
    spark.sparkContext.setCheckpointDir(str(ckpt))
    shared.clear(spark)
    yield ckpt
    shared.clear(spark)
    getattr(jsc, "checkpointDir_$eq")(prev_dir)
