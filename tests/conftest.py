from __future__ import annotations

import os
import subprocess
import sys
import textwrap

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


@pytest.fixture
def spark_submit(tmp_path):
    """Run a Python driver under spark-submit, the way the k8s manifests
    launch the jobs: ``run(source, master, conf, *args)`` submits
    ``source`` with ``--master master`` and a ``--conf`` per item of
    ``conf``, asserts it exits 0 and returns its stdout. Executors
    inherit PYTHONPATH, so their workers find the package and its
    daemon module."""
    import pyspark

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    submit = os.path.join(os.path.dirname(pyspark.__file__), "bin", "spark-submit")

    def run(source: str, master: str, conf: dict[str, str], *args: str) -> str:
        driver = tmp_path / "driver.py"
        driver.write_text(textwrap.dedent(source))
        cmd = [submit, "--master", master]
        for k, v in {"spark.ui.enabled": "false", **conf}.items():
            cmd += ["--conf", f"{k}={v}"]
        proc = subprocess.run(
            cmd + [str(driver), *args],
            capture_output=True,
            text=True,
            timeout=600,
            env=dict(os.environ, PYTHONPATH=repo, PYSPARK_PYTHON=sys.executable),
            cwd=repo,
        )
        assert proc.returncode == 0, proc.stderr[-4000:]
        return proc.stdout

    return run
