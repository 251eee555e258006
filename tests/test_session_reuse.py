"""Session reuse (plans/shared.py): the master decides how lineage cuts
and shared stages are made, stage paths are keyed by params, and the
prepared-plan cache skips construction only. Values must be identical
through every branch."""

from __future__ import annotations

import os

import pytest

from flink_tank_spark.plans import shared

ROWS = [(1, "a"), (2, "b"), (3, "c")]


def _vals(df):
    return sorted((r[0], r[1]) for r in df.collect())


def _checkpoint_kind(df) -> str:
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    assert leaves.size() == 1
    return leaves.apply(0).rdd().checkpointData().get().getClass().getSimpleName()


class _Ctx:
    """The SparkContext surface the mode decision reads."""

    applicationId = "stub-app"

    def __init__(self, master: str, checkpoint_dir: str | None = None):
        self.master = master
        self._dir = checkpoint_dir

    def getCheckpointDir(self):
        return self._dir


class _Session:
    def __init__(self, sc):
        self.sparkContext = sc


def test_mode_follows_master():
    assert shared.reliable_dir(_Ctx("local")) is None
    assert shared.reliable_dir(_Ctx("local[3]", "/ckpt")) is None
    assert shared.reliable_dir(_Ctx("local-cluster[2,1,1024]", "/ckpt")) == "/ckpt"
    assert shared.reliable_dir(_Ctx("k8s://https://api:6443", "s3a://c")) == "s3a://c"

    # a cluster master without spark.checkpoint.dir fails before any job:
    # neither the stage builder nor a checkpoint ever runs
    k8s = _Ctx("k8s://https://api:6443")
    with pytest.raises(RuntimeError, match="spark.checkpoint.dir"):
        shared.reliable_dir(k8s)
    calls = []
    with pytest.raises(RuntimeError, match="spark.checkpoint.dir"):
        shared.stage(_Session(k8s), "fail_fast_stage", (), lambda: calls.append(1))

    class _Df:
        sparkSession = _Session(k8s)

        def checkpoint(self, eager=False):
            calls.append(1)

        localCheckpoint = checkpoint

    with pytest.raises(RuntimeError, match="spark.checkpoint.dir"):
        shared.cut(_Df())
    assert calls == []


def test_cut_is_local_checkpoint_under_local_master(spark):
    assert shared.reliable_dir(spark.sparkContext) is None
    df = spark.createDataFrame(ROWS, ["k", "v"])
    out = shared.cut(df, eager=True)
    assert _checkpoint_kind(out) == "LocalRDDCheckpointData"
    assert _vals(out) == _vals(df)


def test_cut_checkpoints_reliably_in_cluster_mode(spark, cluster_mode):
    df = spark.createDataFrame(ROWS, ["k", "v"])
    out = shared.cut(df, eager=True)
    assert _checkpoint_kind(out) == "ReliableRDDCheckpointData"
    assert _vals(out) == _vals(df)
    walked = [f for _, _, fs in os.walk(cluster_mode) for f in fs]
    assert walked, "reliable checkpoint() must write files under the checkpoint dir"


def test_stage_cluster_mode_writes_parquet_and_memoizes(spark, cluster_mode):
    calls = []

    def build():
        calls.append(1)
        return spark.createDataFrame(ROWS, ["k", "v"])

    a = shared.stage(spark, "policy_test_stage", ("p",), build)
    b = shared.stage(spark, "policy_test_stage", ("p",), build)
    assert len(calls) == 1, "second call must return the memoized stage"
    assert _vals(a) == _vals(b) == sorted(ROWS)
    app_dir = os.path.join(
        spark.sparkContext.getCheckpointDir().removeprefix("file:"),
        "stages", spark.sparkContext.applicationId,
    )
    assert [d for d in os.listdir(app_dir) if d.startswith("policy_test_stage-")]


def test_stage_paths_are_hashed_by_params(spark, cluster_mode):
    a = shared.stage(spark, "hashed_stage", ("p1",), lambda: spark.range(3))
    b = shared.stage(spark, "hashed_stage", ("p2",), lambda: spark.range(5))
    assert a.inputFiles() and b.inputFiles()
    dirs = {os.path.dirname(f) for f in a.inputFiles() + b.inputFiles()}
    assert len(dirs) == 2, "two params must write two stage paths"
    # the replaced frame still reads its own rows
    assert sorted(r.id for r in a.collect()) == [0, 1, 2]
    assert sorted(r.id for r in b.collect()) == [0, 1, 2, 3, 4]


def _jobs_in_group(spark, group: str, action) -> list[int]:
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return sc.statusTracker().getJobIdsForGroup(group)


def test_prepared_plan_skips_construction_only(spark):
    shared.clear(spark)
    builds = []

    def build():
        builds.append(1)
        return spark.range(100).selectExpr("id % 7 AS g").groupBy("g").count()

    try:
        a = shared.plan(spark, "contract_no_cut", ("p",), build)
        b = shared.plan(spark, "contract_no_cut", ("p",), build)
        assert len(builds) == 1, "a builder without a cut runs once"
        assert a is not b
        for i, df in enumerate((a, b, a)):
            jobs = _jobs_in_group(spark, f"prepared-{i}", df.collect)
            assert jobs, "every collect() on a prepared frame must launch jobs"
        assert sorted(r[1] for r in a.collect()) == sorted(r[1] for r in b.collect())
    finally:
        shared.clear(spark)


def test_prepared_plan_reruns_builders_with_a_cut(spark):
    shared.clear(spark)
    builds = []

    def build():
        builds.append(1)
        return shared.cut(spark.range(10).selectExpr("id % 3 AS g")).groupBy("g").count()

    try:
        a = shared.plan(spark, "contract_cut", ("p",), build)
        b = shared.plan(spark, "contract_cut", ("p",), build)
        assert len(builds) == 2, "a builder that cuts must run on every call"
        assert sorted(a.collect()) == sorted(b.collect())
    finally:
        shared.clear(spark)
