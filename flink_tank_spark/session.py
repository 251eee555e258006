"""SparkSession factory: the one session config of the jobs, the bench,
the tests and the scripts.

Its settings fall in two groups:

- **Engine semantics**, set on every session unless a launcher already
  set the key: AQE (runtime partition coalescing by bytes, skew-join
  splitting, dynamic join-strategy switching), the session timezone
  pinned to UTC so timestamp semantics match the DuckDB oracle (duckdb
  timestamps are UTC-naive), Arrow for every pandas_udf /
  applyInPandas / toPandas crossing, the pre-importing worker daemon
  and the RocksDB state store.
- **Local sizing**, set only when this process starts the JVM itself:
  ``local[N]`` master, shuffle and default parallelism sized to N,
  small scan splits and advisory partitions for MB-sized test files,
  driver memory, the warehouse dir and a UI-free console.

Under spark-submit (the spark-operator's path, k8s/spark/*.yaml) the
launcher's conf wins: its master, executors, shuffle partitions,
split sizes and ``spark.checkpoint.dir`` size the run, and ``cpus`` is
ignored. conf/spark-defaults-100tb.conf holds the cluster values.
"""

from __future__ import annotations

import os

from pyspark import SparkConf, SparkContext
from pyspark.sql import SparkSession

ENGINE_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    # Size post-shuffle partitions by BYTES, not by core count (guide
    # §2.2): the default parallelismFirst=true floors AQE coalescing at
    # defaultParallelism, so every KB-sized exchange still launched 32
    # tasks whose per-task launch/JIT overhead dominated small-SF stages
    # (r14 profile: dozens of 32-task stages with run≫cpu on <1 MB
    # shuffles). Partitions then track advisoryPartitionSizeInBytes.
    "spark.sql.adaptive.coalescePartitions.parallelismFirst": "false",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Worker daemon with numpy/pandas/pyarrow pre-imported before the
    # fork loop (spark_daemon.py): a cold worker's first Arrow batch
    # paid ~8 s of import on this VM family (× up to `n` concurrent
    # first-spawns); pre-import makes forked workers inherit warm
    # modules via copy-on-write. Same effect per executor on a real
    # cluster.
    "spark.python.daemon.module": "flink_tank_spark.spark_daemon",
    # RocksDB state store: the backend you'd pick at 100 TB (spills to
    # disk, incremental checkpoints) — and required by the
    # transformWithState API family if enabled later.
    "spark.sql.streaming.stateStore.providerClass":
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
}


def get_spark(app_name: str = "flink_tank_spark", *, cpus: int | None = None) -> SparkSession:
    """Build (or reuse) the session.

    Started by spark-submit, it keeps the launcher's conf and adds only
    the engine keys the launcher left unset. Otherwise it starts a
    ``local[cpus]`` JVM; ``cpus`` defaults to ``SPARK_GRAFT_CPUS``, then
    to all local cores.
    """
    # spark-submit passes its JVM's gateway in the environment; a plain
    # python process launches its own JVM and has no such variable.
    if "PYSPARK_GATEWAY_PORT" in os.environ:
        # connect to the launcher's JVM so SparkConf reads its --conf
        SparkContext._ensure_initialized()
        launched = SparkConf()
        conf = {k: v for k, v in ENGINE_CONF.items() if not launched.contains(k)}
    else:
        n = cpus or int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
        conf = {
            **ENGINE_CONF,
            "spark.master": f"local[{n}]",
            "spark.app.name": app_name,
            "spark.sql.shuffle.partitions": str(n),
            "spark.default.parallelism": str(n),
            # 8 MB keeps MB-scale shuffles parallel; the cluster conf
            # raises it to 128 MB.
            "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8m",
            # Local test files are single-digit-MB single parquet files;
            # the 128 MB default would scan each table as ONE partition
            # and serialize every downstream pipeline onto one core.
            "spark.sql.files.maxPartitionBytes": str(4 * 1024 * 1024),
            "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"),
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.environ.get(
                "SPARK_GRAFT_WAREHOUSE", "/tmp/spark-graft-warehouse"
            ),
        }
        # Optional Maven coordinates (comma-separated) resolved at JVM
        # start — the supported way to pull the spark-sql-kafka connector
        # for the real-broker E2E (Makefile `kafka-e2e`). Needs network;
        # unset = no resolution attempt, offline suite unaffected.
        packages = os.environ.get("SPARK_GRAFT_PACKAGES")
        if packages:
            conf["spark.jars.packages"] = packages
        # The worker daemon (spark_daemon.py) is exec'd as `python -m`,
        # so the package root must be importable from the daemon
        # subprocess — the JVM (and its python children) inherit
        # PYTHONPATH from this process's environment at gateway launch.
        pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        pp = os.environ.get("PYTHONPATH", "")
        if pkg_root not in pp.split(os.pathsep):
            os.environ["PYTHONPATH"] = pkg_root + ((os.pathsep + pp) if pp else "")
    spark = SparkSession.builder.config(map=conf).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if os.environ.get("SPARK_GRAFT_ARROW_WARMUP"):
        _arrow_warmup(spark, spark.sparkContext.defaultParallelism)
    return spark


def _arrow_warmup(spark: SparkSession, n: int) -> None:
    """Force the JVM ArrowEval path + one Python worker per core to
    initialize BEFORE the first real query (opt-in:
    SPARK_GRAFT_ARROW_WARMUP=1; bench.py enables it as part of its
    documented warm-the-session step).

    Measured (r14 §5 profile, re-confirmed r15): the first
    Arrow-crossing stage of a session pays ~3 s/task of worker/JIT
    first-touch across all cores — run≫cpu, not compute — which lands
    on whichever query happens to cross Python first. One n-row
    n-partition identity pandas_udf pass (n rows total — trivial work)
    absorbs that constant at session build. ``spark.python.worker.reuse``
    is on by default, so the warmed workers serve every later stage.
    """
    from pyspark.sql import functions as F

    # plain-function form (no type hints): this module uses
    # `from __future__ import annotations`, under which hint-style
    # pandas_udf declarations fail to resolve locally-imported names.
    _wu = F.pandas_udf(lambda x: x, "long")

    # .collect(), not .count(): a count would prune the UDF projection
    # and warm nothing (verify-skill gotcha).
    spark.range(n, numPartitions=n).select(_wu("id").alias("v")).collect()
