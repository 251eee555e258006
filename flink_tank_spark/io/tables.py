"""Parquet table catalog for the driver-generated test data.

The tables form a TPC-H-ish star schema plus event/document/embedding
tables (see /root/repo/FIXTURES.md §5). At cluster scale these would be
partitioned/bucketed parquet or an Iceberg/Delta catalog; reading through
``spark.read.parquet`` keeps predicate pushdown and column pruning —
every query in ``plans/`` is written so its filters and projections reach
the scan (verify with ``.explain``: PushedFilters / ReadSchema).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    if name == "events":
        # events.ts has varied across testdata generations: parquet
        # TIMESTAMP(NANOS) (readable only as a nanos long via the legacy
        # flag) or micros TIMESTAMP_NTZ. Normalize both to Spark's native
        # TimestampType so every downstream plan sees one schema.
        from pyspark.sql.types import LongType, TimestampNTZType, TimestampType

        # Read-path flag only (how NANOS parquet is decoded); runtime-
        # settable so a caller-provided session works. Unlike the session
        # timezone (NOT touched here — see the ntz branch), it cannot
        # change the semantics of unrelated queries.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
        ts_type = df.schema["ts"].dataType
        if isinstance(ts_type, LongType):
            # Only the nanosAsLong long is supported here: a plain epoch
            # long in millis/micros would be silently misscaled by the
            # div-1000, so integral ts columns are DEFINED as nanos.
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif isinstance(ts_type, TimestampNTZType):
            # Interpret the stored wall clock AS UTC without consulting
            # (or mutating) the session timezone: a plain ntz->timestamp
            # cast reinterprets in the SESSION zone, so it would either
            # shift events in a non-UTC session or force a permanent
            # session-wide `timeZone` override from inside a loader.
            # Epoch micros via interval arithmetic is tz-independent.
            df = df.withColumn(
                "ts",
                F.expr(
                    "timestamp_micros(cast(cast(cast("
                    "(ts - timestamp_ntz'1970-01-01 00:00:00')"
                    " as interval second) as decimal(30,6))"
                    " * 1000000 as bigint))"
                ),
            )
        elif not isinstance(ts_type, TimestampType):
            # No unit-guessing for anything else (e.g. an int32 epoch):
            # fail loudly instead of picking an inconsistent scale.
            raise TypeError(f"unsupported events.ts type: {ts_type}")
        return df
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def register_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load every table and register it as a temp view.

    Returns the name→DataFrame mapping so callers can use either the
    DataFrame API or ``spark.sql`` over the same logical plans.
    """
    dfs: dict[str, DataFrame] = {}
    for name in TABLES:
        df = load_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        dfs[name] = df
    return dfs


def write_partitioned(
    df: DataFrame, path: str, partition_cols: list[str], mode: str = "overwrite"
) -> None:
    """Hive-style partitioned parquet write — the layout that turns
    predicate filters into partition PRUNING at read time (directories
    skipped entirely; verify via PartitionFilters in .explain). At 100 TB
    this is the difference between scanning a day and scanning a lake."""
    df.write.mode(mode).partitionBy(*partition_cols).parquet(path)


def compact_partitioned(
    spark: SparkSession,
    src_path: str,
    dest_path: str,
    partition_cols: list[str],
    files_per_partition: int = 1,
) -> None:
    """Small-file compaction for a partitioned parquet dataset.

    Streaming sinks (jobs/ingest_job.py) land one file per micro-batch
    per partition; at 100 TB that's millions of KB-files and a
    metadata-bound scan. Rewrite: one shuffle keyed by the partition
    columns (+ a deterministic salt when one output file per partition
    would be too large), so every output partition directory holds
    exactly ``files_per_partition`` parquet files.

    Writes to ``dest_path`` (never in place — overwriting the path being
    read is undefined); callers swap directories/table locations after.
    """
    df = spark.read.parquet(src_path)
    keys = [F.col(c) for c in partition_cols]
    if files_per_partition > 1:
        keys.append(
            F.pmod(F.xxhash64(*[F.col(c) for c in df.columns]), files_per_partition)
        )
    df.repartition(*keys).write.mode("overwrite").partitionBy(
        *partition_cols
    ).parquet(dest_path)


def compact_zordered(
    spark: SparkSession,
    src_path: str,
    dest_path: str,
    x_col: str,
    y_col: str,
    bits: int = 16,
    n_files: int = 32,
) -> None:
    """Small-file compaction that ALSO re-clusters on the Z-order curve
    of two already-quantized integer columns (io/zorder.py) — the
    lakehouse OPTIMIZE ... ZORDER BY maintenance job: one rewrite buys
    both fewer files and parquet min/max pruning on BOTH predicate
    columns (quantified in tests/test_zorder.py).

    Same never-in-place contract as :func:`compact_partitioned`."""
    from flink_tank_spark.io.zorder import zorder_layout

    df = spark.read.parquet(src_path)
    zorder_layout(df, x_col, y_col, bits=bits, n_files=n_files).drop(
        "_zkey"
    ).write.mode("overwrite").parquet(dest_path)


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_cols: list[str],
    n_buckets: int = 32,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Bucketed managed table: co-locates rows by hash(bucket_cols) at
    WRITE time so later equi-joins/aggs on those columns skip the
    shuffle exchange (verify: no Exchange above the scan in .explain).
    The classic pre-shuffle investment for repeatedly-joined fact tables.
    """
    w = df.write.mode(mode).bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.saveAsTable(table_name)
