"""SparkSession factory — the engine's single entry point to Spark.

Replaces the reference's lazy PyIceberg catalog singleton
(``IcebergConnection.py:223-235`` — ``_ensure_connection`` /
``load_catalog("iceberg")``): in the Spark-native design the
*SparkSession* is the singleton, and the catalog is a session conf.

Design points for the 100 TB target (even though tests run local[N]):

- AQE on: runtime coalescing of shuffle partitions, skew-join
  splitting, and dynamic join-strategy switch (sort-merge →
  broadcast) all come from ``spark.sql.adaptive.*``.
- ``spark.sql.shuffle.partitions`` is only the *initial* number under
  AQE; we set it near the local core count so tiny scale factors
  don't pay 200-partition overhead. On a real cluster this would be
  ~2-3× total executor cores and AQE coalesces down.
- Arrow enabled for every Python boundary crossing (pandas_udf,
  toPandas, createDataFrame) — the reference likewise kept data in
  Arrow between scan and DuckDB (IcebergConnection.py:114-121).
- Session timezone pinned to UTC so timestamp semantics are stable
  and match the (naive-UTC) DuckDB oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def build_session(
    app_name: str = "mcp_iceberg_duckdb_spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or get) the shared SparkSession.

    One session is shared across the whole query suite — Spark fixed
    overheads (JVM start, scheduler warmup) dominate at tiny scale
    factors otherwise (BASELINE.md notes this explicitly).
    """
    cpus = default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.default.parallelism", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # read parquet naive timestamps as TIMESTAMP_NTZ (matches the
        # storage semantics and the DuckDB oracle's naive timestamps)
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        # 2 MB splits let a filter+agg scan of a small fixture file use
        # all local cores (3× on TPC-H Q1/Q3); extra_conf overrides it
        .config("spark.sql.files.maxPartitionBytes", str(2 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
