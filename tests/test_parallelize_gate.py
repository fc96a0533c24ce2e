"""The layout gate inside operators/_util.parallelize: repartition
fires ONLY when the scan's usable tasks — the partitions Spark plans
for it, capped per file by parquet row groups — cannot fill half the
cluster. On production-shaped input (many files or row groups) the
helper is the identity — no exchange, plan unchanged — so every call
site's "extra exchange" exists only where the scan is otherwise one
task."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq

from mcp_iceberg_duckdb_spark.operators._util import _RG_PROBE_CAP, parallelize


def _shuffles(df) -> int:
    from mcp_iceberg_duckdb_spark.plans.inspect import shuffle_count

    return shuffle_count(df)


def test_single_row_group_scan_is_spread(spark, tmp_path):
    p = tmp_path / "one_rg.parquet"
    pq.write_table(pa.table({"x": list(range(10_000))}), p)
    assert pq.ParquetFile(p).metadata.num_row_groups == 1
    df = spark.read.parquet(str(p))
    out = parallelize(df)
    assert _shuffles(out) == _shuffles(df) + 1, (
        "a one-row-group file is one scan task; parallelize must "
        "round-robin it across the cluster"
    )
    assert out.count() == 10_000


def test_splittable_scan_is_left_unchanged(spark, tmp_path):
    # Spark plans file partitions by bytes, and a split holding no row
    # group is an empty task, so "splittable" needs BOTH many row
    # groups AND enough bytes for many planned partitions — which the
    # confs pinned here give this file
    p = tmp_path / "many_rg.parquet"
    n_rg = max(spark.sparkContext.defaultParallelism, 8)
    n_rows = 200_000
    pq.write_table(
        pa.table({"x": list(range(n_rows))}),
        p,
        row_group_size=max(n_rows // n_rg, 1),
    )
    assert pq.ParquetFile(p).metadata.num_row_groups >= n_rg
    conf = spark.conf
    saved = {
        k: conf.get(k, None)
        for k in (
            "spark.sql.files.maxPartitionBytes",
            "spark.sql.files.openCostInBytes",
        )
    }
    try:
        conf.set("spark.sql.files.maxPartitionBytes", "65536")
        conf.set("spark.sql.files.openCostInBytes", "0")
        df = spark.read.parquet(str(p))
        out = parallelize(df)
        assert _shuffles(out) == _shuffles(df), (
            "input already splits into >= parallelism/2 byte-sized "
            "row-group-backed splits; the gate must return the plan "
            "unchanged (production no-op)"
        )
        assert out.count() == n_rows
    finally:
        for k, v in saved.items():
            if v is None:
                conf.unset(k)
            else:
                conf.set(k, v)


def test_small_many_row_group_scan_is_spread(spark, tmp_path):
    # many row groups but few BYTES: Spark plans this file as one
    # partition, so the gate must spread it
    p = tmp_path / "small_many_rg.parquet"
    n_rg = spark.sparkContext.defaultParallelism
    pq.write_table(
        pa.table({"x": list(range(10_000))}),
        p,
        row_group_size=max(10_000 // n_rg, 1),
    )
    assert pq.ParquetFile(p).metadata.num_row_groups >= n_rg
    df = spark.read.parquet(str(p))
    out = parallelize(df)
    assert _shuffles(out) == _shuffles(df) + 1, (
        "an ~80 KB file is a 1-task scan no matter how many row "
        "groups it has; the gate must round-robin it"
    )
    assert out.count() == 10_000


def _small_files(directory, n_files: int) -> None:
    directory.mkdir()
    for i in range(n_files):
        pq.write_table(
            pa.table({"x": list(range(i * 10, i * 10 + 10))}),
            directory / f"part-{i:03d}.parquet",
        )


def test_many_small_files_scan_is_left_unchanged(spark, tmp_path):
    # one planned partition per file (each file's open cost exceeds
    # the split size): the scan already runs defaultParallelism tasks
    n_files = spark.sparkContext.defaultParallelism
    d = tmp_path / "many_files"
    _small_files(d, n_files)
    df = spark.read.parquet(str(d))
    assert df.rdd.getNumPartitions() == n_files
    out = parallelize(df)
    assert _shuffles(out) == _shuffles(df), (
        "one planned partition per file already fills the cluster; "
        "the gate must return the plan unchanged"
    )
    assert out.count() == n_files * 10


def test_scan_past_probe_cap_reads_no_footer(spark, tmp_path, monkeypatch):
    n_files = _RG_PROBE_CAP + 1
    d = tmp_path / "past_cap"
    _small_files(d, n_files)

    def no_footer_reads(*_a, **_k):
        raise AssertionError("footer read past the probe cap")

    monkeypatch.setattr(pq, "ParquetFile", no_footer_reads)
    df = spark.read.parquet(str(d))
    out = parallelize(df)
    # Spark's planned count stands: one partition per small file
    assert _shuffles(out) == _shuffles(df)


def test_non_file_source_still_spreads(spark):
    # createDataFrame has no file source; the gate cannot prove the
    # input splits, so it keeps today's behavior (repartition)
    df = spark.createDataFrame([(i,) for i in range(100)], "x int")
    out = parallelize(df)
    assert _shuffles(out) == _shuffles(df) + 1
