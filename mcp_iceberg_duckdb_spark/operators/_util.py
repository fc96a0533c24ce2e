"""Shared helpers for operator builders.

Determinism conventions (SURVEY.md §5): every computed column is
aliased identically in the Spark builder and the DuckDB oracle SQL;
double-valued aggregates are rounded on BOTH sides (sum-order across
partitions is nondeterministic in any parallel engine, so last-ulp
float differences are expected and rounded away); LIMIT queries use a
total order with a unique tiebreak key.
"""

from __future__ import annotations

from py4j.protocol import Py4JError
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from mcp_iceberg_duckdb_spark.sources.tables import Tables, load


def t(spark: SparkSession, sf_dir: str) -> Tables:
    return Tables(spark, sf_dir)


def views(spark: SparkSession, sf_dir: str, *names: str) -> None:
    """Register fixture tables as temp views for spark.sql builders."""
    for name in names:
        load(spark, sf_dir, name).createOrReplaceTempView(name)


# (path, fileSize, modificationTime) -> row-group count, keyed by
# what Spark's PartitionedFile carries; parquet footers are immutable
# for a given file version, so this never goes stale — bounded FIFO so
# a long-lived session scanning many table versions cannot grow it
# without limit
_RG_CACHE: dict[tuple, int] = {}
_RG_CACHE_MAX = 4096

# files whose footers are read per gate decision; beyond this the
# row-group census is skipped and Spark's planned count stands
_RG_PROBE_CAP = 64


def _scan_splits(df: DataFrame) -> int | None:
    """Usable scan tasks of ``df``: the partitions Spark plans for its
    file scans, capped per local file by the file's parquet row-group
    count (a byte split that holds no row group is an empty task).

    The partitions come from each FileSourceScanExec of
    ``sparkPlan()`` — not ``executedPlan()``, which under AQE is one
    opaque AdaptiveSparkPlanExec leaf. Beyond ``_RG_PROBE_CAP`` files,
    or for remote files, Spark's count stands. None = some leaf is not
    a file scan — callers treat that as "not splittable" (the safe
    side: one extra exchange, never a serial stage)."""
    try:
        leaves = df._jdf.queryExecution().sparkPlan().collectLeaves()
        scans = [leaves.apply(i) for i in range(leaves.size())]
        if any(
            s.getClass().getSimpleName() != "FileSourceScanExec" for s in scans
        ):
            return None
        parts = [p for s in scans for p in s.inputRDD().partitions()]
    except Py4JError:
        return None
    # (path, fileSize, modificationTime) -> planned splits of that file
    splits: dict[tuple, int] = {}
    for p in parts:
        for f in p.files():
            uri = f.filePath().toUri()
            if uri.getScheme() != "file":
                return len(parts)
            key = (uri.getPath(), f.fileSize(), f.modificationTime())
            splits[key] = splits.get(key, 0) + 1
            if len(splits) > _RG_PROBE_CAP:
                return len(parts)
    import pyarrow.parquet as pq

    capped = 0
    for key, n in splits.items():
        if key not in _RG_CACHE:
            try:
                rg = pq.ParquetFile(key[0]).metadata.num_row_groups
            except (OSError, ValueError):
                # no parquet footer (csv, orc, ...): Spark's splits stand
                capped += n
                continue
            if len(_RG_CACHE) >= _RG_CACHE_MAX:
                _RG_CACHE.pop(next(iter(_RG_CACHE)))
            _RG_CACHE[key] = rg
        capped += min(_RG_CACHE[key], n)
    return min(len(parts), capped)


def parallelize(df: DataFrame) -> DataFrame:
    """LAYOUT-GATED repartition to the session's default parallelism
    before a CPU-heavy per-row stage (signatures, codecs, cosine
    scoring, shingle/n-gram expansion).

    The gate (guide §2.5 "unsplittable input" / §6 input-split
    sizing): the scan runs as many useful tasks as Spark plans
    partitions for it, capped by parquet row groups, so a small
    single-row-group fixture file runs every downstream narrow stage
    in ONE task. When that count is below HALF the default
    parallelism, round-robin the rows across the cluster; when the
    input already splits (production: thousands of files/row groups),
    return the plan UNCHANGED — no exchange, no cost, identical to not
    calling this at all. Partitioning is thus derived from the input
    layout, never a constant tuned to either local mode or the
    cluster."""
    sc = df.sparkSession.sparkContext
    splits = _scan_splits(df)
    if splits is not None and splits * 2 >= sc.defaultParallelism:
        return df
    return df.repartition(sc.defaultParallelism)


def rn(c: Column | str, n: int) -> Column:
    """Version-inert display rounding for DOUBLE expressions:
    floor(x·10ⁿ + 0.5) / 10ⁿ in pure IEEE double ops, which are
    bit-identical across engines. Engine-native round(double, n) is
    NOT: Spark rounds the shortest decimal repr HALF_UP while DuckDB
    rounds the binary value, and the resolution of `.xx5`-looking
    midpoints is additionally DuckDB-version-dependent — the round-1
    driver hash mismatches (q3/q5/a_having, CORRECTNESS_r01) were
    only ever observed on the driver's DuckDB, never locally. SQL
    twin: floor((x) * 1eN + 0.5) / 1eN."""
    if isinstance(c, str):
        c = F.col(c)
    p = F.lit(float(10**n))
    return F.floor(c * p + F.lit(0.5)) / p


def r2(c: Column | str) -> Column:
    return rn(c, 2)


def r4(c: Column | str) -> Column:
    return rn(c, 4)


def r6(c: Column | str) -> Column:
    return rn(c, 6)


def dec_round(c: Column, n: int, widen: str = "decimal(30,6)") -> Column:
    """Round an (already exact) DECIMAL column to n places and emit
    DOUBLE, all in version-inert ops: the scaling/half-add/floor run
    in exact decimal arithmetic (identical in any engine), the final
    int→double cast and one division are exact-then-correctly-rounded
    IEEE. No DECIMAL ever reaches the output schema — driver-side
    hashing of DECIMAL values proved version-sensitive in round 1
    (CORRECTNESS_r01: a_having mismatched although its sums are
    exactly 2-dp, so the divergence was representation, not value).

    `widen` must leave ≥ 8 digits of precision headroom so the
    ·10ⁿ product stays inside DECIMAL(38,s) in BOTH engines (DuckDB
    widens a multiply to p1+p2 and falls back to DOUBLE past 38)."""
    s = c.cast(widen)
    pw = F.lit(10**n).cast("decimal(9,0)")
    units = F.floor(s * pw + F.lit(0.5).cast("decimal(2,1)"))
    return units.cast("double") / F.lit(float(10**n))


def dec_sum(c: Column, out_scale: int = 2, dec: str = "decimal(18,6)") -> Column:
    """Deterministic money-style sum: per-row cast to DECIMAL (exact
    and order-INDEPENDENT to add), exact decimal sum, then
    version-inert rounding to DOUBLE via dec_round.

    round(sum(double), 2) is a latent cross-session hash-mismatch:
    double summation order varies with partitioning (core count), and
    with enough groups some sum lands within an ulp of a half-cent
    midpoint — observed on TPC-H Q7 (1199 groups): 1413903.735 →
    .73 on one session, .74 on another. Hence the exact decimal sum.
    SQL twin:
    CAST(floor(CAST(sum(CAST(x AS DECIMAL(18,6))) AS DECIMAL(30,6))
               * CAST(100 AS DECIMAL(3,0)) + 0.5) AS DOUBLE)
      / CAST(100 AS DOUBLE)."""
    return dec_round(F.sum(c.cast(dec)), out_scale, widen="decimal(30,6)")


def dec_avg(c: Column, out_scale: int = 4, dec: str = "decimal(18,6)") -> Column:
    """Deterministic mean via exact decimal sum / count, rounded
    version-inertly (rn). SQL twin:
    floor((CAST(sum(CAST(x AS DECIMAL(18,6))) AS DOUBLE) / count(x))
          * 1eN + 0.5) / 1eN."""
    return rn(F.sum(c.cast(dec)).cast("double") / F.count(c), out_scale)


def cap_basket(
    df: DataFrame, basket_col: str, item_col: str, cap: int
) -> DataFrame:
    """Deterministic per-basket cap ahead of a pair self-join: keep
    the `cap` smallest `item_col` values in each `basket_col` group.

    A basket-keyed pair join fans out Σ basket² — fine when baskets
    are organically small (TPC-H orders: ≤ 7 items), but ONE hot
    basket (a bot order, a crawl artifact, a default/test key) is the
    classic quadratic blowup: a 1 M-item basket alone emits 5·10¹¹
    pairs into the shuffle. Capping bounds every basket's fan-out at
    cap·(cap-1)/2 pairs, making the stage's worst case linear in the
    number of baskets at ANY corpus size. The kept subset is
    deterministic (smallest item ids), so results are reproducible
    and engine-independent; whenever true basket sizes are ≤ cap the
    output is bit-identical to the uncapped operator.

    Spark shape: one row_number window — Spark's WindowGroupLimit
    rule applies the rank limit map-side before the exchange, and the
    window's hash partitioning on the basket key is exactly the
    partitioning the downstream self-join needs, so the cap adds no
    extra shuffle. SQL twin:
    row_number() OVER (PARTITION BY basket ORDER BY item) <= cap.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(basket_col).orderBy(item_col)
    return (
        df.withColumn("__brn", F.row_number().over(w))
        .where(F.col("__brn") <= cap)
        .drop("__brn")
    )


def ntz(lit: str) -> Column:
    """Timestamp-NTZ literal (matches DuckDB's naive TIMESTAMP '...')."""
    return F.lit(lit).cast("timestamp_ntz")


def sql_query(sql: str):
    """Builder for queries expressed directly in (dialect-shared) SQL:
    registers every fixture view, then runs Catalyst on the text."""

    def builder(spark: SparkSession, sf_dir: str) -> DataFrame:
        views(
            spark,
            sf_dir,
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
        return spark.sql(sql)

    return builder
