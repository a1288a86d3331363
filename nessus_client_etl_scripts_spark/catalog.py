"""Table catalog: load the driver's synthetic parquet tables and (for
the Nessus domain) the engine's own silver tables.

The testdata star schema (TESTDATA.md) stands in for the reference's
warehouse (``/root/reference/schema.sql``): dimension chains
(region←nation←customer / folder←scan) and fact chains
(orders←lineitem / scan_run←host←host_vuln←vuln_output).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TESTDATA_TABLES = (
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

# Tables small enough to broadcast at any realistic scale factor
# (dimension tables in TPC-H grow sub-linearly or are fixed-size).
BROADCAST_TABLES = frozenset({"region", "nation", "supplier"})


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one parquet table. Columnar scan with predicate pushdown and
    column pruning supplied by Catalyst — callers express filters and
    selects declaratively and they reach the scan.

    ``events.ts`` has shipped in two physical encodings across driver
    testdata generations: parquet TIMESTAMP(NANOS) (which Spark's
    vectorized reader only accepts as nanos-long via the legacy conf)
    and plain TIMESTAMP(MICROS) (isAdjustedToUTC=false → TIMESTAMP_NTZ
    under Spark 4's NTZ inference). Normalize both to session-local
    TimestampType so every downstream query and the DuckDB oracle (which
    reads naive micros) see identical wall-clock values — the session
    timezone is pinned to UTC in ``session.get_spark``, so the NTZ→LTZ
    cast is value-preserving.
    """
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        df = spark.read.parquet(table_path(sf_dir, name))
        ts_type = df.schema["ts"].dataType
        if isinstance(ts_type, T.LongType):
            # nanos-as-long generation: integer division, because
            # ts/1000 via `/` promotes to double, which cannot
            # represent ~1.7e18 ns exactly and rounds ±1 micro
            return df.withColumn(
                "ts", F.timestamp_micros(F.expr("ts div 1000"))
            )
        if not isinstance(ts_type, T.TimestampType):
            return df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return spark.read.parquet(table_path(sf_dir, name))


def spread_for_compute(
    df: DataFrame, min_partitions: int | None = None
) -> DataFrame:
    """Round-robin repartition IFF the source provides fewer splits
    than the session's parallelism — otherwise a no-op (no shuffle
    node added at all).

    Why: parquet scans parallelize at row-group granularity. A corpus
    landed as few single-row-group files (the driver testdata, or any
    small-file bronze drop) gives the scan 1-2 tasks, so a per-row-heavy
    pipeline (shingling, hashing, vector scoring, media decode) runs
    nearly serially no matter how many cores exist. One cheap narrow
    shuffle of the raw rows before the heavy work spreads it across
    the cluster. At 100 TB the file/row-group count exceeds any
    executor count, the guard sees enough splits, and no shuffle is
    introduced — this is load balancing for the degenerate case, not a
    standing cost. The partition check inspects the planned RDD only;
    no job runs."""
    target = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


def load_tables(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TESTDATA_TABLES
) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in names}


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_col: str,
    n_buckets: int = 32,
    sort_col: str | None = None,
) -> None:
    """Persist a table bucketed (and optionally sorted) by its join key.

    Bucketing pre-shuffles ONCE at write time: two tables bucketed by
    their join key with the same bucket count join with NO Exchange —
    at 100 TB that deletes the dominant cost of every fact⋈fact join
    (host⋈host_vuln⋈vuln_output on scan_run keys, lineitem⋈orders on
    orderkey). The warehouse is Spark's local metastore here; on a
    cluster this is the same call against the shared catalog.
    """
    w = df.write.mode("overwrite").bucketBy(n_buckets, bucket_col)
    if sort_col:
        w = w.sortBy(sort_col)
    w.saveAsTable(table)
