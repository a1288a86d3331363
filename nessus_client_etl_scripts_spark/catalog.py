"""Table catalog: load the driver's synthetic parquet tables and (for
the Nessus domain) the engine's own silver tables.

The testdata star schema (TESTDATA.md) stands in for the reference's
warehouse (``/root/reference/schema.sql``): dimension chains
(region←nation←customer / folder←scan) and fact chains
(orders←lineitem / scan_run←host←host_vuln←vuln_output).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

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
    selects declaratively and they reach the scan. ``events`` goes
    through :func:`_read_events`: its TIMESTAMP(NANOS) generation is
    detected from the parquet footer, and the session is not touched.
    """
    if name == "events":
        return _read_events(spark, sf_dir)
    return spark.read.parquet(table_path(sf_dir, name))


def _nanos_events_schema(path: str) -> T.StructType | None:
    """For an events file whose ``ts`` is parquet INT64 TIMESTAMP(NANOS),
    the footer's columns with ``ts`` declared bigint; otherwise None. It
    reads one footer with pyarrow on the driver, so no Spark job runs. A
    directory (Spark-written: INT96 or MICROS, never NANOS) gives None.
    The check is on the parquet types, not the arrow type: pyarrow also
    reports Spark's INT96 as ``timestamp[ns]``."""
    if not os.path.isfile(path):
        return None
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_schema

    footer = pq.ParquetFile(path)
    ts = next((c for c in footer.schema if c.path == "ts"), None)
    if ts is None or ts.physical_type != "INT64":
        return None
    if json.loads(ts.logical_type.to_json()).get("timeUnit") != "nanoseconds":
        return None
    return T.StructType(
        [
            T.StructField("ts", T.LongType()) if f.name == "ts" else f
            for f in from_arrow_schema(footer.schema_arrow)
        ]
    )


def _read_events(
    spark: SparkSession, sf_dir: str, stream: bool = False
) -> DataFrame:
    """The one reader of the ``events`` table: batch, or with ``stream``
    a file-source ``readStream`` over ``sf_dir``.

    ``events.ts`` has shipped in two physical encodings across driver
    testdata generations: parquet TIMESTAMP(NANOS), which Spark does not
    read as a timestamp, and TIMESTAMP(MICROS) with isAdjustedToUTC=false
    (TIMESTAMP_NTZ under Spark 4's inference). The NANOS generation is
    read with a declared schema and converted; any other is inferred and
    cast. Both end as session-local TimestampType, so every downstream
    query and the DuckDB oracle (which reads naive micros) see identical
    wall-clock values — every query runs through
    ``testdata_queries.register``'s wrapper, which pins the session
    timezone to UTC, so the NTZ→LTZ cast is value-preserving.
    """
    path = table_path(sf_dir, "events")
    nanos = _nanos_events_schema(path)
    if stream:
        # a streaming source needs an explicit schema
        schema = nanos or spark.read.parquet(path).schema
        df = (
            spark.readStream.schema(schema)
            .option("pathGlobFilter", "events.parquet")
            .parquet(sf_dir)
        )
    else:
        df = (spark.read if nanos is None else spark.read.schema(nanos)).parquet(path)
    if nanos is not None:
        # integer division, because ts/1000 via `/` promotes to double,
        # which cannot represent ~1.7e18 ns exactly and rounds ±1 micro
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if not isinstance(df.schema["ts"].dataType, T.TimestampType):
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def spread_for_compute(df: DataFrame) -> DataFrame:
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
    target = df.sparkSession.sparkContext.defaultParallelism
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
) -> None:
    """Persist a table bucketed by its join key.

    Bucketing pre-shuffles ONCE at write time: two tables bucketed by
    their join key with the same bucket count join with NO Exchange —
    at 100 TB that deletes the dominant cost of every fact⋈fact join
    (host⋈host_vuln⋈vuln_output on scan_run keys, lineitem⋈orders on
    orderkey). The warehouse is Spark's local metastore here; on a
    cluster this is the same call against the shared catalog.
    """
    df.write.mode("overwrite").bucketBy(n_buckets, bucket_col).saveAsTable(table)
