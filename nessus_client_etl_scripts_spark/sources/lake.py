"""Lake readers — SURVEY.md §2.1 S3/S4's read side.

The landed lake is ``{root}/{file_type}/deployment_id=…/
snapshot_date=YYYYMMDD/`` (the reference's key layout export.py:97 as
real partition columns — write side in pipeline.export_pipeline).
The lake is parquet, so the scan-run reader takes its schema from the
file footers (no JSON sampling pass); :func:`read_evolved_parquet`
passes a declared schema for lakes whose files span schema versions.
Deployment and snapshot filters stay declarative, so partition pruning
happens at listing time.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def read_scan_run_documents(
    spark: SparkSession,
    lake_root: str,
    deployment_id: str | None = None,
    since: str | None = None,
) -> DataFrame:
    """Read landed scan-run documents; deployment/snapshot filters are
    partition predicates (pruned at listing time, zero data touched
    outside the range)."""
    df = spark.read.parquet(os.path.join(lake_root, "scan_run"))
    if deployment_id is not None:
        df = df.filter(F.col("deployment_id") == deployment_id)
    if since is not None:
        df = df.filter(F.col("snapshot_date") >= since)
    return df


def read_evolved_parquet(spark: SparkSession, path: str, schema) -> DataFrame:
    """Declared-schema read over a lake whose files span SCHEMA
    VERSIONS (a landed snapshot history where later days gained
    columns): files missing a declared column yield nulls for it, and
    columns present on disk but absent from the declaration are pruned
    at the scan — no ``mergeSchema`` (which is a second footer pass
    over EVERY file at listing time; at 100 TB that is a full-lake
    metadata sweep per query). The declared schema IS the contract;
    evolution happens by widening the declaration, never by paying an
    inference pass."""
    return spark.read.schema(schema).parquet(path)
