"""Lake readers — SURVEY.md §2.1 S3/S4's read side.

The landed lake is ``{root}/{file_type}/deployment_id=…/
snapshot_date=YYYYMMDD/`` (the reference's key layout export.py:97 as
real partition columns — write side in pipeline.export_pipeline).
The scan-run reader passes the declared ``SCAN_RUN_DOC_SCHEMA``, so it
runs no schema-inference job, and one read spans every schema
generation of the lake: files missing a declared column null-fill it,
and a column on disk that the declaration lacks is pruned at the scan
(no ``mergeSchema`` footer sweep). Partition columns are still
discovered from the paths, and the deployment filter stays
declarative, so partition pruning happens at listing time.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .nessus_schemas import SCAN_RUN_DOC_SCHEMA


def read_scan_run_documents(
    spark: SparkSession,
    lake_root: str,
    deployment_id: str | None = None,
) -> DataFrame:
    """Read landed scan-run documents; the deployment filter is a
    partition predicate (pruned at listing time, zero data touched
    outside it)."""
    df = spark.read.schema(SCAN_RUN_DOC_SCHEMA).parquet(
        os.path.join(lake_root, "scan_run")
    )
    if deployment_id is not None:
        df = df.filter(F.col("deployment_id") == deployment_id)
    return df
