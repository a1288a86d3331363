"""Schema-evolution reads over the landed ``scan_run`` lake: later
snapshots gain or retire a top-level field, and the engine's reader
(``read_scan_run_documents``, declared ``SCAN_RUN_DOC_SCHEMA``) serves
the whole history — old files null-fill the new field, a retired field
is pruned at the scan, and partition pruning stays intact — without a
mergeSchema footer sweep."""

import datetime as dt
import json
import os

import pyspark.sql.functions as F

from nessus_client_etl_scripts_spark.pipeline import fixtures
from nessus_client_etl_scripts_spark.pipeline.export_pipeline import write_partitioned
from nessus_client_etl_scripts_spark.sources.lake import read_scan_run_documents
from nessus_client_etl_scripts_spark.sources.nessus_schemas import SCAN_RUN_DOC_SCHEMA

DEP = "dep-evolve"


def _docs(spark, run):
    return spark.createDataFrame(
        [fixtures.scan_run_doc(s, run) for s in (0, 1)], SCAN_RUN_DOC_SCHEMA
    )


def _scan_columns(df) -> list[str]:
    """The columns the parquet scan under ``df`` reads (its ReadSchema)."""
    scan = df._jdf.queryExecution().executedPlan().collectLeaves().head()
    return [f["name"] for f in json.loads(scan.requiredSchema().json())["fields"]]


def test_declared_schema_spans_lake_generations(spark, tmp_path):
    lake = str(tmp_path / "lake")
    # generation 1 was landed before the documents carried info_count
    write_partitioned(
        _docs(spark, 0).drop("info_count"), lake, DEP, dt.date(2024, 1, 1),
        file_type="scan_run",
    )
    write_partitioned(_docs(spark, 1), lake, DEP, dt.date(2024, 1, 2), file_type="scan_run")
    assert "info_count" not in spark.read.parquet(
        os.path.join(lake, "scan_run", f"deployment_id={DEP}", "snapshot_date=20240101")
    ).columns

    out = read_scan_run_documents(spark, lake, DEP)
    want = {
        d["history_id"]: (d["info_count"] if run else None, 20240101 + run)
        for run in (0, 1)
        for d in (fixtures.scan_run_doc(s, run) for s in (0, 1))
    }
    assert {r.history_id: (r.info_count, r.snapshot_date) for r in out.collect()} == want
    assert any(v[0] is not None for v in want.values())

    # partition pruning still fires through the declared-schema read
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(deployment_id" in plan


def test_declared_schema_prunes_retired_columns(spark, tmp_path):
    """Reading yesterday's wider files with the narrower declaration
    drops the retired field at the scan (ReadSchema excludes it)."""
    lake = str(tmp_path / "lake")
    wide = _docs(spark, 0).withColumn("legacy", F.lit("drop-me"))
    write_partitioned(wide, lake, DEP, dt.date(2024, 1, 1), file_type="scan_run")
    assert "legacy" in spark.read.parquet(os.path.join(lake, "scan_run")).columns

    out = read_scan_run_documents(spark, lake, DEP)
    assert out.columns == SCAN_RUN_DOC_SCHEMA.names + ["deployment_id", "snapshot_date"]
    assert _scan_columns(out) == SCAN_RUN_DOC_SCHEMA.names
    assert out.count() == 2
