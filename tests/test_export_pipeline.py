"""Incremental export pipeline tests — watermark/lookback modes
(SURVEY.md §2.11), the A2 epoch default, and the A4 dimension gate."""

import datetime as dt

import pyspark.sql.functions as F

from nessus_client_etl_scripts_spark.pipeline import fixtures
from nessus_client_etl_scripts_spark.pipeline.export_pipeline import (
    EPOCH_DATE,
    compute_watermark,
    fresh_completed_runs,
    run_export,
)

DEP = "deadbeef-0000-4000-8000-000000000001"
# fixture run last_modification dates are Jan/Feb 2024 (T0 + offsets)
DAY1 = dt.date(2024, 2, 1)
DAY2 = dt.date(2024, 2, 2)


def test_watermark_empty_is_epoch(tmp_path):
    assert compute_watermark(str(tmp_path), DEP) == EPOCH_DATE


def test_fresh_filter_drops_null_history_and_incomplete(spark):
    """P5: scan 2 (history=None) contributes nothing; P4: scan 3's
    'running' run is excluded."""
    runs = fresh_completed_runs(fixtures.scan_docs(spark), EPOCH_DATE)
    got = {(r.scan_id, r.history_id) for r in runs.collect()}
    assert not any(s == 2 for s, _ in got)
    assert (3, 3000 + fixtures.RUNS_PER_SCAN - 1) not in got
    # all other completed runs present
    assert (0, 0) in got and (8, 8003) in got


def test_export_watermark_mode_initial_then_incremental(spark, tmp_path):
    lake = str(tmp_path / "lake")
    scans = fixtures.scan_docs(spark)
    docs = fixtures.scan_run_docs(spark)

    first = run_export(spark, scans, docs, lake, DEP, mode="watermark", today=DAY1)
    # scan 2 has no history (4 runs dropped); scan 3 has 1 incomplete run
    n_scans = fixtures.N_FOLDERS * fixtures.SCANS_PER_FOLDER
    # total(36) - scan2's null history(4) - the one 'running' run = 31
    expected_runs = (n_scans - 1) * fixtures.RUNS_PER_SCAN - 1
    assert first["scan_run"] == expected_runs == 31
    assert first["scan"] > 0 and first["folder"] == fixtures.N_FOLDERS

    # watermark advanced to DAY1; all fixture modifications are older →
    # second run writes nothing, dimension upload gated off (A4)
    second = run_export(spark, scans, docs, lake, DEP, mode="watermark", today=DAY2)
    assert second == {"scan_run": 0, "folder": 0, "scan": 0}


def test_export_lookback_mode_unconditional_dims(spark, tmp_path):
    lake = str(tmp_path / "lake")
    scans = fixtures.scan_docs(spark)
    docs = fixtures.scan_run_docs(spark)
    # lookback window that precedes every fixture modification → no runs,
    # but dimensions still upload (export_last_month.py:122-124,213)
    out = run_export(
        spark, scans, docs, lake, DEP, mode="lookback",
        lookback_days=1, today=dt.date(2026, 1, 1),
    )
    assert out["scan_run"] == 0
    assert out["scan"] > 0 and out["folder"] == fixtures.N_FOLDERS


def test_export_day2_keeps_day1_partitions(spark, tmp_path):
    """Dynamic partition overwrite: a later export must not clobber
    earlier snapshots under the same root."""
    lake = str(tmp_path / "lake")
    scans = fixtures.scan_docs(spark)
    docs = fixtures.scan_run_docs(spark)
    run_export(spark, scans, docs, lake, DEP, mode="watermark", today=DAY1)
    # lookback far enough that every run is fresh again on day 2
    run_export(
        spark, scans, docs, lake, DEP,
        mode="lookback", lookback_days=100_000, today=DAY2,
    )
    sr = spark.read.parquet(f"{lake}/scan_run")
    per_day = {
        str(r.snapshot_date): r.n  # partition values infer as int on read
        for r in sr.groupBy("snapshot_date").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert per_day == {DAY1.strftime("%Y%m%d"): 31, DAY2.strftime("%Y%m%d"): 31}


def test_export_partition_layout_prunes(spark, tmp_path):
    """The written lake uses real partition columns; a snapshot_date
    filter must prune to one partition directory (PartitionFilters)."""
    lake = str(tmp_path / "lake")
    scans = fixtures.scan_docs(spark)
    docs = fixtures.scan_run_docs(spark)
    run_export(spark, scans, docs, lake, DEP, mode="watermark", today=DAY1)

    df = spark.read.parquet(f"{lake}/scan_run")
    day = DAY1.strftime("%Y%m%d")
    pruned = df.filter(
        (F.col("deployment_id") == DEP) & (F.col("snapshot_date") == day)
    )
    assert pruned.count() == 31
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan


def test_compact_parquet_merges_small_files(spark, tmp_path):
    from nessus_client_etl_scripts_spark.pipeline.maintenance import (
        compact_parquet,
    )

    src, dst = str(tmp_path / "frag"), str(tmp_path / "compact")
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    docs.repartition(40).write.parquet(src)  # plant a small-files mess
    report = compact_parquet(spark, src, dst, target_mb=128)
    assert report["files_before"] == 40
    assert report["files_after"] < 5
    assert report["rows"] == docs.count()
    # content survives byte-for-byte (order-insensitive)
    assert (
        spark.read.parquet(dst).exceptAll(docs).count() == 0
        and docs.exceptAll(spark.read.parquet(dst)).count() == 0
    )


def test_compact_parquet_partitioned_layout(spark, tmp_path):
    from nessus_client_etl_scripts_spark.pipeline.maintenance import (
        compact_parquet,
    )

    src, dst = str(tmp_path / "frag"), str(tmp_path / "compact")
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    docs.repartition(20).write.partitionBy("lang").parquet(src)
    report = compact_parquet(
        spark, src, dst, target_mb=128, partition_cols=("lang",)
    )
    assert report["files_after"] < report["files_before"]
    out = spark.read.parquet(dst)
    assert out.count() == docs.count()
    # partition layout preserved for pruning
    assert sorted(
        r["lang"] for r in out.select("lang").distinct().collect()
    ) == sorted(r["lang"] for r in docs.select("lang").distinct().collect())


def test_compact_parquet_rejects_in_place(spark, tmp_path):
    import pytest

    from nessus_client_etl_scripts_spark.pipeline.maintenance import (
        compact_parquet,
    )

    with pytest.raises(ValueError):
        compact_parquet(spark, str(tmp_path), str(tmp_path))
