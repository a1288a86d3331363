"""Incremental export pipeline — SURVEY.md §2.11 / §3.1-3.2.

The reference's daily ETL (/root/reference/export.py) and its 30-day
backfill variant (export_last_month.py) are one parameterized pipeline
here:

    run_export(spark, scan_docs, scan_run_docs, lake_root,
               deployment_id, mode='watermark' | 'lookback')

- **watermark mode** (export.py:218,235): the freshness floor is the
  max snapshot date already present in the sink's own partition layout
  (A2, with the empty→epoch default of export.py:87). Dimension
  snapshots upload only if new runs exist (A4, export.py:240-243).
- **lookback mode** (export_last_month.py:208,225): floor = today - N
  days; dimensions upload unconditionally.

Scale posture: the watermark never scans data — it reads the partition
VALUES from the directory layout (one namenode/S3 LIST, no file
opens). The run filter (P4/P5) prunes before any nested-document work,
and the write is partitioned by (deployment_id, snapshot_date) so
downstream readers get partition pruning for free. The reference's
fire-and-forget async upload with swallowed exceptions
(export.py:102-108) is deliberately NOT reproduced — a failed write
fails the job.
"""

from __future__ import annotations

import datetime as dt
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import epoch_to_date

EPOCH_DATE = dt.date(1970, 1, 1)


def compute_watermark(lake_root: str, deployment_id: str) -> dt.date:
    """A2/S3 — max snapshot date under ``{lake_root}/{deployment_id}``,
    ``1970-01-01`` when empty (export.py:75-87).

    Reads partition *names* only (`snapshot_date=YYYYMMDD` dirs) — a
    single listing, zero data IO, at any scale. Works on any Hadoop-
    compatible FS; the local implementation is os.listdir for tests.
    """
    base = os.path.join(lake_root, f"deployment_id={deployment_id}")
    if not os.path.isdir(base):
        return EPOCH_DATE
    best = EPOCH_DATE
    for name in os.listdir(base):
        if not name.startswith("snapshot_date="):
            continue
        seg = name.split("=", 1)[1]
        if len(seg) == 8 and seg.isdigit():
            d = dt.datetime.strptime(seg, "%Y%m%d").date()
            best = max(best, d)
    return best


def fresh_completed_runs(
    scan_docs: DataFrame, floor: dt.date
) -> DataFrame:
    """P4+P5 — explode each scan's history, keep completed runs modified
    on/after the floor date (export.py:231,235).

    Returns (scan_id, history_id, status, last_modification_date).
    """
    with_hist = scan_docs.filter(F.col("history").isNotNull())
    runs = with_hist.select(
        F.col("id").alias("scan_id"), F.explode("history").alias("h")
    ).select(
        "scan_id",
        F.col("h.history_id").alias("history_id"),
        F.col("h.status").alias("status"),
        F.col("h.last_modification_date").alias("last_modification_date"),
    )
    return runs.filter(
        (F.col("status") == "completed")
        & (epoch_to_date("last_modification_date") >= F.lit(floor.isoformat()).cast("date"))
    )


def write_partitioned(
    df: DataFrame,
    lake_root: str,
    deployment_id: str,
    snapshot_date: dt.date,
    file_type: str | None = None,
) -> None:
    """S4 — the partitioned parquet lake sink: ``{lake_root}/
    deployment_id=…/snapshot_date=YYYYMMDD/`` (the reference's key
    layout, export.py:97, as real partition columns so readers prune)."""
    out = df.withColumn("deployment_id", F.lit(deployment_id)).withColumn(
        "snapshot_date", F.lit(snapshot_date.strftime("%Y%m%d"))
    )
    path = lake_root if file_type is None else os.path.join(lake_root, file_type)
    (
        out.write.mode("overwrite")
        # dynamic: replace only the partitions this write produces.
        # Static overwrite would clobber every previous snapshot under
        # the root — re-running a day must be idempotent for THAT day.
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("deployment_id", "snapshot_date")
        .parquet(path)
    )


def run_export(
    spark: SparkSession,
    scan_docs: DataFrame,
    scan_run_docs: DataFrame,
    lake_root: str,
    deployment_id: str,
    mode: str = "watermark",
    lookback_days: int = 30,
    today: dt.date | None = None,
) -> dict[str, int]:
    """One parameterized pipeline for both reference entry points
    (§2.11). Returns counts per written document type.

    ``scan_docs``/``scan_run_docs`` stand where the reference does REST
    fetches (S1/S2) — sources are DataFrames regardless of transport;
    tests feed fixture documents.
    """
    if mode not in ("watermark", "lookback"):
        raise ValueError(f"unknown mode: {mode!r}")
    today = today or dt.date.today()

    if mode == "watermark":
        floor = compute_watermark(os.path.join(lake_root, "scan_run"), deployment_id)
    else:
        # A lookback longer than the calendar means "everything".
        try:
            floor = today - dt.timedelta(days=lookback_days)
        except OverflowError:
            floor = dt.date(1970, 1, 1)

    fresh = fresh_completed_runs(scan_docs, floor).select("scan_id", "history_id")

    # Restrict the nested documents to fresh runs: broadcast semi join
    # (J3 shape) — `fresh` is tiny relative to the documents. The join
    # moves its keys first; the lake keeps the documents' column order,
    # so its files match the declared SCAN_RUN_DOC_SCHEMA.
    new_runs = scan_run_docs.join(
        F.broadcast(fresh), ["scan_id", "history_id"], "left_semi"
    ).select(scan_run_docs.columns)

    # A4 existence gate (export.py:222,238) measured BY the write itself
    # (Observation rides the job) — one pass over the documents, not a
    # count pass plus a write pass. An empty write is a no-op under
    # dynamic partition overwrite, so writing before knowing is safe.
    from pyspark.sql import Observation

    obs = Observation("export_gate")
    write_partitioned(
        new_runs.observe(obs, F.count(F.lit(1)).alias("n")),
        lake_root,
        deployment_id,
        today,
        file_type="scan_run",
    )
    n_new = obs.get["n"]
    written = {"scan_run": int(n_new), "folder": 0, "scan": 0}

    # Dimension snapshots: gated in watermark mode (export.py:240-243),
    # unconditional in lookback mode (export_last_month.py:122-124,213).
    if mode == "lookback" or n_new > 0:
        dims = scan_docs.select("id", "folder_id", "type", "name").withColumnRenamed(
            "id", "scan_id"
        )
        folders = (
            scan_docs.select(F.col("folder_id").alias("id")).dropDuplicates()
        )
        # counts measured BY the writes (Observation rides each job) —
        # no extra count() jobs after the fact, same as the scan_run gate
        obs_scan = Observation("export_dims")
        obs_folder = Observation("export_folders")
        write_partitioned(
            dims.observe(obs_scan, F.count(F.lit(1)).alias("n")),
            lake_root, deployment_id, today, file_type="scan",
        )
        write_partitioned(
            folders.observe(obs_folder, F.count(F.lit(1)).alias("n")),
            lake_root, deployment_id, today, file_type="folder",
        )
        written["scan"] = int(obs_scan.get["n"])
        written["folder"] = int(obs_folder.get["n"])

    return written
