"""Incremental ingest as Structured Streaming — the AvailableNow twin
of the batch watermark pipeline (SURVEY.md §2.9).

Batch mode discovers new work by scanning the sink's partition layout
for the max date (export.py:75-87). The streaming form replaces that
with the file source's checkpointed offset log: each run of
``Trigger.AvailableNow`` processes exactly the files not yet committed,
then exits — same cron-ability, exactly-once file accounting, no
LIST-and-max race.

Normalization inside ``foreachBatch`` reuses the batch bronze→silver
plan per micro-batch with ``id_mode='hash'`` (deterministic surrogate
keys across batches — a re-delivered document maps to the same ids, so
downstream dedup is a key-equality problem, not a heuristic).

Scale posture: the file source's listing is incremental; every
transformation inside the batch is the same narrow explode chain as
batch mode (no shuffle but the plugin dedup).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from ..pipeline.normalize import normalize_scan_runs
from ..sources.nessus_schemas import SCAN_RUN_DOC_SCHEMA


def stream_scan_run_documents(spark: SparkSession, source_dir: str) -> DataFrame:
    """readStream over landed scan-run JSON documents with the declared
    bronze schema (streaming requires one; inference is off the table
    at scale anyway)."""
    return (
        spark.readStream.schema(SCAN_RUN_DOC_SCHEMA)
        .option("multiLine", "true")
        .json(source_dir)
    )


def run_incremental_normalize(
    spark: SparkSession,
    source_dir: str,
    silver_root: str,
    checkpoint_dir: str,
) -> None:
    """One AvailableNow pass: new documents → silver parquet.

    Each micro-batch runs the full bronze→silver normalization and
    lands under a ``_batch_id=<epoch>`` partition with DYNAMIC
    partition overwrite. Structured Streaming replays a failed batch
    under the SAME batch_id (the checkpointed epoch), so a replay
    overwrites its own partition instead of double-appending — the
    standard foreachBatch idempotence pattern. Content-derived
    surrogate ids (id_mode='hash') additionally make any
    cross-batch re-delivery a key-equality dedup, not a heuristic;
    `plugin` readers dedup on plugin_id (latest-wins compaction is a
    separate concern, as in any streaming dimension load).
    """
    streamed = stream_scan_run_documents(spark, source_dir)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        from pyspark.sql import functions as F

        tables = normalize_scan_runs(batch_df, id_mode="hash")
        for name, df in tables.items():
            (
                df.withColumn("_batch_id", F.lit(batch_id))
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("_batch_id")
                .parquet(os.path.join(silver_root, name))
            )

    q = (
        streamed.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    if q.isActive:
        q.stop()
        raise TimeoutError("incremental normalize did not drain in time")
