"""Declared-schema reads. The silver tables and the landed ``scan_run``
lake are read with the schemas ``sources.nessus_schemas`` declares, and
the ``events`` table has one reader (batch and streaming) that detects
its ``ts`` encoding from the parquet footer.

The drift tests keep each declaration equal to what the writers land: a
normalize or export change that adds or retypes a column fails here
instead of reading nulls. The boundary tests pin that the reads launch
no Spark job and leave the session conf alone."""

import datetime as dt
import os
import uuid

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from nessus_client_etl_scripts_spark.catalog import load_table
from nessus_client_etl_scripts_spark.pipeline import fixtures, normalize
from nessus_client_etl_scripts_spark.pipeline.export_pipeline import run_export
from nessus_client_etl_scripts_spark.plans.streaming_queries import stream_events
from nessus_client_etl_scripts_spark.sources.lake import read_scan_run_documents
from nessus_client_etl_scripts_spark.sources.nessus_schemas import (
    SCAN_RUN_DOC_SCHEMA,
    SILVER_SCHEMAS,
)

DEP = "deadbeef-0000-4000-8000-000000000009"
PARTITION_COLUMNS = ("deployment_id", "snapshot_date")
NANOS_CONF = "spark.sql.legacy.parquet.nanosAsLong"


def _jobs(spark, read):
    """``(read(), the Spark jobs it launched)``, counted under a job
    group as ``runner.run_query`` counts a query's jobs."""
    sc = spark.sparkContext
    group = f"declared-read-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = read()
        sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
        return out, len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc._jsc.clearJobGroup()


@pytest.fixture(scope="module")
def lake(spark, tmp_path_factory):
    """The FIXTURES documents landed by ``run_export``: (root, how many
    scan-run documents it wrote)."""
    root = str(tmp_path_factory.mktemp("lake"))
    written = run_export(
        spark, fixtures.scan_docs(spark), fixtures.scan_run_docs(spark), root,
        DEP, mode="lookback", today=dt.date(2024, 2, 1),
    )
    assert written["scan_run"] > 0
    return root, written["scan_run"]


@pytest.fixture
def nanos_events(tmp_path):
    """A pyarrow-written events table whose ``ts`` is INT64
    TIMESTAMP(NANOS), with sub-micro digits; returns (sf_dir, nanos)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    nanos = [1_704_067_200_000_000_999, 1_704_067_260_123_456_789, 1_704_153_600_000_001_000]
    tbl = pa.table(
        {
            "event_id": pa.array([1, 2, 3], pa.int64()),
            "ts": pa.array(nanos, pa.timestamp("ns")),
            "user_id": pa.array([7, 7, 8], pa.int64()),
            "event_type": ["click", "purchase", "click"],
            "value": [0.5, 1.5, 2.5],
            "props": ["{}"] * 3,
        }
    )
    pq.write_table(tbl, str(tmp_path / "events.parquet"))
    col = pq.ParquetFile(str(tmp_path / "events.parquet")).schema.column(1)
    assert (col.path, col.physical_type) == ("ts", "INT64")
    assert '"timeUnit": "nanoseconds"' in col.logical_type.to_json()
    return str(tmp_path), nanos


def _micros(df):
    rows = df.select("event_id", F.unix_micros("ts").alias("us")).collect()
    return [r.us for r in sorted(rows, key=lambda r: r.event_id)]


# -- drift: the declarations equal what the writers land --------------------

def test_silver_root_holds_exactly_the_declared_tables(silver_root):
    assert sorted(os.listdir(silver_root)) == sorted(SILVER_SCHEMAS)


@pytest.mark.parametrize("name", sorted(SILVER_SCHEMAS))
def test_silver_declared_schema_equals_inferred(spark, silver_root, name):
    inferred = spark.read.parquet(os.path.join(silver_root, name)).schema
    assert inferred == SILVER_SCHEMAS[name]


def test_scan_run_doc_schema_equals_landed_lake(spark, lake):
    root, _ = lake
    inferred = spark.read.parquet(os.path.join(root, "scan_run")).schema
    data = T.StructType([f for f in inferred if f.name not in PARTITION_COLUMNS])
    assert data == SCAN_RUN_DOC_SCHEMA
    assert inferred.names[-2:] == list(PARTITION_COLUMNS)


# -- read boundary: no job, no session conf ---------------------------------

def test_declared_reads_launch_no_job(spark, silver_root, lake):
    # the counter sees an inference job
    _, jobs = _jobs(spark, lambda: spark.read.parquet(os.path.join(silver_root, "host")))
    assert jobs == 1

    tables, jobs = _jobs(spark, lambda: normalize.read_silver(spark, silver_root))
    assert jobs == 0
    assert {n: df.schema for n, df in tables.items()} == SILVER_SCHEMAS

    root, written = lake
    docs, jobs = _jobs(spark, lambda: read_scan_run_documents(spark, root, DEP))
    assert jobs == 0
    assert docs.columns == SCAN_RUN_DOC_SCHEMA.names + list(PARTITION_COLUMNS)
    assert docs.count() == written


def test_nanos_events_read_launches_no_job_and_floors_to_micros(spark, nanos_events):
    sf_dir, nanos = nanos_events
    df, jobs = _jobs(spark, lambda: load_table(spark, sf_dir, "events"))
    assert jobs == 0
    assert df.schema["ts"].dataType == T.TimestampType()
    assert df.columns == ["event_id", "ts", "user_id", "event_type", "value", "props"]
    assert _micros(df) == [n // 1000 for n in nanos]

    ev, jobs = _jobs(spark, lambda: stream_events(spark, sf_dir))
    assert jobs == 0 and ev.isStreaming
    assert ev.schema["ts"].dataType == T.TimestampType()


def test_events_readers_leave_session_conf_alone(spark, nanos_events, tmp_path):
    """On a session with its own SQL conf, both readers of a NANOS
    events table leave ``nanosAsLong`` unset and read the micros floor."""
    sf_dir, nanos = nanos_events
    s = spark.newSession()
    assert NANOS_CONF not in s.conf.getAll

    batch = load_table(s, sf_dir, "events")
    ev = stream_events(s, sf_dir)
    assert NANOS_CONF not in s.conf.getAll

    sink = f"nanos_events_{uuid.uuid4().hex[:8]}"
    q = (
        ev.writeStream.format("memory").queryName(sink).outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination()
    want = [n // 1000 for n in nanos]
    assert _micros(batch) == want
    assert _micros(s.table(sink)) == want
    assert NANOS_CONF not in s.conf.getAll
