"""Structured Streaming tests: AvailableNow incremental normalize
(checkpoint replaces the batch watermark), watermarked windows,
session windows, and the custom stateful operator."""

import json
import os

import pyspark.sql.functions as F

from nessus_client_etl_scripts_spark.pipeline import fixtures
from nessus_client_etl_scripts_spark.streaming import (
    run_incremental_normalize,
    sessionized_stream,
    windowed_severity_counts,
)


def _land_documents(path, scan_ids, runs):
    os.makedirs(path, exist_ok=True)
    for s in scan_ids:
        for r in runs:
            doc = fixtures.scan_run_doc(s, r)
            with open(os.path.join(path, f"scan_run_{s}_{doc['history_id']}.json"), "w") as f:
                json.dump(doc, f)


def test_incremental_normalize_exactly_once(spark, tmp_path):
    """Two AvailableNow passes: the second run processes ONLY files
    landed since the first (checkpointed offsets = the watermark)."""
    src = str(tmp_path / "landed")
    silver = str(tmp_path / "silver")
    ckpt = str(tmp_path / "ckpt")

    _land_documents(src, scan_ids=[0, 1], runs=[0, 1])
    run_incremental_normalize(spark, src, silver, ckpt)
    sr = spark.read.parquet(f"{silver}/scan_run")
    assert sr.count() == 4

    # second pass with no new files: nothing appended
    run_incremental_normalize(spark, src, silver, ckpt)
    assert spark.read.parquet(f"{silver}/scan_run").count() == 4

    # land one new document → exactly one new row
    _land_documents(src, scan_ids=[2], runs=[0])
    run_incremental_normalize(spark, src, silver, ckpt)
    sr = spark.read.parquet(f"{silver}/scan_run")
    assert sr.count() == 5
    assert sr.filter(F.col("scan_id") == 2).count() == 1

    # hash-mode surrogate FKs hold across batches
    hv = spark.read.parquet(f"{silver}/host_vuln")
    vo = spark.read.parquet(f"{silver}/vuln_output")
    assert vo.join(hv, "host_vuln_id", "left_anti").count() == 0
    assert hv.count() == hv.select("host_vuln_id").distinct().count()


def test_windowed_counts_batch_streaming_parity(spark, tmp_path):
    """The SAME operator expression runs in both modes and agrees —
    one semantics, two execution engines."""
    rows = [
        (1, "2024-01-01 10:05:00", "a", 1.0),
        (2, "2024-01-01 10:55:00", "a", 2.0),
        (3, "2024-01-01 11:05:00", "b", 4.0),
    ]
    batch = spark.createDataFrame(
        rows, "event_id long, ts string, event_type string, value double"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    expected = {
        (r.window_start.hour, r.event_type): (r.n_events, r.total_value)
        for r in windowed_severity_counts(batch).collect()
    }
    assert expected == {(10, "a"): (2, 3.0), (11, "b"): (1, 4.0)}

    src = str(tmp_path / "ev")
    os.makedirs(src)
    with open(f"{src}/ev.json", "w") as f:
        for eid, ts, et, v in rows:
            f.write(json.dumps({"event_id": eid, "ts": ts, "event_type": et, "value": v}) + "\n")
    stream = (
        spark.readStream.schema("event_id long, ts timestamp, event_type string, value double")
        .json(src)
    )
    q = (
        windowed_severity_counts(stream)
        .writeStream.format("memory")
        .queryName("win_parity")
        # complete mode: emits all window state each trigger. (append
        # would emit only watermark-CLOSED windows — and a terminating
        # AvailableNow run does not finalize still-open ones.)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.window_start.hour, r.event_type): (r.n_events, r.total_value)
        for r in spark.sql("SELECT * FROM win_parity").collect()
    }
    assert got == expected


def test_sessionized_stream_batch_mode(spark):
    rows = [
        (1, "2024-01-01 10:00:00", 1.0),
        (1, "2024-01-01 10:10:00", 2.0),  # same session (gap 30m)
        (1, "2024-01-01 12:00:00", 3.0),  # new session
        (2, "2024-01-01 10:00:00", 5.0),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts string, value double").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    out = sessionized_stream(df).orderBy("user_id", "session_start").collect()
    assert [(r.user_id, r.n_events, r.session_value) for r in out] == [
        (1, 2, 3.0),
        (1, 1, 3.0),
        (2, 1, 5.0),
    ]


def test_running_severity_totals_state(spark, tmp_path):
    """applyInPandasWithState accumulates across micro-batches."""
    from nessus_client_etl_scripts_spark.streaming.stateful import (
        running_severity_totals,
    )

    src = str(tmp_path / "runs")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)

    def land(fname, scan_id, crit):
        row = {
            "scan_id": scan_id,
            "critical_count": crit,
            "high_count": 1,
            "medium_count": 0,
            "low_count": 0,
            "info_count": 0,
        }
        with open(f"{src}/{fname}", "w") as f:
            f.write(json.dumps(row) + "\n")

    schema = (
        "scan_id int, critical_count int, high_count int, "
        "medium_count int, low_count int, info_count int"
    )

    out = str(tmp_path / "out")

    def drain(pass_dir):
        # memory sink can't recover from a checkpoint; foreachBatch can
        stream = spark.readStream.schema(schema).json(src)
        q = (
            running_severity_totals(stream)
            .writeStream.foreachBatch(
                lambda df, _bid: df.write.mode("append").parquet(f"{out}/{pass_dir}")
            )
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return {
            r.scan_id: (r.total_critical_count, r.n_runs)
            for r in spark.read.parquet(f"{out}/{pass_dir}").collect()
        }

    land("a.json", 1, 3)
    assert drain("p1") == {1: (3, 1)}
    land("b.json", 1, 2)  # second batch: totals accumulate via state
    assert drain("p2") == {1: (5, 2)}


def test_streaming_sessions_gap_boundary(spark, tmp_path):
    """session_window merges on touch: an event exactly gap after the
    previous one EXTENDS the session (inclusive boundary) — the <=
    semantics q53's oracle mirrors."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from nessus_client_etl_scripts_spark.plans.streaming_queries import (
        q53,
    )

    base = pd.Timestamp("2024-01-01 00:00:00")
    pdf = pd.DataFrame(
        {
            "event_id": [1, 2, 3],
            "ts": pd.to_datetime(
                [base, base + pd.Timedelta(minutes=30),
                 base + pd.Timedelta(minutes=59)]
            ),
            "user_id": [7, 7, 7],
            "event_type": ["a"] * 3,
            "value": [1.0, 2.0, 4.0],
            "props": ["{}"] * 3,
        }
    )
    tbl = pa.Table.from_pandas(pdf, preserve_index=False)
    tbl = tbl.set_column(
        1, "ts", tbl.column("ts").cast(pa.timestamp("ns"))
    )
    pq.write_table(tbl, str(tmp_path / "events.parquet"))
    rows = {
        (r["session_start"].isoformat(), r["n_events"], r["session_value"])
        for r in q53(spark, str(tmp_path)).collect()
    }
    # event 2 lands exactly at gap → session extends (merge-on-touch);
    # event 3 is 29 min after event 2 → still the same session
    assert rows == {("2024-01-01T00:00:00", 3, 7.0)}


def test_watermark_drops_late_event_append_mode(spark, tmp_path):
    """End-to-end late-data semantics: append mode emits a window once
    the watermark passes its end, and an event arriving AFTER that
    horizon is dropped — it must neither re-emit nor update the closed
    window. Two availableNow RUNS over one checkpoint: the committed
    watermark (11:45 after run 1) carries into run 2, exactly the
    incremental-cron deployment shape."""
    import os

    src = str(tmp_path / "late_ev")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    os.makedirs(src)

    def land(name, rows):
        with open(f"{src}/{name}", "w") as f:
            for eid, ts, et, v in rows:
                f.write(
                    json.dumps(
                        {"event_id": eid, "ts": ts, "event_type": et, "value": v}
                    )
                    + "\n"
                )

    def run_once():
        stream = spark.readStream.schema(
            "event_id long, ts timestamp, event_type string, value double"
        ).json(src)
        q = (
            windowed_severity_counts(stream, watermark="10 minutes")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return {
            r.window_start.hour: (r.n_events, r.total_value)
            for r in spark.read.parquet(out).collect()
        }

    # run 1: one event in the 10h window, one at 11:55 → watermark
    # commits at 11:45, which closes (and emits) the 10h window
    land("a.json", [(1, "2024-01-01 10:05:00", "a", 1.0),
                    (2, "2024-01-01 11:55:00", "a", 2.0)])
    assert run_once() == {10: (1, 1.0)}

    # run 2: a LATE event for the closed 10h window (beyond the
    # restored watermark — must be dropped, not resurrect or mutate
    # the emitted window) and an on-time 12:30 event that closes the
    # 11h window
    land("b.json", [(3, "2024-01-01 10:20:00", "a", 100.0),
                    (4, "2024-01-01 12:30:00", "a", 4.0)])
    # cumulative sink contents: the late 100.0 appears NOWHERE
    assert run_once() == {10: (1, 1.0), 11: (1, 2.0)}


def test_sliding_window_multiplicity_vs_tumbling(spark):
    """q113's sliding 1h/15min windows must hold exactly size/slide=4
    rows per (event, window) relative to the tumbling hourly rollup:
    per event_type, sliding n_events sums to 4x the tumbling sum, and
    every tumbling hour boundary is also a sliding window start."""
    import __spark_entry__ as m
    import pyspark.sql.functions as F

    sf = "/root/testdata/sf0.001"
    sliding = m.queries()["q113_streaming_sliding"](spark, sf)
    tumbling = m.queries()["q68_streaming_hourly"](spark, sf)
    s = {
        r["event_type"]: r["n"]
        for r in sliding.groupBy("event_type").agg(F.sum("n_events").alias("n")).collect()
    }
    t = {
        r["event_type"]: r["n"]
        for r in tumbling.groupBy("event_type").agg(F.sum("n_events").alias("n")).collect()
    }
    assert s == {k: 4 * v for k, v in t.items()}
    slide_starts = {r["window_start"] for r in sliding.select("window_start").collect()}
    for r in tumbling.select("window_start").collect():
        assert r["window_start"] in slide_starts


def test_run_available_now_conf_safe_under_concurrency(spark):
    """Three concurrent run_available_now calls on one caller session
    (the compare_oracle --jobs shape): every stream runs on a child
    session of its own, so afterwards the caller's SQL conf and the
    names in its catalog are exactly what they were before."""
    import threading

    from pyspark.sql import functions as F

    from nessus_client_etl_scripts_spark.plans.streaming_queries import (
        run_available_now,
        stream_events,
    )

    conf = spark.conf.getAll
    tables = {t.name for t in spark.catalog.listTables()}
    errs = []

    def plan(session):
        return (
            stream_events(session, "/root/testdata/sf0.001")
            .groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n"))
        )

    def drain(i: int) -> None:
        try:
            assert run_available_now(spark, plan, f"conf_race_{i}").count() > 0
        except Exception as e:  # noqa: BLE001
            errs.append(e)

    threads = [threading.Thread(target=drain, args=(i,)) for i in range(3)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
        assert not t.is_alive()
    assert not errs, errs
    assert spark.conf.getAll == conf
    assert {t.name for t in spark.catalog.listTables()} == tables


def test_run_available_now_child_session(spark, monkeypatch):
    """The stream runs on a child session with 8 shuffle partitions and
    the caller's time zone, and its checkpoint directory is gone once
    run_available_now returns; the memory sink still holds the rows."""
    import tempfile

    from pyspark.sql import functions as F

    from nessus_client_etl_scripts_spark.plans.streaming_queries import (
        run_available_now,
        stream_events,
    )

    made = []
    mkdtemp = tempfile.mkdtemp

    def recording_mkdtemp(*args, **kwargs):
        made.append(mkdtemp(*args, **kwargs))
        return made[-1]

    monkeypatch.setattr(tempfile, "mkdtemp", recording_mkdtemp)
    sink = run_available_now(
        spark,
        lambda session: stream_events(session, "/root/testdata/sf0.001")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n")),
        "ckpt_cleanup",
    )
    child = sink.sparkSession
    assert child.conf.get("spark.sql.shuffle.partitions") == "8"
    tz = "spark.sql.session.timeZone"
    assert child.conf.get(tz) == spark.conf.get(tz)
    assert len(made) == 1
    assert not os.path.exists(made[0])
    assert sink.count() > 0
