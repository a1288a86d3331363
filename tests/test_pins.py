"""Pin lifecycle (nessus_client_etl_scripts_spark/pins.py): the
deterministic release of localCheckpointed frames at query boundaries
— the round-13 fix for session-scale RDD-block accumulation (the r12
verdict's top finding: ~690 query executions piled up dead checkpoint
blocks and the dedup/LSH family paid 2-4x in-bench inflation)."""

from __future__ import annotations

import threading
import types
import warnings

import pytest
from pyspark.sql import functions as F

from nessus_client_etl_scripts_spark import pins, runner


def _n_persistent(spark) -> int:
    return spark.sparkContext._jsc.sc().getPersistentRDDs().size()


def test_pin_returns_checkpointed_frame_and_drain_releases(spark):
    pins.drain()  # start clean on this thread
    base = _n_persistent(spark)
    df = spark.range(1000).withColumn("x", F.col("id") * 2)
    ck = pins.pin(df)
    # checkpointed: lineage truncated to an RDD scan, values intact
    assert "LogicalRDD" in ck._jdf.queryExecution().optimizedPlan().toString()
    assert ck.count() == 1000
    assert _n_persistent(spark) == base + 1
    assert pins.drain() == 1
    assert _n_persistent(spark) == base


def test_pin_lazy_materializes_with_first_action(spark):
    pins.drain()
    base = _n_persistent(spark)
    ck = pins.pin_lazy(spark.range(500))
    ck.write.format("noop").mode("overwrite").save()
    assert _n_persistent(spark) == base + 1
    pins.drain()
    assert _n_persistent(spark) == base


def test_drain_is_safe_on_never_materialized_lazy_pin(spark):
    pins.drain()
    pins.pin_lazy(spark.range(10))
    assert pins.drain() == 1  # no-op unpersist, no error
    assert pins.drain() == 0  # registry empty after a drain


def test_drain_is_thread_local(spark):
    """A drain on one thread must never release another thread's live
    pins — the oracle harness runs queries concurrently (--jobs N)."""
    pins.drain()
    ck_other = {}
    done = threading.Event()
    release = threading.Event()

    def other():
        ck_other["df"] = pins.pin(spark.range(200))
        done.set()
        release.wait(30)
        # this thread's registry still holds its pin: it drains here
        ck_other["drained"] = pins.drain()

    t = threading.Thread(target=other)
    t.start()
    assert done.wait(30)
    assert pins.drain() == 0  # other thread's pin is not ours to drop
    assert ck_other["df"].count() == 200  # still materialized and usable
    release.set()
    t.join(30)
    assert ck_other["drained"] == 1


def test_drained_pins_do_not_accumulate_blocks_across_queries(spark):
    """The bench posture: run a pin-bearing 'query' repeatedly with a
    drain at each boundary; the persistent-RDD census must not grow."""
    pins.drain()
    base = _n_persistent(spark)
    for _ in range(5):
        out = pins.pin(spark.range(300).withColumn("y", F.col("id") + 1))
        out.write.format("noop").mode("overwrite").save()
        pins.drain()
    assert _n_persistent(spark) == base


def test_drain_counts_and_warns_once_when_unpersist_fails(monkeypatch):
    """A broken private unpersist path must be visible, not a silent
    no-op: each failure is counted, the first one warns."""
    monkeypatch.setattr(pins, "failures", 0)

    def raise_(blocking):
        raise RuntimeError("unpersist path broken")

    broken = types.SimpleNamespace(unpersist=raise_)
    monkeypatch.setattr(pins, "_persistent_rdds", lambda: {7: broken, 8: broken})
    pins._registry().extend([7, 8])
    with pytest.warns(RuntimeWarning, match="unpersist failed") as caught:
        assert pins.drain() == 0
    assert len(caught) == 1
    assert pins.failures == 2
    pins._registry().append(7)
    with warnings.catch_warnings():
        warnings.simplefilter("error")  # a second warning would raise here
        assert pins.drain() == 0
    assert pins.failures == 3


def test_registry_holds_rdd_ids_not_frames(spark):
    """The registry keeps no DataFrame reachable: a session that never
    drains leaves its checkpoints to the ContextCleaner."""
    pins.drain()
    ck = pins.pin(spark.range(50))
    pins.pin_lazy(spark.range(20))
    reg = list(pins._registry())
    assert len(reg) == 2 and all(type(i) is int for i in reg)
    assert reg[0] == ck._jdf.queryExecution().logical().rdd().id()
    assert pins.drain() == 2


def test_drain_skips_ids_already_released(spark, monkeypatch):
    """An id no longer persisted (the ContextCleaner got there first)
    is neither released again nor a failure."""
    monkeypatch.setattr(pins, "failures", 0)
    pins.drain()
    base = _n_persistent(spark)
    ck = pins.pin(spark.range(30))
    ck._jdf.queryExecution().logical().rdd().unpersist(True)
    assert _n_persistent(spark) == base
    assert pins.drain() == 0
    assert pins.failures == 0


def test_run_query_drains_pins_when_the_query_raises(spark):
    pins.drain()
    base = _n_persistent(spark)

    def broken(spark, sf_dir):
        pins.pin(spark.range(100))
        raise RuntimeError("query failed after pinning")

    with pytest.raises(RuntimeError, match="after pinning"):
        runner.run_query(spark, "broken", broken, "unused")
    assert _n_persistent(spark) == base


def test_run_query_collects_rows_and_counts_only_its_own_jobs(spark):
    pins.drain()
    base = _n_persistent(spark)

    def fn(spark, sf_dir):
        return pins.pin(spark.range(5)).withColumn("y", F.col("id") * 2)

    run = runner.run_query(spark, "pinned", fn, "unused", collect=True)
    assert run.columns == ["id", "y"]
    assert sorted(run.rows) == [(i, 2 * i) for i in range(5)]
    assert run.jobs >= 2  # the eager pin, then the collect
    # same job group again: the earlier run's jobs are not counted
    again = runner.run_query(spark, "pinned", fn, "unused")
    assert again.columns is None and again.rows is None
    assert 1 <= again.jobs <= run.jobs
    assert again.seconds > 0
    assert _n_persistent(spark) == base


def test_explain_query_returns_the_plan_and_drains(spark):
    pins.drain()
    base = _n_persistent(spark)
    plan = runner.explain_query(
        spark, lambda s, _: pins.pin(s.range(10)).filter("id > 3"), "unused"
    )
    assert "== Physical Plan ==" in plan and "Filter" in plan
    assert _n_persistent(spark) == base
