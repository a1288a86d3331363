"""Deterministic lifecycle for localCheckpoint-pinned frames.

The engine pins multi-consumer / iteratively-reused frames with
``DataFrame.localCheckpoint`` (truncate lineage, materialize once).
Left alone, the checkpointed RDD blocks live until the JVM
ContextCleaner happens to notice the dead Python-side weak refs —
i.e. until a JVM GC — so a long-lived session that executes hundreds
of queries (the bench runs ~690 query executions; a production
cluster session runs far more) accumulates dead blocks that evict
executor storage memory and inflate later queries. Measured in round
12: the checkpoint-heavy dedup/LSH family read 2-4x slower in-bench
than isolated purely from this accumulation.

Fix: every pin is registered here and released *deterministically*
at the next query boundary via ``drain()`` — the exact cleanup the
ContextCleaner would eventually do (``SparkContext.unpersistRDD`` on
the checkpointed RDD), just not left to GC timing. The registry holds
the checkpoint RDD's id, not the DataFrame: a session that never
drains (a caller iterating ``__spark_entry__.queries()`` itself) keeps
no pinned frame reachable, so the ContextCleaner can still reclaim
its blocks.

Contract:

- ``pin(df)`` / ``pin_lazy(df)`` replace ``df.localCheckpoint(True/
  False)`` everywhere in the engine (call sites use
  ``DataFrame.transform`` so method chains read unchanged).
- ``drain()`` releases every pin registered on the CURRENT thread and
  must only run at a query boundary: a drained pin's lineage is
  truncated, so it can never be recomputed — re-executing a DataFrame
  built before the drain raises CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND.
  Harness call site: ``runner.run_query`` / ``runner.explain_query``
  (in a ``finally`` after each query's action or plan build), which
  bench.py and tools/compare_oracle.py, opt_bench.py and dump_plans.py
  run every query through; the benchmark (perfbench/) drains in its
  own query loops.
- The registry is thread-local because the oracle harness runs
  queries concurrently on one session (``--jobs N``): a query builds
  and consumes its pins wholly on its worker thread, and a drain on
  thread A must never release a pin still live inside thread B's
  running query. The engine itself never submits jobs from extra
  threads, so a query's pins always land on the thread that drains
  them.

``drain()`` is maintenance, not computation: pins are never shared
across queries (each declared query constructs its own frames), so
releasing them cannot skip work for — only relieve memory pressure
on — whatever runs next.

A failed unpersist is counted in ``failures`` (process-wide) and warned
about once per process: if a Spark upgrade breaks the private
``getPersistentRDDs`` / ``unpersist`` path, draining must not silently
become a no-op that leaves the blocks to the ContextCleaner again. An
id that is no longer persisted (the ContextCleaner or a stopped
context got there first) is not a failure: there is nothing to release.
"""

from __future__ import annotations

import threading
import warnings

from pyspark import SparkContext
from pyspark.sql import DataFrame

_TLS = threading.local()
_FAILURES_LOCK = threading.Lock()
failures = 0  # unpersist calls that raised in drain(), all threads


def _registry() -> list[int]:
    reg = getattr(_TLS, "pins", None)
    if reg is None:
        reg = _TLS.pins = []
    return reg


def _register(out: DataFrame) -> DataFrame:
    # Dataset.localCheckpoint returns a Dataset over LogicalRDD whose
    # `rdd` IS the persisted checkpoint RDD (persisted at checkpoint
    # time, eager or lazy)
    _registry().append(out._jdf.queryExecution().logical().rdd().id())
    return out


def pin(df: DataFrame) -> DataFrame:
    """Eager local checkpoint (materializes now, its own job),
    registered for release at the next ``drain()`` on this thread."""
    return _register(df.localCheckpoint(eager=True))


def pin_lazy(df: DataFrame) -> DataFrame:
    """Lazy local checkpoint (materialized by the first action that
    computes it), registered for release at the next ``drain()``."""
    return _register(df.localCheckpoint(eager=False))


def _persistent_rdds():
    """The driver's persisted RDDs by id (empty without a live context)."""
    sc = SparkContext._active_spark_context
    return {} if sc is None else sc._jsc.getPersistentRDDs()


def drain() -> int:
    """Release every pin registered on this thread; returns how many
    were unpersisted. Safe on never-materialized lazy pins (no-op
    block removal). Only call at a query boundary — see module doc.
    A pin whose unpersist raises is counted in ``failures``, not
    released, and does not fail the caller."""
    global failures
    reg = _registry()
    ids, reg[:] = list(reg), []
    live = None
    n = 0
    for rdd_id in ids:
        try:
            if live is None:
                live = _persistent_rdds()
            rdd = live.get(rdd_id)
            if rdd is None:  # already released: nothing to do
                continue
            # exactly the ContextCleaner's doCleanupRDD, done now instead
            # of after an eventual JVM GC. BLOCKING on purpose: drain
            # runs in the untimed gap between queries, and an async
            # removal would push the block-manager churn into whatever
            # runs next (measured: a non-blocking drain taxed the
            # mid-tier of the full bench ~0.1-0.5 s per query).
            rdd.unpersist(True)
            n += 1
        except Exception as e:  # noqa: BLE001 — a dead JVM/session must not
            # turn cleanup into a query failure, but must not go unseen
            with _FAILURES_LOCK:
                failures += 1
                first = failures == 1
            if first:
                warnings.warn(
                    f"pins.drain: unpersist failed ({type(e).__name__}: {e}); "
                    "failed pins stay cached until the JVM ContextCleaner "
                    "reclaims them (further failures are only counted in "
                    "pins.failures)",
                    RuntimeWarning,
                    stacklevel=2,
                )
    return n
