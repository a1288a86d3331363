"""The query boundary every harness shares: build one declared query's
plan, run one action on it, release the query's pins.

``bench.py`` and the tools under ``tools/`` run declared queries through
:func:`run_query` (and plan dumps through :func:`explain_query`), so the
boundary rules live here once:

- ``gc.collect()`` before the query, so Python-side DataFrame refs of the
  previous query reach the JVM ContextCleaner outside the timed region;
- the query's jobs carry its name as the job group;
- only the build and the action are timed;
- ``pins.drain()`` runs in a ``finally``, so a query that raises still
  releases what it pinned.
"""

from __future__ import annotations

import gc
import time
from collections.abc import Callable
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession

from . import pins

QueryFn = Callable[[SparkSession, str], DataFrame]


class QueryRun(NamedTuple):
    seconds: float  # build + action wall time
    jobs: int  # Spark jobs the query launched under its job group
    columns: list[str] | None  # set when collected
    rows: list[tuple] | None  # set when collected


def run_query(
    spark: SparkSession, name: str, fn: QueryFn, sf_dir: str, *, collect: bool = False
) -> QueryRun:
    """Run ``fn(spark, sf_dir)`` to a noop sink, or collect its rows with
    ``collect``. Exceptions from the build or the action propagate after
    the pins are drained."""
    gc.collect()
    sc = spark.sparkContext
    sc.setJobGroup(name, name)
    tracker = sc.statusTracker()
    # the group keeps earlier runs' jobs (warm-up, other passes)
    before = set(tracker.getJobIdsForGroup(name))
    columns = rows = None
    try:
        t0 = time.perf_counter()
        df = fn(spark, sf_dir)
        if collect:
            columns, rows = df.columns, [tuple(r) for r in df.collect()]
        else:
            df.write.format("noop").mode("overwrite").save()
        seconds = time.perf_counter() - t0
    finally:
        pins.drain()
    jobs = len(set(tracker.getJobIdsForGroup(name)) - before)
    return QueryRun(seconds, jobs, columns, rows)


def explain_formatted(df: DataFrame) -> str:
    """``df.explain("formatted")`` as a string (the initial, pre-AQE plan)."""
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[union-attr]
        df._jdf.queryExecution(), "formatted"
    )


def explain_query(spark: SparkSession, fn: QueryFn, sf_dir: str) -> str:
    """Build ``fn``'s plan and return its formatted explain, releasing the
    pins the build made (eager pins run jobs while the plan is built)."""
    try:
        return explain_formatted(fn(spark, sf_dir))
    finally:
        pins.drain()
