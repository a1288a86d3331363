"""SparkSession factory tuned for this engine.

Local testing runs one JVM with N threads (``local[N]``); production
posture is a multi-executor cluster — every default here is chosen to
survive that switch (AQE on, adaptive partition coalescing, skew-join
handling, Arrow for the Pandas-UDF paths, UTC session timezone so
date/timestamp semantics are environment-independent).

Queries leave this session as they found it. A stream runs on a clone
of the caller's session that owns its partition count, its memory-sink
view and its checkpoint (``plans/streaming_queries.run_available_now``);
every other plan runs at the session's own partition count. The one
write a query makes is the UTC pin in ``testdata_queries.register``:
on a session this factory built it rewrites the value already set; on
a caller's session in another zone it is a lasting change, kept
because 16 queries need it (see ``register``).
``tests/test_conf_writes.py`` fails on any other conf write under
``plans/`` or ``operators/``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Shuffle partitioning: ~cores for local mode. On a real cluster this
# is overridden (or simply left to AQE's coalescing, which shrinks the
# initialPartitionNum down to what the data actually needs).
_DEFAULT_LOCAL_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def _default_driver_memory(phys_bytes: int | None = None) -> str:
    """``spark.driver.memory`` when ``SPARK_DRIVER_MEMORY`` is unset: a
    quarter of physical memory, at least 1g and at most 48g, in
    megabytes. A quarter leaves room for a second Spark JVM (a test
    session next to an oracle sweep) plus the Python workers; a fixed
    48g lets one sweep's heap grow past what a 15 GB machine holds."""
    if phys_bytes is None:
        phys_bytes = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    mb = min(48 * 1024, max(1024, phys_bytes // 4 // 2**20))
    return f"{mb}m"


def _needs_local_master_default(environ) -> bool:
    """True iff no cluster master is already in play, so the factory
    should fall back to ``SPARK_GRAFT_MASTER`` / ``local[N]``.

    Deployment contract: an explicit caller master wins (handled by the
    caller); under spark-submit the launcher's master must NOT be
    stomped by a local default.  The spark-submit signal must be
    PRE-JVM: before any SparkContext exists, ``SparkConf()`` falls back
    to an empty Python-side dict, so ``contains('spark.master')`` is
    False at exactly the moment a spark-submit driver script first
    calls this factory.  PythonRunner (the spark-submit python driver
    launcher) always exports ``PYSPARK_GATEWAY_PORT`` /
    ``PYSPARK_GATEWAY_SECRET`` before the user script runs, so that env
    var is the reliable pre-JVM signal; ``SPARK_SUBMIT`` covers older
    launch paths, and the SparkConf check still catches an
    already-initialized JVM carrying a master.
    """
    if "PYSPARK_GATEWAY_PORT" in environ or "SPARK_SUBMIT" in environ:
        return False
    from pyspark import SparkConf

    try:
        if SparkConf().contains("spark.master"):
            return False
    except Exception:  # pragma: no cover - pre-JVM conf quirks
        pass
    return True


def get_spark(
    app_name: str = "nessus-etl-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the tuned SparkSession.

    Scale posture (100 TB / 1000 executors): everything below is
    cluster-safe — AQE re-plans shuffle partition counts and demotes or
    promotes joins at runtime, skew-join splitting handles hot keys
    (e.g. informational-severity plugins that appear on every host),
    and no config pins local-only behavior except the master URL.
    """
    cpus = _DEFAULT_LOCAL_CPUS
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.files.maxPartitionBytes", "128m")
        # Split small inputs across all cores: openCost caps the split
        # size for tiny files (default 4m leaves a 10 MB table on 3
        # tasks); at 100 TB maxPartitionBytes dominates, so lowering it
        # costs nothing at scale.
        .config("spark.sql.files.openCostInBytes", "512k")
        .config("spark.sql.files.minPartitionNum", str(shuffle_partitions or cpus))
        .config("spark.ui.enabled", "false")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY") or _default_driver_memory(),
        )
    )
    if master:
        builder = builder.master(master)
    elif not SparkSession.getActiveSession() and _needs_local_master_default(
        os.environ
    ):
        builder = builder.master(
            os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
