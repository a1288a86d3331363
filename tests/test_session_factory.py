"""The master-default decision must be correct PRE-JVM.

r7 ADVICE: pyspark's ``SparkConf()`` falls back to an empty Python dict
when no JVM exists yet — the state at the start of every spark-submit
run — so a guard built only on ``SparkConf().contains('spark.master')``
would stomp the cluster master with ``local[N]``.  The fix keys on the
env signals spark-submit's PythonRunner exports before the user script
runs (``PYSPARK_GATEWAY_PORT``) and these tests simulate exactly that
pre-JVM state (pure-dict environ, no Spark session involved).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from nessus_client_etl_scripts_spark.session import _needs_local_master_default


def test_spark_submit_gateway_env_blocks_local_default():
    # The pre-JVM spark-submit state: gateway env present, no JVM conf.
    assert not _needs_local_master_default({"PYSPARK_GATEWAY_PORT": "43211"})


def test_spark_submit_legacy_env_blocks_local_default():
    assert not _needs_local_master_default({"SPARK_SUBMIT": "1"})


def test_bare_python_run_gets_local_default():
    # No gateway env and (in this process) no JVM master conf pinned by
    # spark-submit: the factory should fall back to local[N].  The test
    # suite's own session sets spark.master in JVM properties once a
    # session exists, so only assert when no JVM has been started —
    # which is guaranteed if this test file runs standalone, and
    # harmless to skip-over otherwise.
    from pyspark import SparkConf

    try:
        jvm_has_master = SparkConf().contains("spark.master")
    except Exception:
        jvm_has_master = False
    if not jvm_has_master:
        assert _needs_local_master_default({})


def test_driver_memory_default_is_a_quarter_of_physical_memory():
    from nessus_client_etl_scripts_spark.session import _default_driver_memory

    assert _default_driver_memory(15 * 2**30) == "3840m"
    assert _default_driver_memory(2 * 2**30) == "1024m"  # 1g floor
    assert _default_driver_memory(2**40) == "49152m"  # 48g cap
    mb = int(_default_driver_memory()[:-1])  # from the host's physical memory
    assert 1024 <= mb <= 48 * 1024
