import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from nessus_client_etl_scripts_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    """One shared local session; small shuffle partitioning for speed
    (plan shapes are identical at any partition count)."""
    s = get_spark(
        "tests",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={"spark.sql.files.minPartitionNum": "1"},
    )
    yield s


@pytest.fixture(scope="session")
def silver_root(spark, tmp_path_factory):
    """Fixture documents normalized to the 7 silver tables and written
    to parquet; the root directory of the tables."""
    from nessus_client_etl_scripts_spark.pipeline import fixtures, normalize

    root = str(tmp_path_factory.mktemp("silver"))
    tables = normalize.normalize_scan_runs(
        fixtures.scan_run_docs(spark),
        folder_docs=fixtures.folder_docs(spark),
        scan_docs=fixtures.scan_docs(spark),
    )
    normalize.write_silver(tables, root)
    return root


@pytest.fixture(scope="session")
def silver(spark, silver_root):
    """The silver tables read back from ``silver_root`` (pins the
    surrogate ids)."""
    from nessus_client_etl_scripts_spark.pipeline import normalize

    return normalize.read_silver(spark, silver_root)
