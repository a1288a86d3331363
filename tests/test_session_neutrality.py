"""A query leaves the session that ran it as it found it: after each
``runner.run_query`` the caller's SQL conf and the names in its catalog
equal their values from before the query, and no RDD the query
persisted is still persisted. (RDDs persisted before the query may be
released while it runs: ``run_query``'s ``gc.collect()`` lets the
ContextCleaner reclaim what earlier code dropped.)

The queries are the ones whose plans create session state of their
own: the eight streaming queries (a memory sink, a checkpoint, a
partition count sized for the state store), the six connected-
component queries (checkpointed rounds, a raw signature cache) and
q01 as a plain batch query."""

import pytest

from nessus_client_etl_scripts_spark.runner import run_query

SF = "/root/testdata/sf0.001"

QUERIES = [
    "q01_folder_results_latest",
    # streaming
    "q53_streaming_sessions",
    "q68_streaming_hourly",
    "q74_streaming_distinct",
    "q83_streaming_custom_state",
    "q100_streaming_enrich",
    "q113_streaming_sliding",
    "q115_stream_stream_join",
    "q333_streaming_rate_limiter",
    # connected components
    "q55_dedup_clusters",
    "q93_dedup_resolve",
    "q96_dedup_resolve_lsh",
    "q167_leakage_safe_split",
    "q191_dbscan_embeddings",
    "q349_canonical_keep_audit",
]


def _state(spark):
    return (
        spark.conf.getAll,
        sorted(t.name for t in spark.catalog.listTables()),
        set(spark.sparkContext._jsc.getPersistentRDDs().keySet()),
    )


@pytest.mark.parametrize("name", QUERIES)
def test_query_leaves_session_as_found(spark, name):
    import __spark_entry__ as m

    before = _state(spark)
    run_query(spark, name, m.queries()[name], SF)
    conf, tables, persisted = _state(spark)
    assert conf == before[0], {
        k: (before[0].get(k), conf.get(k))
        for k in set(conf) | set(before[0])
        if conf.get(k) != before[0].get(k)
    }
    assert tables == before[1]
    assert not persisted - before[2]
