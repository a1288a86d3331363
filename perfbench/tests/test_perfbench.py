"""Tests of the benchmark's own logic; no Spark session needed.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import collections
import datetime as dt
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from perfbench import census, etl, nessus_docs, run, tables, trace  # noqa: E402

SEEDS = (0, 1, 7, 12345)


# -- daily_etl generator --------------------------------------------------

@pytest.mark.parametrize("seed", SEEDS)
def test_docs_deterministic_per_seed(seed):
    a, b = nessus_docs.generate(seed), nessus_docs.generate(seed)
    assert a == b
    assert nessus_docs.expected(a) == nessus_docs.expected(b)


def test_docs_differ_between_seeds():
    assert nessus_docs.generate(1).scan_runs != nessus_docs.generate(2).scan_runs


@pytest.mark.parametrize("seed", SEEDS)
def test_docs_keep_fixture_invariants(seed):
    docs = nessus_docs.generate(seed)
    vulns = [v for r in docs.scan_runs for t in r["targets"] for v in t["vulnerabilities"]]
    # severity 0 present, and excluded from the enrichment counters (A1)
    assert {v["severity"] for v in vulns} == {0, 1, 2, 3, 4}
    for r in docs.scan_runs:
        assert r["info_count"] == 0
        assert any(not t["vulnerabilities"] for t in r["targets"])  # zero-vuln hosts
    # one equal-start pair per folder
    for f in range(nessus_docs.FOLDERS):
        starts = [
            r["scanner_start"] for r in docs.scan_runs
            if r["scan_id"] // nessus_docs.SCANS_PER_FOLDER == f
        ]
        assert len(starts) - len(set(starts)) == 1
    # plugin skew: the hottest plugin sits on far more hosts than the median one
    freq = sorted(collections.Counter(v["plugin"]["plugin_id"] for v in vulns).values())
    assert freq[-1] >= 10 * freq[len(freq) // 2]
    assert docs.hot_plugin == collections.Counter(v["plugin"]["plugin_id"] for v in vulns).most_common(1)[0][0]
    histories = [s["history"] for s in docs.scans]
    assert sum(h is None for h in histories) == 1
    assert sum(e["status"] == "running" for h in histories if h for e in h) == 1
    # sampled scans: one per folder, each with landed runs
    assert len(docs.sample_scans) == nessus_docs.FOLDERS
    assert all(docs.scans[s]["history"] for s in docs.sample_scans)


def test_docs_work_does_not_depend_on_seed():
    sizes = set()
    for seed in SEEDS:
        e = nessus_docs.expected(nessus_docs.generate(seed))
        s = e["silver"]
        sizes.add((s["scan_run"], s["host"], s["host_vuln"], s["vuln_output"],
                   e["export_watermark"]["scan_run"], e["export_lookback"]["scan_run"]))
    assert len(sizes) == 1


def test_expected_counts_close_form():
    docs = nessus_docs.generate(5)
    e = nessus_docs.expected(docs)
    # every scan but the history-less one lands all runs but the running one
    assert e["export_watermark"]["scan_run"] == (nessus_docs.SCANS - 1) * nessus_docs.RUNS_PER_SCAN - 1
    assert e["silver"]["host"] == e["silver"]["scan_run"] * nessus_docs.HOSTS_PER_RUN
    assert e["export_lookback"]["scan_run"] < e["export_watermark"]["scan_run"]
    assert set(e["api"]) == {k for k, _, _ in nessus_docs.api_calls(docs)}
    assert len(nessus_docs.api_calls(docs)) + 4 == etl.OPS_PER_PASS
    # every stored procedure is called; offsets 0 and 1, plugin filter on and off
    calls = nessus_docs.api_calls(docs)
    assert {fn for _, fn, _ in calls} == {"get_folder_stats", "get_folder_results", "get_scan_stats", "get_scan_results"}
    assert {kw["offset"] for _, _, kw in calls} == {0, 1}
    assert {"plugin_id" in kw for _, fn, kw in calls if fn == "get_folder_results"} == {True, False}
    # the lookback floor keeps only runs modified inside the window
    floor = nessus_docs.TODAY - dt.timedelta(days=nessus_docs.LOOKBACK_DAYS)
    assert nessus_docs.completed_runs(docs, floor) < nessus_docs.completed_runs(docs, dt.date(1970, 1, 1))


def test_land_writes_every_document(tmp_path):
    docs = nessus_docs.generate(3)
    paths = nessus_docs.land(docs, str(tmp_path))
    lines = sum(
        sum(1 for _ in open(os.path.join(paths["scan_run"], f)))
        for f in os.listdir(paths["scan_run"])
    )
    assert lines == len(docs.scan_runs)


# -- table generator ------------------------------------------------------

def test_tables_deterministic_and_typed():
    a, b = tables.generate(0.001, 42), tables.generate(0.001, 42)
    assert set(a) == set(tables.TABLES)
    for name in tables.TABLES:
        assert a[name].equals(b[name])
        assert a[name].num_rows == tables.row_counts(0.001)[name]
    assert str(a["lineitem"].schema.field("l_shipdate").type) == "timestamp[us]"
    assert str(a["embeddings"].schema.field("embedding").type) == "list<item: float>"
    assert not tables.generate(0.001, 43)["lineitem"].equals(a["lineitem"])


# -- census pools ----------------------------------------------------------

@pytest.fixture(scope="module")
def committed():
    if not os.path.exists(census.CENSUS):
        pytest.skip("no committed census")
    return census.load()


def test_pools_reproduce_committed_census(committed):
    pools = census.pools(committed)
    for pool, names in pools.items():
        meta = committed["meta"]["pools"][pool]
        assert meta["n"] == len(names)
        assert meta["load_table"] == sum(committed["queries"][n]["load_table"] for n in names)
        for n in names:
            q = committed["queries"][n]
            assert q["ok"] and not q["streaming"]
            if pool in census.ORACLE_POOLS:
                assert "rows" in q  # every checked member has a recorded answer
    assert not set(pools["single_action"]) & set(pools["driver_loops"])
    assert all(committed["queries"][n]["pins"] == 0 and committed["queries"][n]["build_jobs"] == 0
               for n in pools["single_action"])
    assert all(committed["queries"][n]["build_jobs"] >= census.DRIVER_LOOP_MIN_JOBS
               for n in pools["driver_loops"])


@pytest.mark.parametrize("seed", (1, 11, 101))
def test_sample_deterministic_and_balanced(committed, seed):
    pool, k = "driver_loops", run.PASS_QUERIES
    a = census.sample(committed, pool, k, seed)
    assert a == census.sample(committed, pool, k, seed)
    # every sampled query is checked against its oracle digest
    assert all("digest" in committed["queries"][n] for n in a)
    assert len(set(a)) == k and set(a) <= set(census.pools(committed)[pool])
    names = census.pools(committed)[pool]
    import numpy as np

    lo, hi = np.percentile([committed["queries"][n]["warm_s"] for n in names], census.SAMPLE_BAND)
    names = [n for n in names if lo <= committed["queries"][n]["warm_s"] <= hi]
    assert set(a) <= set(names)
    warm = [committed["queries"][n]["warm_s"] for n in names]
    got = [committed["queries"][n]["warm_s"] for n in a]
    assert abs(sum(got) / (k * np.mean(warm)) - 1) <= census.SAMPLE_TOL
    assert abs(np.median(got) / np.median(warm) - 1) <= census.SAMPLE_TOL


# -- span arithmetic -----------------------------------------------------

def test_covered_merges_overlaps_and_clips():
    assert trace.covered([(0, 2), (1, 3), (5, 6)], 0, 10) == pytest.approx(4)
    assert trace.covered([(0, 2), (1, 3)], 1.5, 2.5) == pytest.approx(1)
    assert trace.covered([], 0, 1) == 0


def test_self_time_subtracts_nested_children_once():
    parent = {"layer": "build", "t0": 0.0, "t1": 10.0}
    spans = [
        parent,
        {"layer": "catalog", "t0": 1.0, "t1": 3.0},
        {"layer": "operators.graph", "t0": 4.0, "t1": 8.0},
        {"layer": "pins", "t0": 5.0, "t1": 6.0},  # inside the operator call
        {"layer": "exec", "t0": 9.5, "t1": 11.0},  # ends outside: not a child
    ]
    assert trace.self_time(parent, spans) == pytest.approx(4.0)


def test_inclusive_counts_recursion_once():
    spans = [
        {"layer": "operators.windows", "t0": 0.0, "t1": 4.0},
        {"layer": "operators.windows", "t0": 1.0, "t1": 2.0},
        {"layer": "operators.windows", "t0": 6.0, "t1": 7.0},
        {"layer": "catalog", "t0": 0.0, "t1": 9.0},
    ]
    assert trace.inclusive(spans, "operators.windows") == pytest.approx(5.0)
    assert trace.inclusive(spans, "operators.lm") == 0.0


def test_patch_module_wraps_public_functions_only():
    import types

    mod = types.ModuleType("fake_mod")
    exec("def pub(x):\n    return x + 1\ndef _priv(x):\n    return x\n", mod.__dict__)
    tracer = trace.Tracer()
    assert trace.patch_module(tracer, mod, "fake") == 1
    assert mod.pub(1) == 2 and not tracer.spans  # disabled: passthrough
    tracer.enabled = True
    assert mod.pub(2) == 3
    assert [s["fn"] for s in tracer.spans] == ["pub"]


# -- op_tail_s sample-count rule ------------------------------------------

@pytest.mark.parametrize("workload,p", [("daily_etl", 62), ("driver_loops", 62)])
def test_tail_percentile_leaves_samples_beyond(workload, p):
    n = run.MEASURED_PASSES[workload] * run.ops_per_pass(workload)
    beyond = run.TAIL_BEYOND[workload]
    assert run.tail_percentile(workload) == p > 50
    assert n * (100 - p) / 100 >= beyond > n * (100 - p - 1) / 100


def test_result_units_match_benchmark_json():
    import json

    with open(os.path.join(os.path.dirname(census.CENSUS), "..", "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END_UNITS
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.LAYER_UNITS
    assert [w["name"] for w in bench["workloads"]] == list(run.WORKLOADS)


def test_percentile_interpolates():
    values = [float(v) for v in range(1, 21)]
    assert run.percentile(values, 50) == 10.5
    assert run.percentile(values, 75) == pytest.approx(15.25)
