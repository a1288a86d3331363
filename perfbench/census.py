"""Per-query census of the declared catalog on the benchmark's tables, and
the pool rules derived from it.

    python3 perfbench/census.py

Three passes in one fresh process at sf0.1 on ``local[min(4, nproc)]``:

1. cold, traced: jobs launched while the plan is built (split into
   ``load_table`` schema-inference jobs and the rest), jobs of the final
   action, ``load_table`` calls, pins created, streaming queries started;
2. warm, untraced, for every query a pool rule admits: wall time of
   build + noop-sink action;
3. for the members of ``ORACLE_POOLS``: the DuckDB oracle answer,
   checked equal to Spark's and stored as a digest over
   ``tools/compare_oracle.py``'s canonical rows, so a benchmark run checks
   its outputs without re-running the oracle.

The committed ``census.json`` is the jobs baseline the pools are cut
from, so pool membership follows from data and the rules below.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import statistics
import sys
import time

if __package__ in (None, ""):
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    __package__ = "perfbench"

from perfbench import env, tables  # noqa: E402

CENSUS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "census.json")
SF = 0.1
TABLE_SEED = 42
DRIVER_LOOP_MIN_JOBS = 8
ORACLE_TIMEOUT_S = 300
# the percentile band of the driver_loops pool, by census warm time, that
# the benchmark samples from: the cheapest sixth. A run has about a minute
# for set-up, a cold pass, a warm-up pass and four measured passes, and
# census times, taken in a JVM that has run the whole catalog, predict
# fresh-process times poorly, so the band holds queries of near-equal cost.
SAMPLE_BAND = (0, 15)
# a sample's census figures must lie this close to the band's (see sample)
SAMPLE_TOL = 0.05
ORACLE_WORKERS = 3


def single_action(q: dict) -> bool:
    """The build launches no job except ``load_table`` schema inference;
    no pins, no streaming query. ``ok``: the query ran and, where the
    census checked it, its oracle answered within ``ORACLE_TIMEOUT_S`` and
    agrees with it."""
    return q["ok"] and q["build_jobs"] == 0 and q["pins"] == 0 and not q["streaming"]


def driver_loops(q: dict) -> bool:
    """The build launches at least eight jobs beyond schema inference, no
    streaming query; ``ok`` as for :func:`single_action`."""
    return q["ok"] and q["build_jobs"] >= DRIVER_LOOP_MIN_JOBS and not q["streaming"]


POOL_RULES = {"single_action": single_action, "driver_loops": driver_loops}
# pools whose members get oracle answers (the benchmark samples driver_loops)
ORACLE_POOLS = ("single_action", "driver_loops")


def load(path: str = CENSUS) -> dict:
    with open(path) as f:
        return json.load(f)


def pools(census: dict) -> dict[str, list[str]]:
    qs = census["queries"]
    return {
        pool: sorted(n for n, q in qs.items() if rule(q))
        for pool, rule in POOL_RULES.items()
    }


def sample(census: dict, pool: str, k: int, seed: int) -> list[str]:
    """``k`` queries drawn by ``seed`` from the ``SAMPLE_BAND`` percentiles
    of ``pool`` by census warm time: the first random draw whose warm-time
    sum and median are both within ``SAMPLE_TOL`` of that band's (k × mean,
    median), so every seed asks for about the same amount of work. Falls
    back to the closest draw."""
    import numpy as np

    names = pools(census)[pool]
    lo, hi = np.percentile([census["queries"][n]["warm_s"] for n in names], SAMPLE_BAND)
    names = [n for n in names if lo <= census["queries"][n]["warm_s"] <= hi]
    warm = np.array([census["queries"][n]["warm_s"] for n in names])
    rng = np.random.default_rng(seed)
    best, best_err = None, np.inf
    for _ in range(10_000):
        idx = rng.choice(len(names), k, replace=False)
        w = warm[idx]
        err = max(abs(w.sum() / (k * warm.mean()) - 1), abs(np.median(w) / np.median(warm) - 1))
        if err < best_err:
            best, best_err = idx, err
        if err <= SAMPLE_TOL:
            break
    return sorted(names[i] for i in best)


def _streaming_counter():
    """Count streaming queries started, by wrapping the writer's starts."""
    from pyspark.sql.streaming.readwriter import DataStreamWriter

    counter = {"n": 0}
    for meth in ("start", "toTable"):
        orig = getattr(DataStreamWriter, meth)

        def wrapped(self, *a, _orig=orig, **k):
            counter["n"] += 1
            return _orig(self, *a, **k)

        setattr(DataStreamWriter, meth, wrapped)
    return counter


def oracle_connection(sf_dir: str):
    import duckdb

    con = duckdb.connect()
    for t in tables.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def compare_module():
    """``tools/compare_oracle.py``, imported from the checkout."""
    import importlib.util

    path = os.path.join(env.ROOT, "tools", "compare_oracle.py")
    spec = importlib.util.spec_from_file_location("compare_oracle", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def digest(compare, cols: list[str], rows: list[tuple]) -> str:
    """Order-insensitive digest of a result, over ``tools/compare_oracle.py``'s
    canonical rows (columns by name, cells stringified, rows sorted)."""
    canon = compare._canon_rows(cols, rows)
    return hashlib.sha256(json.dumps([sorted(cols), canon]).encode()).hexdigest()


def spark_result(spark, fn, sf_dir: str) -> tuple[list[str], list[tuple]]:
    from nessus_client_etl_scripts_spark import pins

    try:
        df = fn(spark, sf_dir)
        return df.columns, [tuple(r) for r in df.collect()]
    finally:
        pins.drain()


def tables_fingerprint(sf_dir: str) -> str:
    """Digest of the generated tables' contents, so a run can tell that it
    checks against answers computed on the same data."""
    import pyarrow.parquet as pq

    h = hashlib.sha256()
    for t in tables.TABLES:
        tbl = pq.read_table(os.path.join(sf_dir, f"{t}.parquet"))
        h.update(t.encode())
        for col in tbl.columns:
            for chunk in col.chunks:
                for buf in chunk.buffers():
                    if buf is not None:
                        h.update(buf)
    return h.hexdigest()


def oracle_pass(spark, queries, oracles, sf_dir, names, rows) -> None:
    """Record each query's DuckDB oracle answer as a digest (or, for
    queries without an oracle, its row count) after checking that Spark
    returns the same answer."""
    import threading
    from concurrent.futures import ThreadPoolExecutor

    compare = compare_module()
    local = threading.local()

    def one(n):
        if not hasattr(local, "con"):
            local.con = oracle_connection(sf_dir)
        t0 = time.perf_counter()
        try:
            cols, srows = spark_result(spark, queries[n], sf_dir)
        except Exception as e:  # noqa: BLE001
            return n, {"ok": False, "oracle": "fail", "error": f"spark: {e}"[:300]}
        check_s = time.perf_counter() - t0
        rec = {"rows": len(srows), "check_s": round(check_s, 4)}
        if n not in oracles:
            return n, {**rec, "oracle": "rows-only"}
        timer = threading.Timer(ORACLE_TIMEOUT_S, local.con.interrupt)
        timer.start()
        try:
            tbl = local.con.execute(oracles[n]).fetch_arrow_table()
        except Exception as e:  # noqa: BLE001 — an interrupted or failing oracle
            return n, {**rec, "ok": False, "oracle": "fail", "error": f"duckdb: {e}"[:300]}
        finally:
            timer.cancel()
        o_cols = list(tbl.column_names)
        o_rows = [tuple(d[c] for c in o_cols) for d in tbl.to_pylist()]
        want = digest(compare, o_cols, o_rows)
        ok = len(o_rows) == len(srows) and want == digest(compare, cols, srows)
        return n, {**rec, "oracle": "ok" if ok else "fail", "digest": want, "ok": ok}

    with ThreadPoolExecutor(max_workers=ORACLE_WORKERS) as pool:
        for n, rec in pool.map(one, names):
            rows[n].update(rec)
            print(f"oracle {n}: {rec.get('oracle')} rows={rec.get('rows')} check_s={rec.get('check_s')}", flush=True)


def main(argv=None) -> int:
    argparse.ArgumentParser(description=__doc__.split("\n\n")[0]).parse_args(argv)

    env.check_checkout()
    env.prepare("driver_loops")  # the query pools' task slots
    sf_dir = tables.ensure(os.path.join(env.OUT, "data"), SF, TABLE_SEED)

    from perfbench import queryop, trace

    tracer = trace.Tracer()
    trace.install(tracer)
    spark, queries, _ = env.start_session()
    tracer.bind(spark)
    streams = _streaming_counter()
    names = sorted(queries)

    rows: dict[str, dict] = {}
    tracer.enabled = True
    for n in names:
        before = streams["n"]
        try:
            r = queryop.run(spark, queries[n], sf_dir, tracer, op_id=n)
        except Exception as e:  # noqa: BLE001 — the census records failures
            rows[n] = {"ok": False, "error": f"{type(e).__name__}: {e}"[:300]}
            print(f"cold  {n}: ERROR {rows[n]['error']}", flush=True)
            continue
        rows[n] = {
            "ok": True,
            "cold_s": round(r["s"], 4),
            "build_jobs": r["build_jobs"],
            "catalog_jobs": r["catalog_jobs"],
            "exec_jobs": r["exec_jobs"],
            "load_table": r["catalog_calls"],
            "pins": r["pins_created"],
            "streaming": streams["n"] > before,
        }
        tracer.spans.clear()
        print(f"cold  {n}: {rows[n]}", flush=True)
    tracer.enabled = False

    # warm times and oracle answers only where a pool rule admits the query
    candidates = [n for n in names if rows[n]["ok"] and any(rule(rows[n]) for rule in POOL_RULES.values())]
    for n in candidates:
        try:
            rows[n]["warm_s"] = round(queryop.run(spark, queries[n], sf_dir)["s"], 4)
        except Exception as e:  # noqa: BLE001
            rows[n].update(ok=False, error=f"{type(e).__name__}: {e}"[:300])
        print(f"warm  {n}: {rows[n].get('warm_s')}", flush=True)

    import __spark_entry__

    checked = [n for n in candidates if rows[n]["ok"] and any(POOL_RULES[p](rows[n]) for p in ORACLE_POOLS)]
    oracle_pass(spark, queries, __spark_entry__.oracle_sql(), sf_dir, checked, rows)

    census = {
        "meta": {
            "sf": SF,
            "table_seed": TABLE_SEED,
            "master": f"local[{env.cores()}]",
            "driver_memory": env.DRIVER_MEMORY,
            "date": time.strftime("%Y-%m-%d"),
            "passes": "cold traced (all); warm untraced and oracle (pool members)",
            "oracle_pools": list(ORACLE_POOLS),
            "tables": tables_fingerprint(sf_dir),
        },
        "queries": rows,
    }
    ps = pools(census)
    census["meta"]["pools"] = {
        p: {
            "n": len(ns),
            "warm_s": round(sum(rows[n]["warm_s"] for n in ns), 2),
            "median_s": round(statistics.median(rows[n]["warm_s"] for n in ns), 3) if ns else 0,
            "load_table": sum(rows[n]["load_table"] for n in ns),
            "pins": sum(rows[n]["pins"] for n in ns),
        }
        for p, ns in ps.items()
    }
    with open(CENSUS, "w") as f:
        json.dump(census, f, indent=1, sort_keys=True)
        f.write("\n")
    print(json.dumps(census["meta"]["pools"]))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
