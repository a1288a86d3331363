"""Local oracle-differential harness — mirrors the driver's check:
row-count + schema + order-insensitive value comparison between each
declared Spark query and its DuckDB oracle SQL at a given sf dir.

Usage: python tools/compare_oracle.py [--plain] [--jobs N] [sf_dir] [query ...]

--jobs N runs N queries concurrently (Spark actions are thread-safe on
one session; each worker gets its OWN DuckDB connection). Default is
sequential — the bit-identical gate posture; use --jobs 4 for the
once-per-round full sf0.1 sweep (~75 min sequential). No query writes
the shared session's conf beyond the UTC pin every query sets to the
same value: streaming queries run on a child session of their own
(run_available_now), so concurrent workers never see each other's
partition counts or sink views.

--plain runs the queries on an untuned SparkSession (no engine confs:
shuffle.partitions 200, default broadcast threshold, no Arrow conf) —
the environment of an external caller that imports __spark_entry__
with its own session. The tuned session is faster for
iteration; differences between the two (conf-sensitive plans,
session-state leaks, timezone assumptions) show up only under --plain.
"""

from __future__ import annotations

import argparse
import os
import sys
import threading

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import pandas as pd

from nessus_client_etl_scripts_spark import pins
from nessus_client_etl_scripts_spark.catalog import TESTDATA_TABLES
from nessus_client_etl_scripts_spark.runner import run_query
from nessus_client_etl_scripts_spark.session import get_spark


def _canon_rows(cols: list[str], rows: list[tuple]) -> list[tuple]:
    """Order columns by name, stringify cells, sort rows — mirrors the
    driver's order-insensitive value hash over collected Python values."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_cell(r[i]) for i in order) for r in rows]
    return sorted(out)


def _cell(v) -> str:
    if v is None or v is pd.NaT or (isinstance(v, float) and pd.isna(v)):
        return "<null>"
    if isinstance(v, float):
        return repr(float(v))  # float(): numpy 2 reprs np.float64 verbosely
    return str(v)


def _check_one(name, fn, oracles, spark, sf_dir, con) -> tuple[bool, str]:
    """Returns (ok, report line(s))."""
    try:
        # pins drain on THIS worker thread — safe under --jobs
        run = run_query(spark, name, fn, sf_dir, collect=True)
    except Exception as e:  # noqa: BLE001
        return False, f"FAIL  {name}: spark error: {e}"
    s_cols, s_rows = run.columns, run.rows
    if name not in oracles:
        return True, f"ok    {name}: rows-only ({len(s_rows)} rows)"
    try:
        # Arrow fetch, not fetchall: CORRECTNESS_r02 showed the
        # driver sees DuckDB HUGEINT (sum of integers) as float
        # ("120588.0" vs Spark's "120588" → hash mismatch on q49)
        # while nullable BIGINT stays integer (q42 green) — that is
        # exactly DuckDB's Arrow conversion. fetchall()'s python
        # ints would mask the HUGEINT class of mismatch locally.
        tbl = con.execute(oracles[name]).fetch_arrow_table()
        o_cols = list(tbl.column_names)
        o_rows = [tuple(d[c] for c in o_cols) for d in tbl.to_pylist()]
    except Exception as e:  # noqa: BLE001
        return False, f"FAIL  {name}: duckdb error: {e}"
    if len(s_rows) != len(o_rows):
        return False, (
            f"FAIL  {name}: rowcount spark={len(s_rows)} duckdb={len(o_rows)}"
        )
    if sorted(s_cols) != sorted(o_cols):
        return False, (
            f"FAIL  {name}: columns spark={sorted(s_cols)} "
            f"duckdb={sorted(o_cols)}"
        )
    cs = _canon_rows(s_cols, s_rows)
    co = _canon_rows(o_cols, o_rows)
    if cs != co:
        bad = [i for i, (a, b) in enumerate(zip(cs, co)) if a != b]
        lines = [f"FAIL  {name}: value mismatch in {len(bad)} rows"]
        for i in bad[:3]:
            lines.append(f"  spark : {dict(zip(sorted(s_cols), cs[i]))}")
            lines.append(f"  duckdb: {dict(zip(sorted(o_cols), co[i]))}")
        return False, "\n".join(lines)
    return True, f"ok    {name}: {len(s_rows)} rows match"


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--plain", action="store_true")
    ap.add_argument("--jobs", type=int, default=1)
    ap.add_argument("sf_dir", nargs="?", default="/root/testdata/sf0.01")
    ap.add_argument("query", nargs="*")
    args = ap.parse_args()
    sf_dir, jobs, only = args.sf_dir, max(1, args.jobs), set(args.query)

    import __spark_entry__ as entrymod

    if args.plain:
        from pyspark.sql import SparkSession

        # a plain builder: the master and nothing else
        spark = SparkSession.builder.master("local[8]").getOrCreate()
    else:
        spark = get_spark("oracle-compare")

    def new_con():
        con = duckdb.connect()
        for t in TESTDATA_TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
            )
        return con

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    unknown = only - set(qs)
    if unknown:
        # a typo'd filter would otherwise select ZERO queries and
        # report a vacuous "0 failures"
        print(f"error: unknown query names: {sorted(unknown)}")
        return 2
    todo = [
        (n, f) for n, f in sorted(qs.items()) if not only or n in only
    ]
    failures: list[str] = []
    lock = threading.Lock()

    if jobs == 1:
        con = new_con()
        for name, fn in todo:
            ok, report = _check_one(name, fn, oracles, spark, sf_dir, con)
            print(report)
            if not ok:
                failures.append(name)
    else:
        from concurrent.futures import ThreadPoolExecutor

        local = threading.local()

        def worker(item):
            name, fn = item
            if not hasattr(local, "con"):
                local.con = new_con()  # one DuckDB connection per thread
            ok, report = _check_one(
                name, fn, oracles, spark, sf_dir, local.con
            )
            with lock:
                print(report, flush=True)
                if not ok:
                    failures.append(name)

        with ThreadPoolExecutor(max_workers=jobs) as pool:
            list(pool.map(worker, todo))

    # a failed unpersist leaves pinned blocks to the ContextCleaner: a
    # broken release path, so it fails the sweep like a wrong value
    print(f"\npins.failures {pins.failures}")
    print(f"{len(failures)} failures" + (f": {failures}" if failures else ""))
    return 1 if failures or pins.failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
