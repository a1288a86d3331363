"""Optimization-round measurement harness (guide §1): for each named
query, capture `.explain("formatted")` at the first --sf into
plans/<round>/<name>_<tag>.txt and time it isolated with the noop sink
(1 warmup + min of N timed passes, the bench.py protocol) at every --sf,
with the query's name as its job group.

Several --sf directories give the marginal cost of data size per query
(an sf0.01 and an sf0.1 directory for BASELINE.md's 10x-data table).

Usage: python tools/opt_bench.py [--tag before|after] [--sf sf_dir ...]
                                 [--passes N] query [query ...]
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from nessus_client_etl_scripts_spark.runner import explain_query, run_query
from nessus_client_etl_scripts_spark.session import get_spark


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--tag", default="before")
    ap.add_argument("--sf", action="append", help="repeatable; default sf0.1")
    ap.add_argument("--passes", type=int, default=2)
    ap.add_argument("--no-plan", action="store_true")
    ap.add_argument("--round", default="r13", help="plans/<round>/ output dir")
    ap.add_argument("queries", nargs="+")
    args = ap.parse_args()
    sf_dirs = args.sf or ["/root/testdata/sf0.1"]

    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    spark = get_spark("opt_bench")  # local[$SPARK_GRAFT_CPUS]
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans",
        args.round,
    )
    os.makedirs(out_dir, exist_ok=True)

    for name in args.queries:
        fn = qs[name]
        if not args.no_plan:
            with open(os.path.join(out_dir, f"{name}_{args.tag}.txt"), "w") as f:
                f.write(explain_query(spark, fn, sf_dirs[0]))
        for sf_dir in sf_dirs:
            runs = [run_query(spark, name, fn, sf_dir) for _ in range(args.passes + 1)]
            best = min(runs[1:], key=lambda r: r.seconds)  # runs[0] = warmup
            print(
                f"{name}  {args.tag}  {os.path.basename(sf_dir.rstrip('/'))}  "
                f"{best.seconds:.3f}s  jobs/pass={best.jobs}",
                flush=True,
            )


if __name__ == "__main__":
    main()
