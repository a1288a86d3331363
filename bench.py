"""Benchmark harness — runs the declared queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
ONE JSON line: {"metric": ..., "value": N, "unit": "sec",
"queries": {name: sec, ...}, "sf": ...}, followed by a compact tail
record (see ``tail_record``).

Each query executes fully (noop sink — no driver-side collect cost), so
the timing covers scan → shuffle → agg/join/window, the same stages that
dominate at cluster scale.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from nessus_client_etl_scripts_spark import pins
from nessus_client_etl_scripts_spark.runner import run_query
from nessus_client_etl_scripts_spark.session import get_spark


def names_sha1(names: list[str]) -> str:
    """Short digest of the sorted query names a tail record is aligned to."""
    return hashlib.sha1("\n".join(names).encode()).hexdigest()[:10]


def tail_record(record: dict, names: list[str]) -> str:
    """The last stdout line: the totals plus every query's time in
    centiseconds, positional over ``names`` (all declared queries,
    sorted; null for a query that errored). The names themselves are
    not repeated — ``names_sha1`` pins the alignment — so the line stays
    under the ~2,000 characters a tail-limited log capture keeps."""
    times = record["queries"]
    return json.dumps(
        {
            "metric": record["metric"],
            "value": record["value"],
            "unit": "sec",
            "sf": record["sf"],
            "n_queries": len(times),
            "n_errors": len(record.get("errors", ())),
            "pins_failures": record["pins_failures"],
            "names_sha1": names_sha1(names),
            "cs": [round(times[n] * 100) if n in times else None for n in names],
        },
        separators=(",", ":"),
    )


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]

    import __spark_entry__ as entrymod

    spark = get_spark("bench", master=f"local[{cpus}]")
    queries = entrymod.queries()

    # Warmup: one untimed pass per query at the TARGET sf. This hoists
    # whole-stage-codegen compilation and JVM JIT (C2) out of the
    # measurement — steady-state throughput is the cluster posture
    # (long-running executors run a plan thousands of times); cold
    # compile cost is a per-process constant, not a per-data cost.
    for name, fn in queries.items():
        try:
            run_query(spark, name, fn, sf_dir)
        except Exception:  # noqa: BLE001 — warmup must never fail the bench
            pass

    # Two timed passes, min taken: host-level CPU contention (this box
    # is a shared VM) adds seconds of one-sided noise to single shots;
    # the min of two runs is the reproducible steady-state figure.
    # Between queries (untimed — session maintenance, not query
    # computation) run_query drains the finished query's pins and
    # gc.collect()s its DataFrame refs for the JVM ContextCleaner.
    # Without both, ~690 query executions accumulate dead RDD blocks
    # that evict executor memory and inflate late queries 2-4x (q96
    # measured 5.3 s in-bench vs 3.0 s isolated in round 12; q179 30 s
    # vs 1.4 s before the gc.collect was added).
    timings: dict[str, float] = {}
    errors: dict[str, str] = {}
    for _ in range(2):
        for name, fn in sorted(queries.items()):
            if name in errors:
                continue
            try:
                dt = round(run_query(spark, name, fn, sf_dir).seconds, 4)
            except Exception as e:  # noqa: BLE001 — one broken query must
                # not null the whole round's bench record
                errors[name] = f"{type(e).__name__}: {e}"[:300]
                timings.pop(name, None)
                continue
            timings[name] = min(timings.get(name, dt), dt)

    total = round(sum(timings.values()), 4)
    record = {
        "metric": "declared_queries_total_wall",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        # unpersists that raised: non-zero means pins were left to the
        # ContextCleaner and later queries ran with their blocks cached
        "pins_failures": pins.failures,
        **({"errors": errors} if errors else {}),
    }
    line = json.dumps(record)
    # Persist the full record in-repo alongside stdout: the driver
    # captures this script's output from a log tail, and BENCH_r04's
    # head was truncated there (q01-q32 timings lost, parsed: null).
    # A committed file can never be orphaned by log clipping.
    out_path = os.environ.get(
        "SPARK_GRAFT_BENCH_OUT",
        os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_LOCAL.json"),
    )
    try:
        with open(out_path, "w") as f:
            f.write(line + "\n")
    except OSError:
        pass  # a read-only checkout must not fail the bench
    print(line)
    print(tail_record(record, sorted(queries)))


if __name__ == "__main__":
    main()
