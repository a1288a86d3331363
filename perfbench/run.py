"""The engine's benchmark: two workloads (the daily ETL job and
driver-loop catalog queries), end-to-end metrics with tracing off,
per-layer metrics from a traced run.

    python3 perfbench/run.py --workload daily_etl|driver_loops \
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. One fresh process per run: set-up (the
session, ``import __spark_entry__``, ``queries()``), one cold pass,
``WARMUP_PASSES`` untimed passes, then measured warm passes until
``--seconds`` have been measured and at least ``MEASURED_PASSES`` ran.
Outputs are checked outside the pass timing: ``driver_loops`` compares
every collected query result with the oracle answer after each pass,
``daily_etl`` compares every count its ops return and, after the measured
passes, its silver tables. The last line of
stdout is one JSON object ``{"correct", "attempted", "failed",
"metrics"}``; the exit code is non-zero when an output is wrong.

``--trace 1`` runs traced and untraced warm passes in the order T U U T
and reports the per-layer metrics of the traced ones; ``trace.overhead``
is the ratio of their median pass times.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import statistics
import sys
import time

if __package__ in (None, ""):
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    __package__ = "perfbench"

from perfbench import env  # noqa: E402

WORKLOADS = ("daily_etl", "driver_loops")
# driver_loops queries sampled from the census pool, run in every pass
PASS_QUERIES = 2
# A benchmark round makes 48 runs in 3420 s, so a run has about a minute,
# and set-up and the cold pass take 25-35 s of it. driver_loops gets a
# warm-up pass because its passes keep speeding up while the JIT compiles
# the plan-building loops. daily_etl has no time left for one; it measures
# three passes instead of two, so that a pass still deep in JIT warm-up
# (the JVM compiles for 15-18 s of CPU in its first warm pass, 7-12 s in
# the second) does not make up half of its samples.
WARMUP_PASSES = {"daily_etl": 0, "driver_loops": 1}
# measured warm passes every run makes at least (a traced run makes
# TRACED_PASSES traced and TRACED_PASSES untraced ones instead)
MEASURED_PASSES = {"daily_etl": 3, "driver_loops": 4}
TRACED_PASSES = 2
# op_tail_s: the highest whole percentile of the measured ops' wall times
# with this many ops beyond it at the minimum op count (27 on daily_etl,
# 8 on driver_loops); ten on driver_loops would need at least 20 measured
# ops, which do not fit its run.
TAIL_BEYOND = {"daily_etl": 10, "driver_loops": 3}

END_TO_END_UNITS = {
    "setup_s": "s", "cold_pass_s": "s", "pass_s": "s", "pass_cpu_s": "s",
    "op_p50_s": "s", "op_tail_s": "s",
}


def tail_percentile(workload: str) -> int:
    """Highest whole percentile with at least ``TAIL_BEYOND`` of the
    workload's minimum op count beyond it."""
    n = MEASURED_PASSES[workload] * ops_per_pass(workload)
    return (100 * (n - TAIL_BEYOND[workload])) // n


def percentile(values: list[float], p: int) -> float:
    """Linear-interpolated percentile (``statistics.quantiles`` inclusive)."""
    return statistics.quantiles(values, n=100, method="inclusive")[p - 1]


def ops_per_pass(workload: str) -> int:
    if workload == "daily_etl":
        from perfbench import etl

        return etl.OPS_PER_PASS
    return PASS_QUERIES


class Runner:
    """Drives one workload's passes and collects per-op and per-pass
    figures."""

    def __init__(self, workload: str, seed: int, spark, queries, tracer) -> None:
        self.workload = workload
        self.spark, self.queries, self.tracer = spark, queries, tracer
        self.attempted = self.failed = 0
        self.errors: list[str] = []
        if workload == "daily_etl":
            from perfbench import etl

            self.job = etl.DailyJob(spark, seed, tracer)
        else:
            from perfbench import census, queryop, tables

            self.census = census.load()
            self.sample = census.sample(self.census, workload, PASS_QUERIES, seed)
            random.Random(seed).shuffle(self.sample)
            self.sf_dir = tables.ensure(os.path.join(env.OUT, "data"), census.SF, census.TABLE_SEED)
            self.queryop = queryop
            self.compare = census.compare_module()
            self.mismatches: list[str] = []
            if census.tables_fingerprint(self.sf_dir) != self.census["meta"]["tables"]:
                self.mismatches.append(f"generated tables under {self.sf_dir} differ from the census tables")

    def one_pass(self, index: int) -> dict:
        """Run one pass; returns its wall, CPU and JIT seconds and op
        records. Outputs are checked after the pass is timed."""
        jit0, cpu0, t0 = env.jit_s(self.spark), env.cpu_seconds(), time.perf_counter()
        if self.workload == "daily_etl":
            records = self.job.run_pass(index)
        else:
            records = [r for r in (self._query(index, n) for n in self.sample) if r is not None]
        out = {"s": time.perf_counter() - t0, "cpu_s": env.cpu_seconds() - cpu0,
               "jit_s": env.jit_s(self.spark) - jit0, "ops": records}
        if self.workload == "daily_etl":
            out.update(self.job.finish_pass(index))
        else:
            self._check(records)
        return out

    def _query(self, index: int, name: str) -> dict | None:
        self.attempted += 1
        try:
            rec = self.queryop.run(self.spark, self.queries[name], self.sf_dir, self.tracer,
                                   op_id=f"p{index}:{name}", collect=True)
        except Exception as e:  # noqa: BLE001 — counted, reported, run continues
            self.failed += 1
            self.errors.append(f"{name}: {type(e).__name__}: {e}"[:300])
            return None
        rec["name"] = name
        return rec

    def totals(self) -> tuple[int, int, list[str]]:
        """(attempted, failed, error messages) over all passes."""
        if self.workload == "daily_etl":
            return self.job.attempted, self.job.failed, self.job.errors
        return self.attempted, self.failed, self.errors

    def _check(self, records: list[dict]) -> None:
        """Outside the pass timing: each collected result must hash to the
        oracle answer the census recorded on the same tables."""
        from perfbench import census

        for rec in records:
            cols, rows = rec.pop("result")
            want = self.census["queries"][rec["name"]]
            got = census.digest(self.compare, cols, rows)
            if len(rows) != want["rows"] or got != want["digest"]:
                self.mismatches.append(f"{rec['name']}: {len(rows)} rows, digest {got[:12]}; "
                                       f"oracle {want['rows']} rows, digest {want['digest'][:12]}")


def layer_metrics(passes: list[dict], setup: dict) -> dict[str, float]:
    """Per-layer metrics: the median over traced passes of each pass's
    per-layer totals."""
    from perfbench import trace

    per_pass = []
    for p in passes:
        ops = p["ops"]
        spans = [s for op in ops for s in op.get("spans", ())]
        ex = {k: sum(op["exec"][k] for op in ops if "exec" in op) for k in (
            "stages", "tasks", "run_s", "cpu_s", "input_bytes",
            "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes")}
        exec_s = sum(op.get("exec_s", 0.0) for op in ops)
        exec_jobs = sum(op.get("exec_jobs", 0) for op in ops)
        pins = [s for s in spans if s["layer"] == "pins"]
        created = sum(1 for s in pins if s["fn"] in ("pin", "pin_lazy"))
        released = sum(s.get("released", 0) for s in pins if s["fn"] == "drain")
        m = {
            "catalog.calls": sum(op.get("catalog_calls", 0) for op in ops),
            "catalog.s": sum(op.get("catalog_s", 0.0) for op in ops),
            "catalog.jobs": sum(op.get("catalog_jobs", 0) for op in ops),
            "build.self_s": sum(op.get("build_self_s", 0.0) for op in ops),
            "build.jobs": sum(op.get("build_jobs", 0) for op in ops),
            "pins.created": created,
            "pins.eager_s": sum(s["t1"] - s["t0"] for s in pins if s["fn"] == "pin"),
            "pins.drain_s": sum(s["t1"] - s["t0"] for s in pins if s["fn"] == "drain"),
            "pins.unreleased": created - released,
            **{f"operators.{m}.s": trace.inclusive(spans, f"operators.{m}") for m in trace.OPERATOR_MODULES},
            "plan.s": sum(op.get("plan_s", 0.0) for op in ops),
            "exec.s": exec_s,
            "exec.jobs": exec_jobs,
            "exec.stages": ex["stages"],
            "exec.tasks": ex["tasks"],
            "exec.executor_run_s": ex["run_s"],
            "exec.executor_cpu_s": ex["cpu_s"],
            "exec.slot_busy": ex["run_s"] / (exec_s * env.cores()) if exec_s else 0.0,
            "exec.s_per_job": exec_s / exec_jobs if exec_jobs else 0.0,
            "exec.shuffle_read_bytes": ex["shuffle_read_bytes"],
            "exec.shuffle_write_bytes": ex["shuffle_write_bytes"],
            "exec.spill_bytes": ex["spill_bytes"],
            "sources.read_s": trace.inclusive(spans, "sources"),
            "sources.input_bytes": ex["input_bytes"],
            "pipeline.export_s": trace.inclusive(spans, "pipeline.export"),
            "pipeline.normalize_s": trace.inclusive(spans, "pipeline.normalize"),
            "pipeline.bytes_written": p.get("bytes_written", 0),
            "pipeline.files_written": p.get("files_written", 0),
            "pipeline.write_amp": p.get("bytes_written", 0) / p["bronze_bytes"] if p.get("bronze_bytes") else 0.0,
            "api.calls": sum(1 for s in spans if s["layer"] == "api"),
            "api.s": sum(op.get("api_s", 0.0) for op in ops),
        }
        per_pass.append(m)
    out = {k: statistics.median(p[k] for p in per_pass) for k in per_pass[0]}
    out["jvm.jit_s"] = statistics.median(p["jit_s"] for p in passes)
    out["session.get_spark_s"] = setup["get_spark_s"]
    out["engine.import_s"] = setup["import_s"]
    return out


LAYER_UNITS = {
    "session.get_spark_s": "s", "engine.import_s": "s", "jvm.jit_s": "s",
    "catalog.calls": "count", "catalog.s": "s", "catalog.jobs": "count",
    "build.self_s": "s", "build.jobs": "count",
    "pins.created": "count", "pins.eager_s": "s", "pins.drain_s": "s", "pins.unreleased": "count",
    **{f"operators.{m}.s": "s" for m in ("graph", "lm", "dedup", "similarity", "windows", "sketches")},
    "plan.s": "s",
    "exec.s": "s", "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.executor_run_s": "s", "exec.executor_cpu_s": "s", "exec.slot_busy": "ratio",
    "exec.s_per_job": "s", "exec.shuffle_read_bytes": "bytes", "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "sources.read_s": "s", "sources.input_bytes": "bytes",
    "pipeline.export_s": "s", "pipeline.normalize_s": "s", "pipeline.bytes_written": "bytes",
    "pipeline.files_written": "count", "pipeline.write_amp": "ratio",
    "api.calls": "count", "api.s": "s",
    "trace.overhead": "ratio", "error_rate": "ratio", "mem.peak_rss_mb": "MB",
}


def stop_spark(spark) -> None:
    """Stop the session and the JVM, and wait until the JVM and every
    Python worker it started have exited."""
    from pyspark import SparkContext

    pids = [p for p in env.tree() if p != os.getpid()]
    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=20)
        except Exception:  # noqa: BLE001 — fall through to kill below
            proc.kill()
            proc.wait(timeout=10)
    deadline = time.monotonic() + 20
    while pids and time.monotonic() < deadline:
        pids = [p for p in pids if os.path.exists(f"/proc/{p}") and _alive(p)]
        if pids:
            time.sleep(0.1)
    for p in pids:
        try:
            os.kill(p, 9)
        except OSError:
            pass


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="spark-graft benchmark")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    env.check_checkout()
    env.prepare(args.workload)
    started = env.process_start()

    from perfbench import trace

    tracer = trace.Tracer()
    if args.trace:
        trace.install(tracer)
    spark, queries, setup = env.start_session()
    setup_s = time.time() - started
    tracer.bind(spark)

    runner = Runner(args.workload, args.seed, spark, queries, tracer)
    cold = runner.one_pass(0)
    for i in range(WARMUP_PASSES[args.workload]):
        runner.one_pass(1 + i)
    warm: list[dict] = []
    traced: list[dict] = []
    t0 = time.perf_counter()
    i = 1 + WARMUP_PASSES[args.workload]
    need = TRACED_PASSES if args.trace else MEASURED_PASSES[args.workload]
    while time.perf_counter() - t0 < args.seconds or len(warm) < need or (args.trace and len(traced) < need):
        # traced, untraced, untraced, traced: the process keeps warming up,
        # and this order gives both kinds the same mean position
        tracer.enabled = bool(args.trace) and (len(warm) + len(traced)) % 4 in (0, 3)
        p = runner.one_pass(i)
        (traced if tracer.enabled else warm).append(p)
        tracer.enabled = False
        i += 1
    t_end = time.perf_counter()
    peak_rss = env.peak_rss_mb()

    if args.workload == "daily_etl":
        problems = runner.job.check()
    else:
        problems = sorted(set(runner.mismatches))
    if args.workload == "driver_loops" and args.trace:
        want = sum(runner.census["queries"][n]["load_table"] for n in runner.sample)
        got = sum(op["catalog_calls"] for op in traced[0]["ops"])
        if got != want:
            problems.append(f"trace self-check: catalog.calls {got} != census load_table {want}")
    attempted, failed, errors = runner.totals()
    problems.extend(errors)
    t_stop = time.perf_counter()
    stop_spark(spark)
    print(f"phases: setup {setup_s:.1f} s, cold {cold['s']:.1f} s, warm {t_end - t0:.1f} s, "
          f"stop {time.perf_counter() - t_stop:.1f} s", file=sys.stderr)

    op_times = [op["s"] for p in warm for op in p["ops"]]
    if args.trace:
        metrics = layer_metrics(traced, setup)
        metrics["trace.overhead"] = statistics.median(p["s"] for p in traced) / statistics.median(
            p["s"] for p in warm
        )
        metrics["error_rate"] = failed / max(1, attempted)
        metrics["mem.peak_rss_mb"] = peak_rss
        units = LAYER_UNITS
        os.makedirs(env.OUT, exist_ok=True)
        with open(os.path.join(env.OUT, f"trace-{args.workload}-{args.seed}.jsonl"), "w") as f:
            for p in traced:
                for op in p["ops"]:
                    for s in op.get("spans", ()):
                        f.write(json.dumps(s) + "\n")
    else:
        metrics = {
            "setup_s": setup_s,
            "cold_pass_s": cold["s"],
            "pass_s": statistics.median(p["s"] for p in warm),
            "pass_cpu_s": statistics.median(p["cpu_s"] for p in warm),
            "op_p50_s": statistics.median(op_times),
            "op_tail_s": percentile(op_times, tail_percentile(args.workload)),
        }
        units = END_TO_END_UNITS
    correct = not problems
    for line in problems:
        print(f"INCORRECT {line}")
    print(f"workload={args.workload} seed={args.seed} warm_passes={len(warm)} traced_passes={len(traced)} "
          f"warm_ops={len(op_times)} tail=p{tail_percentile(args.workload)} attempted={attempted} failed={failed} "
          f"error_rate={failed / max(1, attempted):.4f}")
    for k, v in metrics.items():
        print(f"  {k:28s} {v:14.6g} {units[k]}")
    print(json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    raise SystemExit(main())
