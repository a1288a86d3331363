"""One query execution as the benchmark measures it: build the plan, run
it (to a noop sink, or collecting the rows), release its pins."""

from __future__ import annotations

import gc
import time

from .trace import Tracer, self_time


def run(spark, fn, sf_dir: str, tracer: Tracer | None = None, op_id: str = "op",
        collect: bool = False) -> dict:
    """Execute one declared query; returns ``{"s": wall seconds}`` plus,
    when ``tracer`` is recording, this op's layer breakdown. With
    ``collect`` the rows are fetched to the driver, as an analyst's query
    is, and returned as ``"result": (columns, rows)``; otherwise the query
    runs to a noop sink, as the census times it."""
    from nessus_client_etl_scripts_spark import pins

    gc.collect()
    traced = tracer is not None and tracer.enabled
    if traced:
        tracer.begin_op(op_id)
        first = len(tracer.spans)
    try:
        try:
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            t1 = time.perf_counter()
            if traced:
                build_jobs = tracer.group_jobs()
                tp = time.perf_counter()
                df._jdf.queryExecution().executedPlan()
            t2 = time.perf_counter()
            if collect:
                result = (df.columns, [tuple(r) for r in df.collect()])
            else:
                df.write.format("noop").mode("overwrite").save()
            t3 = time.perf_counter()
        finally:
            pins.drain()
        rec = {"s": t3 - t0}
        if collect:
            rec["result"] = result
        if traced:
            rec.update(_layers(tracer, tracer.spans[first:], t0, t1, tp, t2, t3, build_jobs))
            rec["spans"] = tracer.spans[first:]
    finally:
        if traced:
            tracer.end_op()
    return rec


def _layers(tracer: Tracer, spans, t0, t1, tp, t2, t3, build_jobs) -> dict:
    build = {"t0": t0, "t1": t1}
    tracer.add("build", t0, t1)
    tracer.add("plan", tp, t2)
    tracer.add("exec", t2, t3)
    exec_jobs = sorted(set(tracer.group_jobs()) - set(build_jobs))
    catalog = [s for s in spans if s["layer"] == "catalog" and s["fn"] == "load_table"]
    catalog_jobs = sum(s["jobs"] for s in catalog)
    return {
        "build_self_s": self_time(build, [s for s in spans if s["t1"] <= t1]),
        "build_jobs": len(build_jobs) - catalog_jobs,
        "plan_s": t2 - tp,
        "exec_s": t3 - t2,
        "exec_jobs": len(exec_jobs),
        "exec": tracer.stage_metrics(exec_jobs),
        "catalog_calls": len(catalog),
        "catalog_jobs": catalog_jobs,
        "catalog_s": sum(s["t1"] - s["t0"] for s in catalog),
        "pins_created": sum(1 for s in spans if s["layer"] == "pins" and s["fn"] in ("pin", "pin_lazy")),
    }
