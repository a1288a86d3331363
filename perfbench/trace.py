"""Outside-in layer tracing for the benchmark.

Spans are recorded around calls INTO the engine's package modules, from
the benchmark's side: wrappers replace the public functions of the traced
modules as each module finishes executing, so every later
``from ..catalog import load_table`` binds the wrapper. That is why
:func:`install` must run before ``import __spark_entry__``: the plan
modules bind ``load_table`` and ``pin`` at import time, and a wrapper set
after that would silently record nothing.

Job counts come from ``StatusTracker`` under one job group per op; stage
metrics come from the ``AppStatusStore``, which is populated with the UI
disabled. Spans stay in memory and are written out by the caller at the
end of the run.
"""

from __future__ import annotations

import functools
import importlib.abc
import importlib.machinery
import inspect
import sys
import time
from collections.abc import Callable, Iterable

PKG = "nessus_client_etl_scripts_spark"

OPERATOR_MODULES = ("graph", "lm", "dedup", "similarity", "windows", "sketches")

# module -> layer name; every public function the module defines is wrapped
TRACED_MODULES = {
    f"{PKG}.catalog": "catalog",
    f"{PKG}.pins": "pins",
    f"{PKG}.session": "session",
    f"{PKG}.plans.nessus_api": "api",
    f"{PKG}.pipeline.export_pipeline": "pipeline.export",
    f"{PKG}.pipeline.normalize": "pipeline.normalize",
    f"{PKG}.sources.lake": "sources",
    **{f"{PKG}.operators.{m}": f"operators.{m}" for m in OPERATOR_MODULES},
}

# layers whose spans record the jobs launched inside them
JOB_LAYERS = frozenset({"catalog", "pins"})


class Tracer:
    """Span recorder. ``enabled`` gates recording so one process can run
    untraced and traced passes through the same wrappers."""

    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[dict] = []
        self.op: str | None = None
        self._spark = None

    def bind(self, spark) -> None:
        self._spark = spark

    # -- job accounting -------------------------------------------------
    def flush_listener(self) -> None:
        """Block until the listener bus has delivered every event, so
        the status store reflects all finished jobs and stages."""
        self._spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(30_000)

    def group_jobs(self) -> list[int]:
        if self.op is None:
            return []
        self.flush_listener()
        return sorted(self._spark.sparkContext.statusTracker().getJobIdsForGroup(self.op))

    def begin_op(self, op_id: str) -> None:
        self.op = op_id
        self._spark.sparkContext.setJobGroup(op_id, op_id, interruptOnCancel=False)

    def end_op(self) -> None:
        self._spark.sparkContext._jsc.clearJobGroup()
        self.op = None

    # -- spans ------------------------------------------------------------
    def call(self, layer: str, fn: Callable, args, kwargs):
        span = {"layer": layer, "fn": fn.__name__, "op": self.op, "t0": time.perf_counter()}
        before = self.group_jobs() if layer in JOB_LAYERS else None
        try:
            out = fn(*args, **kwargs)
        finally:
            span["t1"] = time.perf_counter()
            if before is not None:
                span["jobs"] = len(set(self.group_jobs()) - set(before))
            self.spans.append(span)
        if layer == "pins" and fn.__name__ == "drain":
            span["released"] = out
        return out

    def add(self, layer: str, t0: float, t1: float, **attrs) -> None:
        """Record a span the benchmark timed itself (build, plan, exec)."""
        self.spans.append({"layer": layer, "op": self.op, "t0": t0, "t1": t1, **attrs})

    def stage_metrics(self, job_ids: Iterable[int]) -> dict[str, float]:
        """Sum stage metrics of the given jobs from the status store."""
        sc = self._spark.sparkContext
        store = sc._jsc.sc().statusStore()
        tracker = sc.statusTracker()
        out = dict.fromkeys(
            ("stages", "tasks", "run_s", "cpu_s", "input_bytes",
             "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"), 0.0
        )
        seen: set[int] = set()
        for jid in job_ids:
            info = tracker.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    st = store.lastStageAttempt(sid)
                except Exception:  # noqa: BLE001 — skipped stages have no attempt
                    continue
                if str(st.status()) != "COMPLETE":
                    continue
                out["stages"] += 1
                out["tasks"] += st.numTasks()
                out["run_s"] += st.executorRunTime() / 1e3
                out["cpu_s"] += st.executorCpuTime() / 1e9
                out["input_bytes"] += st.inputBytes()
                out["shuffle_read_bytes"] += st.shuffleReadBytes()
                out["shuffle_write_bytes"] += st.shuffleWriteBytes()
                out["spill_bytes"] += st.diskBytesSpilled()
        return out


def _wrap(tracer: Tracer, layer: str, fn: Callable) -> Callable:
    @functools.wraps(fn)
    def traced(*args, **kwargs):
        if not tracer.enabled:
            return fn(*args, **kwargs)
        return tracer.call(layer, fn, args, kwargs)

    return traced


def patch_module(tracer: Tracer, module, layer: str) -> int:
    """Wrap every public plain function ``module`` defines (not re-exported
    names, not UDF objects). Returns how many were wrapped."""
    n = 0
    for name, obj in list(vars(module).items()):
        if (
            name.startswith("_")
            or not inspect.isfunction(obj)
            or obj.__module__ != module.__name__
            or hasattr(obj, "evalType")
        ):
            continue
        setattr(module, name, _wrap(tracer, layer, obj))
        n += 1
    return n


class _PatchOnLoad(importlib.abc.MetaPathFinder):
    def __init__(self, tracer: Tracer) -> None:
        self.tracer = tracer

    def find_spec(self, fullname, path, target=None):
        layer = TRACED_MODULES.get(fullname)
        if layer is None:
            return None
        spec = importlib.machinery.PathFinder.find_spec(fullname, path)
        if spec is None or spec.loader is None:
            return spec
        inner, tracer = spec.loader, self.tracer

        class Loader(importlib.abc.Loader):
            def create_module(self, spec):
                return inner.create_module(spec)

            def exec_module(self, module):
                inner.exec_module(module)
                patch_module(tracer, module, layer)

        spec.loader = Loader()
        return spec


def install(tracer: Tracer) -> None:
    """Arrange for each of ``TRACED_MODULES`` to be patched the moment it
    is first imported. Raises if one is already imported, because modules
    that imported from it earlier hold unwrapped functions."""
    early = sorted(m for m in TRACED_MODULES if m in sys.modules)
    if early:
        raise RuntimeError(f"trace installed after import of {early}")
    sys.meta_path.insert(0, _PatchOnLoad(tracer))


# -- span arithmetic -------------------------------------------------------

def covered(intervals: Iterable[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a or b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def self_time(parent: dict, spans: Iterable[dict]) -> float:
    """The parent's duration minus the part of it covered by other spans
    that start and end inside it."""
    lo, hi = parent["t0"], parent["t1"]
    inner = [
        (s["t0"], s["t1"]) for s in spans
        if s is not parent and s["t0"] >= lo and s["t1"] <= hi
    ]
    return (hi - lo) - covered(inner, lo, hi)


def inclusive(spans: Iterable[dict], layer: str) -> float:
    """Wall time covered by a layer's spans, nested calls counted once."""
    iv = [(s["t0"], s["t1"]) for s in spans if s["layer"] == layer]
    if not iv:
        return 0.0
    return covered(iv, min(a for a, _ in iv), max(b for _, b in iv))
