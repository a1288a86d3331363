"""The ``daily_etl`` workload: the paper's daily cron job over seeded
Nessus documents.

One pass is one daily job on a fresh, empty lake and silver root. Its ops,
in order:

1. ``run_export`` in watermark mode (explicit ``today=``);
2. ``run_export`` in lookback mode into its own lake;
3. read the landed lake, ``normalize_scan_runs`` + ``write_silver``;
4. ``read_silver``;
5. five ``plans.nessus_api`` calls, every stored procedure at least once,
   over both folders and the sampled scans (``nessus_docs.api_calls``:
   offsets 0 and 1, plugin filter on and off); each result runs to a noop
   sink with an ``Observation`` of its row count and severity sum.

Every returned count is checked against ``nessus_docs.expected``.
"""

from __future__ import annotations

import os
import shutil
import time

from . import env, nessus_docs
from .nessus_docs import DEPLOYMENT, LOOKBACK_DAYS, TODAY
from .trace import Tracer

OPS_PER_PASS = 4 + 5  # two exports, normalize, read_silver, five stored-procedure calls


def _tree_size(root: str) -> tuple[int, int]:
    """(bytes, files) of the data files under ``root``."""
    size = files = 0
    for dirpath, _, names in os.walk(root):
        for n in names:
            if n.startswith((".", "_")):
                continue
            size += os.path.getsize(os.path.join(dirpath, n))
            files += 1
    return size, files


class DailyJob:
    def __init__(self, spark, seed: int, tracer: Tracer) -> None:
        self.spark, self.tracer = spark, tracer
        docs = nessus_docs.generate(seed)
        self.expected = nessus_docs.expected(docs)
        self.root = os.path.join(env.OUT, "etl", f"s{seed}")
        shutil.rmtree(self.root, ignore_errors=True)
        self.bronze = nessus_docs.land(docs, os.path.join(self.root, "bronze"))
        self.bronze_bytes = sum(_tree_size(p)[0] for p in self.bronze.values())
        self.calls = nessus_docs.api_calls(docs)
        self.attempted = self.failed = 0
        self.errors: list[str] = []
        self.mismatches: list[str] = []

    def _dirs(self, index: int) -> dict[str, str]:
        base = os.path.join(self.root, f"pass-{index}")
        return {k: os.path.join(base, k) for k in ("lake", "lake_lookback", "silver")}

    def _bronze(self):
        from nessus_client_etl_scripts_spark.sources.nessus_schemas import (
            FOLDER_DOC_SCHEMA, SCAN_DOC_SCHEMA, SCAN_RUN_DOC_SCHEMA,
        )

        read = self.spark.read
        return (
            read.schema(SCAN_DOC_SCHEMA).json(self.bronze["scan"]),
            read.schema(SCAN_RUN_DOC_SCHEMA).json(self.bronze["scan_run"]),
            read.schema(FOLDER_DOC_SCHEMA).json(self.bronze["folder"]),
        )

    def _op(self, op_id: str, body) -> dict | None:
        """Run one op, timed; with tracing on, under its own job group."""
        self.attempted += 1
        tracer = self.tracer
        if tracer.enabled:
            tracer.begin_op(op_id)
            first = len(tracer.spans)
        rec: dict = {"name": op_id}
        try:
            t0 = time.perf_counter()
            body(rec)
            rec["s"] = time.perf_counter() - t0
            if tracer.enabled:
                jobs = tracer.group_jobs()
                exec_jobs = sorted(set(jobs) - set(rec.pop("build_job_ids", [])))
                rec["exec_jobs"] = len(exec_jobs)
                rec["exec"] = tracer.stage_metrics(exec_jobs)
                rec.setdefault("exec_s", rec["s"])
                rec["spans"] = tracer.spans[first:]
        except Exception as e:  # noqa: BLE001 — counted, reported, pass continues
            self.failed += 1
            self.errors.append(f"{op_id}: {type(e).__name__}: {e}"[:300])
            return None
        finally:
            if tracer.enabled:
                tracer.end_op()
        return rec

    def _expect(self, key: str, got, want) -> None:
        if got != want:
            self.mismatches.append(f"{key}: got {got}, expected {want}")

    def run_pass(self, index: int) -> list[dict]:
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        from nessus_client_etl_scripts_spark.pipeline import normalize
        from nessus_client_etl_scripts_spark.pipeline.export_pipeline import run_export
        from nessus_client_etl_scripts_spark.plans import nessus_api
        from nessus_client_etl_scripts_spark.sources.lake import read_scan_run_documents

        spark, d = self.spark, self._dirs(index)
        ops: list[dict | None] = []

        def export(mode: str, lake: str):
            def body(rec):
                scans, runs, _ = self._bronze()
                written = run_export(spark, scans, runs, lake, DEPLOYMENT, mode=mode,
                                     lookback_days=LOOKBACK_DAYS, today=TODAY)
                self._expect(f"p{index}:export_{mode}", written, self.expected[f"export_{mode}"])
            return body

        ops.append(self._op(f"p{index}:export_watermark", export("watermark", d["lake"])))
        ops.append(self._op(f"p{index}:export_lookback", export("lookback", d["lake_lookback"])))

        def normalize_body(rec):
            scans, _, folders = self._bronze()
            docs = read_scan_run_documents(spark, d["lake"], DEPLOYMENT)
            normalize.write_silver(normalize.normalize_scan_runs(docs, folders, scans), d["silver"])

        ops.append(self._op(f"p{index}:normalize", normalize_body))
        tables: dict = {}
        ops.append(self._op(f"p{index}:read_silver",
                            lambda rec: tables.update(normalize.read_silver(spark, d["silver"]))))

        for key, fn_name, kwargs in self.calls:
            def api_body(rec, key=key, fn_name=fn_name, kwargs=kwargs):
                t0 = time.perf_counter()
                df = getattr(nessus_api, fn_name)(tables, **kwargs)
                sev = "severity" if "results" in fn_name else (
                    F.col("critical_count") + F.col("high_count") + F.col("medium_count") + F.col("low_count"))
                obs = Observation(key)
                out = df.observe(obs, F.count(F.lit(1)).alias("n"), F.coalesce(F.sum(sev), F.lit(0)).alias("sev"))
                if self.tracer.enabled:
                    rec["build_job_ids"] = self.tracer.group_jobs()
                    tp = time.perf_counter()
                    out._jdf.queryExecution().executedPlan()
                    rec["plan_s"] = time.perf_counter() - tp
                te = time.perf_counter()
                out.write.format("noop").mode("overwrite").save()
                rec["exec_s"] = time.perf_counter() - te
                rec["api_s"] = time.perf_counter() - t0
                got = obs.get
                self._expect(f"p{index}:{key}", (got["n"], got["sev"]), self.expected["api"][key])

            ops.append(self._op(f"p{index}:{key}", api_body))
        return [op for op in ops if op is not None]

    def finish_pass(self, index: int) -> dict:
        """Outside the pass timing: measure what the pass wrote, then drop
        the previous pass's output (the latest one stays for ``check``)."""
        written = [_tree_size(p) for p in self._dirs(index).values()]
        shutil.rmtree(os.path.join(self.root, f"pass-{index - 1}"), ignore_errors=True)
        self.last = index
        return {
            "bytes_written": sum(b for b, _ in written),
            "files_written": sum(f for _, f in written),
            "bronze_bytes": self.bronze_bytes,
        }

    def check(self) -> list[str]:
        """Silver row counts of the last pass, plus every count the passes
        reported."""
        silver = self._dirs(self.last)["silver"]
        for name, want in self.expected["silver"].items():
            try:
                got = self.spark.read.parquet(os.path.join(silver, name)).count()
            except Exception as e:  # noqa: BLE001 — a missing table is a wrong output
                got = f"{type(e).__name__}: {e}"[:200]
            self._expect(f"silver.{name}", got, want)
        shutil.rmtree(self.root, ignore_errors=True)
        return list(self.mismatches)
