"""Deterministic Nessus-domain fixtures — FIXTURES.md §A.

The reference ships no tests (SURVEY.md §5), so end-to-end pipeline
coverage uses synthetic documents built to its data model: nested
scan-run documents (export.py:196-208 shape), folder/scan snapshots,
and the constraints FIXTURES.md derives from the risk register —
≥3 runs per scan with distinct starts (W1 + offset>0), one equal-start
tie pair, severities uniform over 0-4 INCLUDING 0 (the falsiness-bug
class), hosts with zero vulns, and plugins shared across many hosts
(join skew).

Everything is seedless-deterministic (closed-form functions of ids),
so golden assertions are stable across runs and machines.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from ..sources.nessus_schemas import (
    FOLDER_DOC_SCHEMA,
    SCAN_DOC_SCHEMA,
    SCAN_RUN_DOC_SCHEMA,
)

# epoch anchor: 2024-01-01 00:00:00 UTC
T0 = 1704067200
DAY = 86400

N_FOLDERS = 3
SCANS_PER_FOLDER = 3
RUNS_PER_SCAN = 4  # >=3 distinct starts; run 3 ties with run 2 on scan 0
HOSTS_PER_RUN = 5
N_PLUGINS = 12  # small → shared across hosts (skew)


def _plugin(pid: int) -> dict:
    sev = pid % 5  # uniform over 0-4, including 0
    return {
        "plugin_id": pid,
        "severity": sev,
        "name": f"plugin-{pid}",
        "family": f"family-{pid % 3}",
        "pluginattributes": {
            # see_also: None for every 4th plugin (null passthrough, F1)
            "see_also": None if pid % 4 == 0 else [f"https://ex/{pid}", f"https://ex/{pid}/b"],
            "synopsis": f"synopsis {pid}",
            "description": f"description {pid}",
            "solution": f"solution {pid}",
            "plugin_publication_date": "2023/01/02",
            "plugin_modification_date": "2023/06/07",
            "risk_information": {
                "cvss_base_score": f"{sev * 2}.1" if sev else None,
                "cvss3_base_score": f"{sev * 2}.3" if sev else None,
                "cvss_vector": f"AV:N/sev{sev}",
                "cvss3_vector": f"CVSS:3.0/sev{sev}",
            },
        },
        "ref": None,
    }


def _vuln(scan_id: int, history_id: int, host_id: int, j: int) -> dict:
    pid = (host_id * 7 + j) % N_PLUGINS + 1
    p = _plugin(pid)
    n_outputs = j % 3  # some vulns have zero outputs
    return {
        "plugin": p,
        "host_vuln": {
            "nessus_host_id": host_id,
            "scan_run_id": history_id,
            "plugin_id": pid,
        },
        "outputs": [
            {"port": str(22 + 100 * k), "output": f"out {scan_id}/{history_id}/{host_id}/{pid}/{k}"}
            for k in range(n_outputs)
        ],
        "severity": p["severity"],
        "count": 1 + (host_id + j) % 3,
    }


def _target(scan_id: int, history_id: int, h: int) -> dict:
    host_id = scan_id * 100 + h
    # every 5th host has zero vulns (FIXTURES.md constraint)
    n_vulns = 0 if h == HOSTS_PER_RUN - 1 else 2 + (host_id % 4)
    vulns = [_vuln(scan_id, history_id, host_id, j) for j in range(n_vulns)]
    sev = {c: 0 for c in ("critical_count", "high_count", "medium_count", "low_count", "info_count")}
    names = {4: "critical_count", 3: "high_count", 2: "medium_count", 1: "low_count", 0: "info_count"}
    for v in vulns:
        # enrichment counters as the reference computes them
        # (export.py:60-65): severity-0 EXCLUDED by falsiness
        if v["severity"]:
            sev[names[v["severity"]]] += v["count"]
    return {
        "host_id": host_id,
        "history_id": history_id,
        "scan_id": scan_id,
        "host_ip": f"10.0.{scan_id}.{h}",
        "host_fqdn": f"host-{host_id}.example.test",
        "host_start": "Tue Jan  2 00:00:00 2024",
        "host_end": "Tue Jan  2 01:00:00 2024",
        "os": "Linux Kernel 6.1" if h % 2 else None,
        **sev,
        "vulnerabilities": vulns,
    }


def run_start(scan_id: int, r: int) -> int:
    """Distinct per-run starts, EXCEPT scan 1 where runs 2 and 3 tie
    (the W1 tie-break fixture)."""
    if scan_id == 1 and r == 3:
        r = 2
    return T0 + scan_id * 3600 + r * DAY


def scan_run_doc(scan_id: int, r: int) -> dict:
    history_id = scan_id * 1000 + r
    targets = [_target(scan_id, history_id, h) for h in range(HOSTS_PER_RUN)]
    agg = {c: sum(t[c] for t in targets) for c in
           ("critical_count", "high_count", "medium_count", "low_count", "info_count")}
    start = run_start(scan_id, r)
    return {
        "history_id": history_id,
        "scan_id": scan_id,
        "scanner_start": start,
        "scanner_end": start + 3600,
        "host_count": len(targets),
        **agg,
        "targets": targets,
    }


def all_scan_ids() -> list[int]:
    return list(range(N_FOLDERS * SCANS_PER_FOLDER))


def scan_run_doc_rows() -> list[dict]:
    return [scan_run_doc(s, r) for s in all_scan_ids() for r in range(RUNS_PER_SCAN)]


def folder_doc_rows() -> list[dict]:
    return [
        {"id": f, "type": "custom" if f else "main", "name": f"folder-{f}"}
        for f in range(N_FOLDERS)
    ]


def scan_doc_rows() -> list[dict]:
    """Scan listing WITH history arrays (the raw shape export.py:229
    consumes: status + last_modification_date per run). Scan 2 has
    history=None (P5 null-guard fixture); the last run of scan 3 is
    'running', not 'completed' (P4 status fixture)."""
    rows = []
    for s in all_scan_ids():
        if s == 2:
            history = None
        else:
            history = [
                {
                    "history_id": s * 1000 + r,
                    "status": "running" if (s == 3 and r == RUNS_PER_SCAN - 1) else "completed",
                    "last_modification_date": run_start(s, r) + 7200,
                }
                for r in range(RUNS_PER_SCAN)
            ]
        rows.append(
            {
                "id": s,
                "folder_id": s // SCANS_PER_FOLDER,
                "type": "local",
                "name": f"scan-{s}",
                "status": "completed",
                "last_modification_date": T0 + s * DAY,
                "history": history,
            }
        )
    return rows


def scan_run_docs(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(scan_run_doc_rows(), SCAN_RUN_DOC_SCHEMA)


def folder_docs(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(folder_doc_rows(), FOLDER_DOC_SCHEMA)


def scan_docs(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(scan_doc_rows(), SCAN_DOC_SCHEMA)


# ---------------------------------------------------------------------------
# Parquet twin of the fixtures — lets NON-Spark engines (the DuckDB
# correctness oracle) read the exact same documents, closing the loop on
# the Nessus-native pipeline: bronze→silver→get_folder_results becomes
# oracle-checkable end to end (VERDICT r1 §Next-3).
# ---------------------------------------------------------------------------

_FIXTURE_VERSION = "v1"  # bump when any fixture constant above changes


def fixture_parquet_dir() -> str:
    """Repo-local cache dir (never outside the repo tree)."""
    here = os.path.dirname(os.path.abspath(__file__))
    return os.path.join(os.path.dirname(os.path.dirname(here)), ".fixture_lake")


def _pa_scan_run_schema():
    import pyarrow as pa

    risk = pa.struct(
        [
            ("cvss_base_score", pa.string()),
            ("cvss3_base_score", pa.string()),
            ("cvss_vector", pa.string()),
            ("cvss3_vector", pa.string()),
        ]
    )
    plugattr = pa.struct(
        [
            ("see_also", pa.list_(pa.string())),
            ("synopsis", pa.string()),
            ("description", pa.string()),
            ("solution", pa.string()),
            ("plugin_publication_date", pa.string()),
            ("plugin_modification_date", pa.string()),
            ("risk_information", risk),
        ]
    )
    plugin = pa.struct(
        [
            ("plugin_id", pa.int32()),
            ("severity", pa.int32()),
            ("name", pa.string()),
            ("family", pa.string()),
            ("pluginattributes", plugattr),
            ("ref", pa.string()),
        ]
    )
    host_vuln = pa.struct(
        [
            ("nessus_host_id", pa.int32()),
            ("scan_run_id", pa.int32()),
            ("plugin_id", pa.int32()),
        ]
    )
    output = pa.struct([("port", pa.string()), ("output", pa.string())])
    vuln = pa.struct(
        [
            ("plugin", plugin),
            ("host_vuln", host_vuln),
            ("outputs", pa.list_(output)),
            ("severity", pa.int32()),
            ("count", pa.int32()),
        ]
    )
    counters = [
        (c, pa.int32())
        for c in ("critical_count", "high_count", "medium_count", "low_count", "info_count")
    ]
    target = pa.struct(
        [
            ("host_id", pa.int32()),
            ("history_id", pa.int32()),
            ("scan_id", pa.int32()),
            ("host_ip", pa.string()),
            ("host_fqdn", pa.string()),
            ("host_start", pa.string()),
            ("host_end", pa.string()),
            ("os", pa.string()),
            *counters,
            ("vulnerabilities", pa.list_(vuln)),
        ]
    )
    return pa.schema(
        [
            ("history_id", pa.int32()),
            ("scan_id", pa.int32()),
            ("scanner_start", pa.int64()),
            ("scanner_end", pa.int64()),
            ("host_count", pa.int32()),
            *counters,
            ("targets", pa.list_(target)),
        ]
    )


def _pa_scan_schema():
    import pyarrow as pa

    hist = pa.struct(
        [
            ("history_id", pa.int32()),
            ("status", pa.string()),
            ("last_modification_date", pa.int64()),
        ]
    )
    return pa.schema(
        [
            ("id", pa.int32()),
            ("folder_id", pa.int32()),
            ("type", pa.string()),
            ("name", pa.string()),
            ("status", pa.string()),
            ("last_modification_date", pa.int64()),
            ("history", pa.list_(hist)),
        ]
    )


def ensure_fixture_parquet() -> str:
    """Write the fixture documents as nested parquet via pyarrow (no
    Spark session needed). Idempotent per fixture version; returns the
    directory. Types mirror the Spark bronze schemas exactly (int32
    where Spark declares IntegerType), so both engines see identical
    values."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    root = fixture_parquet_dir()
    marker = os.path.join(root, f".{_FIXTURE_VERSION}")
    if os.path.exists(marker):
        return root
    os.makedirs(root, exist_ok=True)
    pq.write_table(
        pa.Table.from_pylist(scan_run_doc_rows(), schema=_pa_scan_run_schema()),
        os.path.join(root, "scan_run_docs.parquet"),
    )
    pq.write_table(
        pa.Table.from_pylist(scan_doc_rows(), schema=_pa_scan_schema()),
        os.path.join(root, "scan_docs.parquet"),
    )
    pq.write_table(
        pa.Table.from_pylist(
            folder_doc_rows(),
            schema=pa.schema(
                [("id", pa.int32()), ("type", pa.string()), ("name", pa.string())]
            ),
        ),
        os.path.join(root, "folder_docs.parquet"),
    )
    with open(marker, "w"):
        pass
    return root
