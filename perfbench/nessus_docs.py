"""Seeded Nessus export documents for the ``daily_etl`` workload, and the
closed-form answers the pipeline must produce from them.

The documents have the ``sources.nessus_schemas`` shapes (nested scan-run
documents plus folder and scan snapshots with run history) and keep the
FIXTURES.md invariants on every seed:

- plugin severities cover 0-4, so severity-0 vulns exist (A1 drops them
  from the enrichment counters);
- every run has hosts with zero vulns;
- in every folder one scan has two runs with equal ``scan_start`` (the
  latest-run tie-break);
- plugins are drawn with a Zipf-like skew, so a few plugins sit on most
  hosts;
- one scan has ``history = None`` and one scan's latest run is
  ``running``.

Sizes do not depend on the seed: each run has the same number of hosts
and the same multiset of vulns-per-host, shuffled by the seed, so every
seed asks the pipeline for the same amount of work.
"""

from __future__ import annotations

import datetime as dt
import json
import os
from dataclasses import dataclass

import numpy as np

T0 = 1704067200  # 2024-01-01 00:00:00 UTC
DAY = 86400
TODAY = dt.date(2024, 2, 26)  # the export's run date, passed as ``today=``
LOOKBACK_DAYS = 30
DEPLOYMENT = "bench"
SEVERITY_NAMES = {4: "critical_count", 3: "high_count", 2: "medium_count", 1: "low_count", 0: "info_count"}


# Document volume. Synthetic: the reference deployment publishes no volumes,
# so these are sized to keep a run of the workload near one minute on four
# cores (see perfbench/README.md for how pass time moves with them).
FOLDERS = 2
SCANS_PER_FOLDER = 3
SCANS = FOLDERS * SCANS_PER_FOLDER
RUNS_PER_SCAN = 4
HOSTS_PER_RUN = 60
PLUGINS = 400
JSON_PARTS = 4


def _plugin(pid: int) -> dict:
    sev = pid % 5
    return {
        "plugin_id": pid,
        "severity": sev,
        "name": f"plugin-{pid}",
        "family": f"family-{pid % 7}",
        "pluginattributes": {
            "see_also": None if pid % 4 == 0 else [f"https://ex.test/{pid}", f"https://ex.test/{pid}/b"],
            "synopsis": f"synopsis for plugin {pid}",
            "description": f"plugin {pid} detects a condition on the remote host. " * 3,
            "solution": f"apply the vendor fix for plugin {pid}",
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


def run_start(scan_id: int, r: int, tie_scans: frozenset) -> int:
    """Runs two weeks apart; on a tie scan the last two runs share a start."""
    if scan_id in tie_scans and r == RUNS_PER_SCAN - 1:
        r -= 1
    return T0 + (r * 14 + scan_id % 7) * DAY + scan_id * 60


@dataclass
class Docs:
    scan_runs: list[dict]
    scans: list[dict]
    folders: list[dict]
    sample_scans: list[int]
    hot_plugin: int


def generate(seed: int) -> Docs:
    rng = np.random.default_rng(seed)
    weights = 1.0 / np.arange(1, PLUGINS + 1) ** 1.1
    weights /= weights.sum()
    pids = rng.permutation(PLUGINS) + 1  # rank -> plugin id
    catalog = {int(p): _plugin(int(p)) for p in pids}
    per_host = np.array([(h * 7) % 13 for h in range(HOSTS_PER_RUN)])  # 0..12, ~1/13 zero

    folder_of = {s: s // SCANS_PER_FOLDER for s in range(SCANS)}
    by_folder = [list(range(f * SCANS_PER_FOLDER, (f + 1) * SCANS_PER_FOLDER)) for f in range(FOLDERS)]
    tie_scans = frozenset(int(rng.choice(ss)) for ss in by_folder)
    no_history, running = (int(x) for x in rng.choice(SCANS, 2, replace=False))

    scan_runs = []
    for s in range(SCANS):
        for r in range(RUNS_PER_SCAN):
            hid = s * 1000 + r
            counts = rng.permutation(per_host)
            targets = []
            for h, n in enumerate(counts):
                host_id = s * 1000 + h
                chosen = rng.choice(PLUGINS, int(n), replace=False, p=weights)
                vulns = []
                sev = dict.fromkeys(SEVERITY_NAMES.values(), 0)
                for j, rank in enumerate(chosen):
                    p = catalog[int(pids[rank])]
                    count = 1 + (h + j) % 3
                    if p["severity"]:  # A1: severity 0 excluded by falsiness
                        sev[SEVERITY_NAMES[p["severity"]]] += count
                    vulns.append({
                        "plugin": p,
                        "host_vuln": {"nessus_host_id": host_id, "scan_run_id": hid, "plugin_id": p["plugin_id"]},
                        "outputs": [
                            {"port": str(22 + 100 * k), "output": f"out {s}/{hid}/{host_id}/{p['plugin_id']}/{k}"}
                            for k in range(j % 3)
                        ],
                        "severity": p["severity"],
                        "count": count,
                    })
                targets.append({
                    "host_id": host_id, "history_id": hid, "scan_id": s,
                    "host_ip": f"10.{s}.{h // 250}.{h % 250}",
                    "host_fqdn": f"host-{host_id}.example.test",
                    "host_start": "Tue Jan  2 00:00:00 2024",
                    "host_end": "Tue Jan  2 01:00:00 2024",
                    "os": "Linux Kernel 6.1" if h % 2 else None,
                    **sev,
                    "vulnerabilities": vulns,
                })
            start = run_start(s, r, tie_scans)
            scan_runs.append({
                "history_id": hid, "scan_id": s,
                "scanner_start": start, "scanner_end": start + 3600,
                "host_count": len(targets),
                **{c: sum(t[c] for t in targets) for c in SEVERITY_NAMES.values()},
                "targets": targets,
            })

    scans = []
    for s in range(SCANS):
        history = None if s == no_history else [
            {
                "history_id": s * 1000 + r,
                "status": "running" if (s == running and r == RUNS_PER_SCAN - 1) else "completed",
                "last_modification_date": run_start(s, r, tie_scans) + 7200,
            }
            for r in range(RUNS_PER_SCAN)
        ]
        scans.append({
            "id": s, "folder_id": folder_of[s], "type": "local", "name": f"scan-{s}",
            "status": "completed", "last_modification_date": T0 + s * DAY, "history": history,
        })
    folders = [{"id": f, "type": "custom" if f else "main", "name": f"folder-{f}"} for f in range(FOLDERS)]
    # one sampled scan per folder, among scans that have run history
    sample = sorted(int(rng.choice([s for s in ss if s != no_history])) for ss in by_folder)
    return Docs(scan_runs, scans, folders, sample, int(pids[0]))


def land(docs: Docs, root: str) -> dict[str, str]:
    """Write the documents as JSON-lines directories; returns their paths."""
    paths = {k: os.path.join(root, k) for k in ("scan_run", "scan", "folder")}
    for p in paths.values():
        os.makedirs(p, exist_ok=True)
    parts = [open(os.path.join(paths["scan_run"], f"part-{i:05d}.json"), "w") for i in range(JSON_PARTS)]
    try:
        for i, d in enumerate(docs.scan_runs):
            parts[i % len(parts)].write(json.dumps(d) + "\n")
    finally:
        for f in parts:
            f.close()
    for key, rows in (("scan", docs.scans), ("folder", docs.folders)):
        with open(os.path.join(paths[key], "part-00000.json"), "w") as f:
            f.writelines(json.dumps(r) + "\n" for r in rows)
    return paths


# -- closed-form answers -----------------------------------------------------

def completed_runs(docs: Docs, floor: dt.date) -> set[tuple[int, int]]:
    out = set()
    for s in docs.scans:
        for h in s["history"] or ():
            day = dt.datetime.fromtimestamp(h["last_modification_date"], dt.timezone.utc).date()
            if h["status"] == "completed" and day >= floor:
                out.add((s["id"], h["history_id"]))
    return out


def _run_rows(run: dict, plugin_id: int | None = None) -> tuple[int, int]:
    """(result rows, severity sum) of one run's host⋈vuln⋈plugin⋈output chain."""
    rows = sev = 0
    for t in run["targets"]:
        for v in t["vulnerabilities"]:
            if plugin_id is not None and v["plugin"]["plugin_id"] != plugin_id:
                continue
            rows += len(v["outputs"])
            sev += v["plugin"]["severity"] * len(v["outputs"])
    return rows, sev


def _stats_sev(run: dict) -> int:
    return sum(run[c] for c in ("critical_count", "high_count", "medium_count", "low_count"))


def expected(docs: Docs) -> dict:
    """Everything the daily job must report, computed from the documents
    without Spark."""
    landed_keys = completed_runs(docs, dt.date(1970, 1, 1))
    recent = completed_runs(docs, TODAY - dt.timedelta(days=LOOKBACK_DAYS))
    landed = [r for r in docs.scan_runs if (r["scan_id"], r["history_id"]) in landed_keys]
    n_scans, n_folders = len(docs.scans), len({s["folder_id"] for s in docs.scans})
    vulns = [v for r in landed for t in r["targets"] for v in t["vulnerabilities"]]
    out = {
        "export_watermark": {"scan_run": len(landed), "scan": n_scans, "folder": n_folders},
        "export_lookback": {"scan_run": len(recent), "scan": n_scans, "folder": n_folders},
        "silver": {
            "scan_run": len(landed),
            "host": sum(len(r["targets"]) for r in landed),
            "host_vuln": len(vulns),
            "plugin": len({v["plugin"]["plugin_id"] for v in vulns}),
            "vuln_output": sum(len(v["outputs"]) for v in vulns),
            "folder": len(docs.folders),
            "scan": n_scans,
        },
    }
    by_scan: dict[int, list[dict]] = {}
    for r in landed:
        by_scan.setdefault(r["scan_id"], []).append(r)
    for runs in by_scan.values():
        runs.sort(key=lambda r: (r["scanner_start"], r["history_id"]), reverse=True)
    folder_scans: dict[int, list[int]] = {}
    for s in docs.scans:
        folder_scans.setdefault(s["folder_id"], []).append(s["id"])

    api = {}
    for key, fn, kw in api_calls(docs):
        scan_ids = folder_scans.get(kw["folder_id"], []) if "folder_id" in kw else [kw["scan_id"]]
        runs = [r for s in scan_ids for r in by_scan.get(s, [])[kw["offset"]:kw["offset"] + 1]]
        if fn.endswith("_stats"):
            api[key] = (len(runs), sum(_stats_sev(r) for r in runs))
        else:
            rows = [_run_rows(r, kw.get("plugin_id")) for r in runs]
            api[key] = (sum(a for a, _ in rows), sum(b for _, b in rows))
    out["api"] = api
    return out


def api_calls(docs: Docs) -> list[tuple[str, str, dict]]:
    """The stored-procedure calls of one daily job: stats of the first
    folder (offset 0), results of the second folder filtered on the
    hottest plugin (offset 1) and unfiltered results of the first folder
    (offset 0), stats of the first sampled scan (offset 1) and results of
    the second (offset 0)."""
    f0, f1 = sorted({s["folder_id"] for s in docs.scans})[:2]
    s0, s1 = docs.sample_scans[:2]
    return [
        (f"folder_stats:{f0}:0", "get_folder_stats", {"folder_id": f0, "offset": 0}),
        (f"folder_results:{f1}:{docs.hot_plugin}:1", "get_folder_results",
         {"folder_id": f1, "plugin_id": docs.hot_plugin, "offset": 1}),
        (f"folder_results:{f0}:0", "get_folder_results", {"folder_id": f0, "offset": 0}),
        (f"scan_stats:{s0}:1", "get_scan_stats", {"scan_id": s0, "offset": 1}),
        (f"scan_results:{s1}:0", "get_scan_results", {"scan_id": s1, "offset": 0}),
    ]
