"""ETL pipeline layer — SURVEY.md §7 Phase 2.

Bronze (nested scan-run documents, the lake model of §1.1a) →
Silver (the 7 normalized warehouse tables of §1.1b), plus the
incremental export driver (watermark / lookback modes, §2.11).
"""

from .normalize import normalize_scan_runs, severity_rollup
from .export_pipeline import (
    compute_watermark,
    run_export,
    write_partitioned,
)

__all__ = [
    "normalize_scan_runs",
    "severity_rollup",
    "compute_watermark",
    "run_export",
    "write_partitioned",
]
