"""Aggregation operators — SURVEY.md §2.4 (A1-A4).

The reference's only non-trivial aggregate is the severity pivot-sum
(``calculate_severities``, export.py:60-65): a Python dict accumulation
over a vulnerabilities array, with an accidental semantics quirk —
``if vuln.get('severity')`` excludes severity 0 by falsiness, so the
info counter never accumulates from that path. The engine implements
both the *faithful* (0-excluded) and *corrected* variants as manual
pivots (conditional sums → map-side partial aggregation, one shuffle).
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# severity code → counter column, per export.py:203-207 / schema.sql:145-149
SEVERITY_COLUMNS: dict[int, str] = {
    4: "critical_count",
    3: "high_count",
    2: "medium_count",
    1: "low_count",
    0: "info_count",
}


def pivot_sum(
    df: DataFrame,
    group_by: Sequence[str],
    category_col: str,
    categories: Mapping[object, str],
    value: Column | str,
    exclude: frozenset | None = None,
) -> DataFrame:
    """A1 — manual pivot: one conditional-sum column per category.

    ``exclude`` reproduces the reference's severity-0 falsiness bug
    when set to ``frozenset({0})`` (export.py:63). Conditional sums
    beat ``.pivot()`` here: the category list is static, so Catalyst
    plans a single hash aggregate with map-side combine — no second
    pass to discover pivot values, shuffle carries only partial sums.
    """
    v = F.col(value) if isinstance(value, str) else value
    c = F.col(category_col)
    aggs = []
    for cat, out_name in categories.items():
        cond = c == F.lit(cat)
        if exclude and cat in exclude:
            # faithful mode: the category exists but never accumulates
            aggs.append(F.lit(0).cast("long").alias(out_name))
        else:
            aggs.append(
                F.sum(F.when(cond, v).otherwise(F.lit(0))).alias(out_name)
            )
    return df.groupBy(*group_by).agg(*aggs)


def max_date_watermark(
    df: DataFrame, date_col: Column | str, default: str = "1970-01-01"
) -> DataFrame:
    """A2 — ``max(partition dates)`` with the empty→epoch default
    (get_latest_folder, export.py:75-87). One-row result; Spark plans a
    partial-max per partition then a single final max — no full shuffle.
    """
    c = F.col(date_col) if isinstance(date_col, str) else date_col
    return df.agg(
        F.coalesce(F.max(c), F.to_date(F.lit(default))).alias("watermark")
    )


def exists_flag(df: DataFrame, flag_name: str = "new_scan_runs_exist") -> DataFrame:
    """A4 — the reference's ``new_scan_runs_exist`` boolean
    (export.py:222,238,240) as a one-row aggregate. Planned as a
    count-limit, not a full scan, when Catalyst can prune."""
    return df.limit(1).agg((F.count(F.lit(1)) > 0).alias(flag_name))
