"""Filter/predicate operators — SURVEY.md §2.2 (P1-P9).

All predicates are plain Column expressions so Catalyst pushes them to
the parquet scan (row-group skipping) and prunes partitions; none of
them should ever appear above a join in the optimized plan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import is_yyyymmdd_segment, key_segment


def valid_partition_key(key_col: str, segment_idx: int = 1) -> Column:
    """P6 — S3 key-shape guard: >1 segment, digits, length 8
    (export.py:84)."""
    return (F.size(F.split(F.col(key_col), "/")) > 1) & is_yyyymmdd_segment(
        key_segment(key_col, segment_idx)
    )


def optional_eq_filter(df: DataFrame, col: str, value) -> DataFrame:
    """P7 — the reference's dynamic plugin filter: ``IF pid IS NULL →
    all rows ELSE WHERE plugin_id = pid`` (get_folder_results.sql:81-85).

    Resolved at plan-build time, so when a value IS given the equality
    predicate participates in pushdown/partition pruning — unlike the
    reference, which always materializes the full temp table first.
    """
    if value is None:
        return df
    return df.filter(F.col(col) == F.lit(value))
