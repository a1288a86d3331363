"""Join operators — SURVEY.md §2.3 (J3; J1/J2 are inline joins in plans/).

The reference joins via MySQL NATURAL JOIN (key = whatever columns
share names — get_scan_results.sql:11-14) and via Python fetch-joins
(export.py:151-161). The engine pins explicit key lists (the survey's
risk register: column drift must not silently change join semantics)
and leans on Catalyst/AQE for physical strategy: broadcast for dims,
sort-merge for fact⋈fact, runtime skew splitting for hot keys.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def semi_join_latest(
    fact: DataFrame, latest: DataFrame, on: Sequence[str] | str
) -> DataFrame:
    """J3 — restrict facts to rows whose key appears in ``latest`` (the
    reference's scalar-subquery filter, get_scan_results.sql:15-21).

    ``left_semi`` + broadcast: the latest-run set is one row per group,
    tiny at any scale, so this never shuffles the fact side.
    """
    keys = list(on) if not isinstance(on, str) else [on]
    return fact.join(
        F.broadcast(latest.select(*keys).distinct()), keys, "left_semi"
    )
