"""Snapshot diff / change-data-capture — the consumer side of the
reference's dimension-snapshot sink (SURVEY.md §2.1 S6).

The reference uploads a FULL folder/scan dimension snapshot each run
(`/root/reference/export.py:241-243`) — snapshot-per-partition-date is
the lake layout. Anything downstream that wants "what changed since
yesterday" must diff two snapshots; this operator is that diff:

    snapshot_diff(old, new, keys, compare) ->
        one row per key present in either snapshot, classified
        ``added`` / ``removed`` / ``changed`` / ``unchanged``

Scale shape: one FULL OUTER join hash-partitioned on the key columns —
dimension-sized inputs by construction (snapshots, not facts), and the
classification is row-local column algebra. At 100 TB-of-facts scale
the dimension snapshots are still MBs-to-GBs, so this plan broadcasts
or shuffles cheaply either way; AQE decides.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key_cols: Sequence[str],
    compare_cols: Sequence[str],
) -> DataFrame:
    """Classify every key across two snapshots of the same entity.

    Output columns: ``key_cols``, then ``old_<c>`` / ``new_<c>`` for
    each compare column, then ``change_type``. ``changed`` uses
    null-safe equality (``<=>``) per compare column, so a value
    flipping to/from NULL counts as a change — the semantics an SCD
    Type-2 loader needs to decide row expiry."""
    o = old.select(
        *[F.col(k) for k in key_cols],
        *[F.col(c).alias(f"old_{c}") for c in compare_cols],
        F.lit(1).alias("_in_old"),
    )
    n = new.select(
        *[F.col(k) for k in key_cols],
        *[F.col(c).alias(f"new_{c}") for c in compare_cols],
        F.lit(1).alias("_in_new"),
    )
    joined = o.join(n, list(key_cols), "full_outer")

    same: Column = F.lit(True)
    for c in compare_cols:
        same = same & F.col(f"old_{c}").eqNullSafe(F.col(f"new_{c}"))
    change = (
        F.when(F.col("_in_old").isNull(), F.lit("added"))
        .when(F.col("_in_new").isNull(), F.lit("removed"))
        .when(same, F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    return joined.select(
        *key_cols,
        *[f"old_{c}" for c in compare_cols],
        *[f"new_{c}" for c in compare_cols],
        change.alias("change_type"),
    )


def merge_upsert(
    target: DataFrame,
    updates: DataFrame,
    key_cols: Sequence[str],
    set_cols: Sequence[str],
    delete_col: str | None = None,
) -> DataFrame:
    """MERGE INTO semantics on plain DataFrames (no Delta/Iceberg
    required): rows matched by key take the update's ``set_cols``
    (non-key target columns outside ``set_cols`` are carried
    through), unmatched update rows INSERT, unmatched target rows
    carry unchanged; with ``delete_col`` set, matched updates whose
    flag is true DELETE the target row.

    ``updates`` must be UNIQUE on ``key_cols`` — SQL MERGE raises when
    multiple source rows match one target row, and so does this
    operator: it plants an in-plan ``raise_error`` behind a per-key
    count window on the updates side, so a duplicate key fails the job
    AT EXECUTION, distributed, with the offending key in the message —
    not a silent full-outer-join fan-out that duplicates target rows.
    The window shuffles only the (dimension-sized) updates frame on
    the same key the join shuffles on.

    One full-outer join hash-partitioned on the keys + row-local
    coalesce resolution — the standard shuffle-once upsert. In a
    lakehouse deployment the result overwrites the target's changed
    partitions (write_partitioned's dynamic overwrite); the resolve
    logic here is exactly what MERGE INTO compiles to.
    """
    from pyspark.sql import Window

    wk = Window.partitionBy(*[F.col(k) for k in key_cols])
    updates = (
        updates.withColumn("_kcnt", F.count(F.lit(1)).over(wk))
        .filter(
            F.when(
                F.col("_kcnt") > 1,
                F.raise_error(
                    F.concat(
                        F.lit(
                            "merge_upsert: multiple update rows match "
                            "key ("
                        ),
                        F.concat_ws(
                            ",", *[F.col(k).cast("string") for k in key_cols]
                        ),
                        F.lit(") — MERGE requires a unique source"),
                    )
                ).cast("boolean"),
            ).otherwise(F.lit(True))
        )
        .drop("_kcnt")
    )
    t = target.select(
        *[F.col(k) for k in key_cols],
        *[
            F.col(c).alias(f"_t_{c}")
            for c in target.columns
            if c not in key_cols
        ],
        F.lit(1).alias("_in_t"),
    )
    u_cols = [c for c in set_cols if c not in key_cols]
    u = updates.select(
        *[F.col(k) for k in key_cols],
        *[F.col(c).alias(f"_u_{c}") for c in u_cols],
        *([F.col(delete_col).alias("_del")] if delete_col else []),
        F.lit(1).alias("_in_u"),
    )
    j = t.join(u, list(key_cols), "full_outer")
    if delete_col:
        # a delete-flagged update removes its matched target row AND is
        # a no-op when unmatched (CDC tombstone for an absent key must
        # not insert) — so drop every delete-flagged row outright
        j = j.filter(~F.coalesce(F.col("_del"), F.lit(False)))
    out_cols = [F.col(k) for k in key_cols]
    for c in target.columns:
        if c in key_cols:
            continue
        if c in u_cols:
            out_cols.append(
                F.when(F.col("_in_u").isNotNull(), F.col(f"_u_{c}"))
                .otherwise(F.col(f"_t_{c}"))
                .alias(c)
            )
        else:
            out_cols.append(F.col(f"_t_{c}").alias(c))
    return j.select(*out_cols)
