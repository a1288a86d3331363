"""Data-layout operators — Z-order clustering keys and small-file
compaction planning.

At 100 TB the dominant cost of most scans is NOT the query plan but the
LAYOUT the plan reads: a table range-clustered on one column serves
predicates on that column and nothing else, while a Z-order (Morton)
interleave of two key columns lets per-file zone maps (min/max column
stats) prune files for predicates on EITHER column.  These operators
compute the layout decisions themselves as DataFrame algebra, so the
planning step scales with the data like any other query:

- :func:`zorder_key` — the bit-interleaved clustering key, pure
  row-local integer math (5 shift/mask ops per dimension — the classic
  "magic bits" spread, no loop, no UDF) that whole-stage codegen fuses
  into the scan.
- :func:`zone_maps` — per-file min/max stats over an explicit file
  assignment: one partial-aggregated groupBy whose shuffle carries
  |files| rows, never data rows.
- :func:`compaction_bins` — greedy contiguous bin-packing of small
  files into target-size compaction jobs via the distributed prefix
  sum (:func:`~..operators.windows.scalable_cumsum`), so the planner
  itself never funnels through a single task even for a million-file
  table listing.

Reference parity: the reference's lake sink writes one object per scan
run per day with no clustering or compaction (`/root/reference/
export.py` per-scan upload loop); these operators are the
layout-maintenance surface a 100 TB lake needs on top of that sink.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# 16-bit magic-bits spread masks (64-bit arithmetic, decimal literals —
# DuckDB's parser shares them verbatim, see _SPREAD_SQL).
_MASKS = (
    (8, 0x00FF00FF),  # 16711935
    (4, 0x0F0F0F0F),  # 252645135
    (2, 0x33333333),  # 858993459
    (1, 0x55555555),  # 1431655765
)


def _spread16(col: Column) -> Column:
    """Spread the low 16 bits of ``col`` to the even bit positions of a
    32-bit value: b15..b0 -> b15 at bit 30, ..., b0 at bit 0."""
    x = col.cast("long").bitwiseAND(F.lit(0xFFFF))
    for shift, mask in _MASKS:
        x = (x.bitwiseOR(F.shiftleft(x, shift))).bitwiseAND(F.lit(mask))
    return x


def zorder_key(col_a: Column, col_b: Column) -> Column:
    """Morton (Z-order) interleave of the low 16 bits of two integer
    columns: bit i of ``col_a`` lands at position 2i, bit i of
    ``col_b`` at 2i+1.  Sorting by this key gives a space-filling-curve
    layout whose contiguous chunks are axis-aligned-ish rectangles in
    (a, b) space — the property that makes min/max zone maps on BOTH
    columns selective.

    Callers with >16-bit key domains pre-scale (bucket) the inputs;
    the interleave itself is exact and total over the 32-bit grid.
    Pure codegen-able integer ops — no shuffle, no UDF."""
    return _spread16(col_a).bitwiseOR(F.shiftleft(_spread16(col_b), 1))


def zorder_key_sql(expr_a: str, expr_b: str) -> str:
    """The DuckDB/ANSI twin of :func:`zorder_key` (same decimal mask
    literals, same shift schedule) so oracle SQL can replay the exact
    interleave."""

    def spread(e: str) -> str:
        x = f"(CAST({e} AS BIGINT) & 65535)"
        for shift, mask in _MASKS:
            x = f"(({x} | ({x} << {shift})) & {mask})"
        return x

    return f"({spread(expr_a)} | ({spread(expr_b)} << 1))"


def zone_maps(
    df: DataFrame, file_col: str, stat_cols: tuple[str, ...]
) -> DataFrame:
    """Per-file zone maps: (file, n_rows, min/max of each stat col).
    One partial-aggregated groupBy — the shuffle carries |files| stat
    rows, not data rows; this is the metadata a scan planner consults
    to skip files."""
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in stat_cols:
        aggs.append(F.min(c).alias(f"min_{c}"))
        aggs.append(F.max(c).alias(f"max_{c}"))
    return df.groupBy(file_col).agg(*aggs)


def compaction_bins(
    files: DataFrame,
    order_cols: tuple[str, ...],
    size_col: str,
    target_bytes: int,
) -> DataFrame:
    """Greedy contiguous compaction planning: walk the file listing in
    ``order_cols`` order accumulating sizes; a file starts a new bin
    when the bytes BEFORE it already reach a multiple of
    ``target_bytes`` — i.e. ``bin = floor((cumsum - size) /
    target)``, the streaming first-fit rule every table-maintenance
    service (OPTIMIZE/compaction) applies per partition.

    The prefix sum is :func:`~..operators.windows.scalable_cumsum` —
    range-repartition + per-partition local scan + broadcast offsets —
    so planning a million-file listing never funnels through one task.
    Contiguity in ``order_cols`` is deliberate: compaction must
    preserve the table's clustering, so bins may only merge NEIGHBORING
    files.  Input is one row per file (metadata-sized); output adds
    ``cum_bytes`` and ``bin_id``."""
    from .windows import scalable_cumsum

    out = scalable_cumsum(files, order_cols, size_col, out_col="cum_bytes")
    return out.withColumn(
        "bin_id",
        F.floor(
            (F.col("cum_bytes") - F.col(size_col)) / F.lit(target_bytes)
        ).cast("long"),
    )
