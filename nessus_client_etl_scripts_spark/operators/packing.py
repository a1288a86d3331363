"""Sequence packing — greedy token-budget binning of documents into
training-batch bins.

Training pipelines concatenate documents into fixed-token-budget
sequences ("packing") to avoid padding waste. The assignment is
inherently sequential per shard — bin boundaries depend on the running
fill, so it cannot be a window cumsum (a cumsum/budget quotient lets
bins overflow; greedy packing RESETS the fill at each boundary).

Spark shape: per-group ``applyInPandas`` with a deterministic in-group
order — the same one-batch-per-group memory contract as
``operators/groupwise.py``: a group must fit one executor's Arrow
batch, so the group key should be a bounded shard (date bucket, hash
prefix), not a global key. The sequential scan inside the batch is
numpy-speed; everything outside stays JVM-side column algebra.

Despite being iterative, the operator is fully oracle-checkable: the
same greedy recurrence is expressible as a DuckDB recursive CTE
(:func:`pack_sequences_sql`), which the declared query (q52) runs —
exact integer token counts, exact bin ids, no floats anywhere.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .text import token_count


def pack_sequences(
    df: DataFrame,
    budget: int,
) -> DataFrame:
    """(source, doc_id, n_tokens, bin_id): greedy sequential packing of
    each group's documents (ordered by ``doc_id``) into bins of at most
    ``budget`` whitespace tokens; a document larger than the budget
    occupies a bin alone. ``bin_id`` restarts at 0 per group."""
    base = df.select(
        F.col("source").alias("grp"),
        F.col("doc_id"),
        token_count(F.col("text")).cast("long").alias("n_tokens"),
    )

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id", kind="mergesort").reset_index(
            drop=True
        )
        bins = []
        bin_id, fill = 0, 0
        for n in pdf["n_tokens"]:
            if fill > 0 and fill + n > budget:
                bin_id += 1
                fill = 0
            fill += n
            bins.append(bin_id)
        pdf["bin_id"] = pd.Series(bins, dtype="int64")
        return pdf

    out = base.groupBy("grp").applyInPandas(
        pack, schema="grp string, doc_id long, n_tokens long, bin_id long"
    )
    return out.withColumnRenamed("grp", "source")


def pack_sequences_sql(budget: int) -> str:
    """DuckDB twin of :func:`pack_sequences`: the greedy recurrence as a
    recursive CTE — one recursion step per document position, carrying
    (bin, fill) exactly as the Pandas loop does."""
    return f"""
WITH RECURSIVE toks AS (
  SELECT source AS grp, doc_id,
         len(string_split(text, ' '))::BIGINT AS n_tokens
  FROM documents
), ord AS (
  SELECT grp, doc_id, n_tokens,
         row_number() OVER (PARTITION BY grp ORDER BY doc_id) AS rn
  FROM toks
), packed AS (
  SELECT grp, doc_id, n_tokens, rn,
         0::BIGINT AS bin_id, n_tokens AS fill
  FROM ord WHERE rn = 1
  UNION ALL
  SELECT o.grp, o.doc_id, o.n_tokens, o.rn,
         CASE WHEN p.fill + o.n_tokens > {budget}
              THEN p.bin_id + 1 ELSE p.bin_id END,
         CASE WHEN p.fill + o.n_tokens > {budget}
              THEN o.n_tokens ELSE p.fill + o.n_tokens END
  FROM packed p JOIN ord o ON o.grp = p.grp AND o.rn = p.rn + 1
)
SELECT grp AS source, doc_id, n_tokens, bin_id FROM packed
"""
