"""Skew-handling operators — the 100 TB posture for hot keys.

AQE's skew-join splitting (on in session.py) handles most cases at
runtime by splitting oversized partitions. These helpers cover the
cases AQE can't: a broadcast-ineligible join against a dimension with
a handful of pathologically hot keys (the "informational findings
plugin on every host" shape), and explicit salt control when the skew
is known ahead of time.

Mechanics: the fact side gets a deterministic salt in [0, salt); the
dimension side is replicated salt× (explode of a literal range —
dimension rows are small, replication is cheap); the join key becomes
(key, salt), spreading each hot key over `salt` reducers. Results are
row-identical to the unsalted join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SALT_COL = "_salt"


def with_salt(df: DataFrame, salt: int, *, deterministic_col: str | None = None) -> DataFrame:
    """Add a salt in [0, salt). With ``deterministic_col`` the salt is
    a hash of that column (stable across retries — required for
    exactly-once sinks); otherwise a uniform random salt."""
    if deterministic_col is not None:
        s = F.pmod(F.xxhash64(deterministic_col), F.lit(salt))
    else:
        s = (F.rand(seed=0) * salt).cast("int")
    return df.withColumn(SALT_COL, s.cast("int"))


def replicate_for_salt(df: DataFrame, salt: int) -> DataFrame:
    """Replicate each row salt× with _salt = 0..salt-1 (the dimension
    side of a salted join)."""
    return df.withColumn(
        SALT_COL, F.explode(F.sequence(F.lit(0), F.lit(salt - 1)).cast("array<int>"))
    )


def salted_join(
    facts: DataFrame,
    dim: DataFrame,
    on: list[str] | str,
    salt: int = 8,
    salt_by: str | None = None,
) -> DataFrame:
    """Equi-join with the key space widened by a salt: each hot key's
    rows spread over ``salt`` reducers instead of one.

    ``dim`` is the smaller side (replicated salt×). Use when the dim is
    too large to broadcast but has hot join keys; prefer broadcast or
    plain join + AQE otherwise.

    Salt assignment: random by default (result-invariant — the dim side
    carries every salt value). NEVER salt by a hash of the join key
    itself: a hot key hashes to ONE salt and nothing spreads. Pass
    ``salt_by=<high-cardinality fact column>`` when retries must see
    stable row placement (exactly-once sinks)."""
    keys = [on] if isinstance(on, str) else list(on)
    f = with_salt(facts, salt, deterministic_col=salt_by)
    d = replicate_for_salt(dim, salt)
    return f.join(d, keys + [SALT_COL], "inner").drop(SALT_COL)


def salted_aggregate(
    df: DataFrame,
    group_cols: list[str],
    sum_cols: dict[str, str],
    salt: int = 8,
    deterministic_col: str | None = None,
) -> DataFrame:
    """Two-phase aggregation for HOT group keys: pre-aggregate on
    (group, salt) so a key that owns half the table spreads over
    ``salt`` reducers, then re-aggregate the salted partials.

    Sums and counts re-associate exactly (integer/decimal inputs), so
    the result is value-identical to the direct groupBy — q85 proves
    it against the plain-SQL oracle. Spark's own partial aggregation
    already combines map-side, which covers MOST skew; the explicit
    salt matters when a single partition's hash bucket receives the
    hot key's entire REDUCE side (e.g. high-cardinality payloads
    under the same group key, or agg functions whose partial state is
    large). Same trade as salted_join: one extra small shuffle of
    |groups|×salt rows buys reduce-side balance.

    ``deterministic_col`` salts by hash of that column (rerun-stable)
    instead of a random salt — required when the aggregate feeds an
    oracle-checked or checkpoint-replayed plan."""
    salted = with_salt(df, salt, deterministic_col=deterministic_col)
    partial_aggs = [
        F.sum(src).alias(f"_ps_{out}") for out, src in sum_cols.items()
    ] + [F.count(F.lit(1)).alias("_pn")]
    partial = salted.groupBy(*group_cols, "_salt").agg(*partial_aggs)
    final_aggs = [
        F.sum(f"_ps_{out}").alias(out) for out in sum_cols
    ] + [F.sum("_pn").alias("n")]
    return partial.groupBy(*group_cols).agg(*final_aggs)
