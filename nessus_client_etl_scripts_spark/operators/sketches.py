"""Engine-portable HyperLogLog distinct-count sketch.

Spark's ``approx_count_distinct`` (HLL++) and DuckDB's
``approx_count_distinct`` use different register layouts and bias
tables, so a query built on either can only ever be rows-only checked.
This module builds a HyperLogLog from primitives BOTH engines compute
bit-identically, making the *approximate* profile oracle-verifiable
(VERDICT r1 left q31 as one of three rows-only-by-nature queries; this
removes one):

- base hash: md5 truncated to 48 bits (12 hex chars) → BIGINT —
  the md5-portability pattern proven by the MinHash/SimHash family.
- bucket: top ``B`` bits (integer shift); register suffix width
  ``r = 48 − B``.
- rho: 1 + leading-zero count of the suffix, via a generated integer
  CASE chain — no log(), no floats, exact in any engine.
- harmonic denominator: exact BIGINT sum of ``2^(rmax − M_j)``;
  empty registers contribute ``2^rmax``.
- estimate: ``alpha_m·m²·2^rmax / denom`` — ONE literal-over-integer
  IEEE division, so even the double is bit-identical cross-engine.

The raw HLL estimate (Flajolet et al. 2007, no small-range
linear-counting correction) is emitted deliberately: the correction
needs ln(), whose last ulp varies by libm and would break cross-engine
value hashing. At the 100 TB posture cardinalities sit far above the
2.5m correction regime, so raw HLL is the operative formula anyway;
the exact companion query (q21) anchors accuracy at test scale.

Scale shape: two hash-partitioned aggregations — (group, bucket) then
(group) — both with map-side partial aggregation; at most ``m`` rows
per group reach the second shuffle regardless of input size.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from ..pins import pin as _pin

HASH_BITS = 48  # 12 hex chars of md5 → fits BIGINT exactly in both engines
BUCKET_BITS = 9  # m = 512 registers → ~4.6% standard error
M = 1 << BUCKET_BITS
R = HASH_BITS - BUCKET_BITS  # register suffix width
RMAX = R + 1  # rho of an all-zero suffix
ALPHA = 0.7213 / (1 + 1.079 / M)  # bias constant for m ≥ 128
# single numerator literal: alpha·m²·2^rmax (exact float literal; the
# only rounding in the whole estimate is the final division)
EST_NUMERATOR = ALPHA * M * M * float(1 << RMAX)
_SUFFIX_MASK = (1 << R) - 1


def _rho_spark(value: Column) -> Column:
    """1 + leading zeros of the 39-bit md5 suffix — integer CASE chain."""
    h = F.conv(F.substring(F.md5(value), 1, HASH_BITS // 4), 16, 10).cast(
        "long"
    )
    w = h.bitwiseAND(F.lit(_SUFFIX_MASK))
    rho = F.when(value.isNull(), F.lit(None).cast("int"))
    for j in range(1, R + 1):
        rho = rho.when(w >= (1 << (R - j)), j)
    return h, rho.otherwise(RMAX)


def _bucket_spark(value: Column) -> tuple[Column, Column]:
    h, rho = _rho_spark(value)
    return F.shiftright(h, R), rho


def hll_distinct(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
) -> DataFrame:
    """(group_cols…, n_rows, approx_distinct) — portable-HLL estimate of
    ``count(distinct value_col)`` per group. NULL values are excluded
    from the sketch (matching COUNT(DISTINCT) semantics) but counted in
    ``n_rows``.

    The estimate is raw HLL (no small-range correction, see module
    doc)."""
    bucket, rho = _bucket_spark(F.col(value_col))
    lvl1 = (
        df.select(*group_cols, bucket.alias("_b"), rho.alias("_rho"))
        .groupBy(*group_cols, "_b")
        .agg(F.max("_rho").alias("_m"), F.count(F.lit(1)).alias("_cnt"))
    )
    lvl2 = lvl1.groupBy(*group_cols).agg(
        F.sum("_cnt").alias("n_rows"),
        F.sum(
            F.when(
                F.col("_b").isNotNull(),
                F.expr(
                    f"shiftleft(cast(1 as bigint), cast({RMAX} - _m as int))"
                ),
            )
        ).alias("_s"),
        F.count("_b").alias("_nb"),
    )
    denom = (
        F.coalesce(F.col("_s"), F.lit(0))
        + (F.lit(M) - F.col("_nb")) * F.lit(1 << RMAX)
    ).cast("double")
    return lvl2.select(
        *group_cols,
        "n_rows",
        (F.lit(EST_NUMERATOR) / denom).alias("approx_distinct"),
    )


def hll_register_frame(
    df: DataFrame, group_cols: list[str], value_col: str
) -> DataFrame:
    """(group_cols…, _b, _m) — the HLL REGISTER STATE itself: max rho
    per (group, bucket). This is the mergeable form a 100 TB pipeline
    lands as a table (per partition / per day / per source): merging
    sketches is ``groupBy(coarser keys).agg(max(_m))`` — max is
    associative/commutative, so merged registers are bit-identical to
    registers built directly at the coarser key (q104 proves this
    value-exactly)."""
    bucket, rho = _bucket_spark(F.col(value_col))
    return (
        df.select(*group_cols, bucket.alias("_b"), rho.alias("_rho"))
        .groupBy(*group_cols, "_b")
        .agg(F.max("_rho").alias("_m"))
    )


def hll_estimate_from_registers(
    regs: DataFrame, group_cols: list[str], out_col: str = "approx_distinct"
) -> DataFrame:
    """Finalize a register frame into the raw-HLL estimate — the same
    integer register sum and single-division formula as
    :func:`hll_distinct` (no small-range correction, see module doc)."""
    lvl2 = regs.groupBy(*group_cols).agg(
        F.sum(
            F.when(
                F.col("_b").isNotNull(),
                F.expr(
                    f"shiftleft(cast(1 as bigint), cast({RMAX} - _m as int))"
                ),
            )
        ).alias("_s"),
        F.count("_b").alias("_nb"),
    )
    denom = (
        F.coalesce(F.col("_s"), F.lit(0))
        + (F.lit(M) - F.col("_nb")) * F.lit(1 << RMAX)
    ).cast("double")
    return lvl2.select(
        *group_cols, (F.lit(EST_NUMERATOR) / denom).alias(out_col)
    )


def hll_distinct_sql(
    table: str, group_col: str, value_col: str, out_col: str = "approx_distinct"
) -> str:
    """DuckDB twin of :func:`hll_distinct` — the SAME hash, CASE chain,
    integer register sum, and single-division estimate, so the emitted
    double matches Spark's bit for bit."""
    rho_branches = "\n         ".join(
        f"WHEN w >= {1 << (R - j)} THEN {j}" for j in range(1, R + 1)
    )
    return f"""
WITH h AS (
  SELECT {group_col},
         CASE WHEN {value_col} IS NULL THEN NULL
              ELSE ('0x' || substring(md5({value_col}), 1, {HASH_BITS // 4}))::BIGINT
         END AS h
  FROM {table}
), hw AS (
  SELECT {group_col}, h, h & {_SUFFIX_MASK} AS w FROM h
), k AS (
  SELECT {group_col},
         h >> {R} AS b,
         CASE WHEN h IS NULL THEN NULL
         {rho_branches}
         ELSE {RMAX} END AS rho
  FROM hw
), regs AS (
  SELECT {group_col}, b, max(rho) AS m, count(*) AS cnt
  FROM k GROUP BY {group_col}, b
), agg AS (
  SELECT {group_col},
         CAST(sum(cnt) AS BIGINT) AS n_rows,  -- DuckDB sum(int)=HUGEINT; pandas would coerce to float64
         sum(CASE WHEN b IS NOT NULL
                  THEN 1::BIGINT << ({RMAX} - m) END) AS s,
         count(b) AS nb
  FROM regs GROUP BY {group_col}
)
SELECT {group_col}, n_rows,
       {EST_NUMERATOR!r}
         / (coalesce(s, 0) + ({M} - nb) * {1 << RMAX}::BIGINT)::DOUBLE
         AS {out_col}
FROM agg
"""


# ---------------------------------------------------------------------------
# Count-min sketch — engine-portable frequency estimation
# ---------------------------------------------------------------------------


def _cm_hash(j: int, value: Column, width: int) -> Column:
    """Row j's cell for a value: md5 32-bit prefix mod width — the same
    portable construction as the HLL/MinHash/Bloom family."""
    return (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(f"cm{j}:"), value)), 1, 8
            ),
            16,
            10,
        ).cast("long")
        % width
    )


def count_min_estimates(
    items: DataFrame,
    item_col: str,
    queries: DataFrame,
    depth: int = 4,
    width: int = 1 << 12,
    out_col: str = "cm_estimate",
) -> DataFrame:
    """Count-min frequency estimates (Cormode & Muthukrishnan 2005):
    ``items`` is one row per occurrence; returns one row per ``queries``
    row with ``out_col`` = min over the sketch's ``depth`` rows of the
    hashed cell's count — an upper bound on the true frequency
    (overcount only, never under).

    Scale shape: the sketch is an aggregation bounded by a CONSTANT —
    at most depth×width (j, cell) rows survive the groupBy no matter
    how many item instances stream through, and partial aggregation
    combines map-side, so the shuffle carries ≤ depth×width partial
    cells per map partition. The materialized sketch broadcasts into
    the estimate join (queries never shuffle), and because cell counts
    are plain sums the sketch is RE-AGGREGATABLE: per-partition /
    per-day sketches merge by adding cells — the same
    store-sketches-merge-later posture as :func:`hll_distinct`.

    Like the portable HLL, every step (md5 prefix hash, integer mod,
    integer counts, min) is bit-identical in any engine, so the
    *approximate* estimates are value-oracle-checkable, not just
    rows-only.
    """
    item = F.col(item_col)
    cells = (
        items.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(j).alias("j"),
                            _cm_hash(j, item, width).alias("cell"),
                        )
                        for j in range(depth)
                    ]
                )
            ).alias("jc")
        )
        .groupBy(F.col("jc.j").alias("j"), F.col("jc.cell").alias("cell"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    qcells = queries.select(
        item_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("j"),
                        _cm_hash(j, item, width).alias("cell"),
                    )
                    for j in range(depth)
                ]
            )
        ).alias("jc"),
    ).select(item_col, F.col("jc.j").alias("j"), F.col("jc.cell").alias("cell"))
    # LEFT join + coalesce-to-0: a queried item whose (j, cell) no
    # occurrence hashed to has a true sketch cell of 0 — an inner join
    # would drop the row entirely (all cells empty) or take the min
    # over occupied cells only (some empty), inflating the estimate.
    return (
        qcells.join(F.broadcast(cells), ["j", "cell"], "left")
        .groupBy(item_col)
        .agg(F.min(F.coalesce("cnt", F.lit(0))).alias(out_col))
    )


def hll_pairwise_overlap(
    df: DataFrame, key_col: str, value_col: str
) -> DataFrame:
    """Approximate distinct-value OVERLAP between every pair of keys
    by inclusion–exclusion over HLL register frames:
    |A∩B| ≈ est(A) + est(B) − est(A∪B), with est(A∪B) finalized from
    the per-bucket ``max`` merge of the two register frames — the
    audience-overlap / cross-source-contamination estimator that
    never rescans raw data.

    Scale shape: the only corpus-sized work is building the register
    frame ONCE (|keys|·m rows out, map-side combined); every pairwise
    union is register-frame algebra — two broadcast-sized joins and a
    (key_a, key_b, bucket) max-merge bounded by |keys|²·m rows,
    independent of input cardinality. The estimate stays the raw-HLL
    single-division formula, so all three doubles (and their fixed
    2-term inclusion–exclusion sum) verify bit-exactly cross-engine."""
    regs = hll_register_frame(df, [key_col], value_col)
    keys = regs.select(key_col).distinct()
    pairs = (
        keys.alias("ka")
        .join(
            keys.alias("kb"),
            F.col(f"ka.{key_col}") < F.col(f"kb.{key_col}"),
        )
        .select(
            F.col(f"ka.{key_col}").alias("key_a"),
            F.col(f"kb.{key_col}").alias("key_b"),
        )
    )
    singles = hll_estimate_from_registers(regs, [key_col], "est")
    side_a = pairs.join(
        regs.withColumnRenamed(key_col, "key_a"), "key_a"
    ).select("key_a", "key_b", "_b", "_m")
    side_b = pairs.join(
        regs.withColumnRenamed(key_col, "key_b"), "key_b"
    ).select("key_a", "key_b", "_b", "_m")
    union_regs = (
        side_a.unionByName(side_b)
        .groupBy("key_a", "key_b", "_b")
        .agg(F.max("_m").alias("_m"))
    )
    union_est = hll_estimate_from_registers(
        union_regs, ["key_a", "key_b"], "approx_union"
    )
    est_a = singles.select(
        F.col(key_col).alias("key_a"), F.col("est").alias("approx_a")
    )
    est_b = singles.select(
        F.col(key_col).alias("key_b"), F.col("est").alias("approx_b")
    )
    return (
        union_est.join(F.broadcast(est_a), "key_a")
        .join(F.broadcast(est_b), "key_b")
        .select(
            "key_a",
            "key_b",
            "approx_a",
            "approx_b",
            "approx_union",
            (
                (F.col("approx_a") + F.col("approx_b"))
                - F.col("approx_union")
            ).alias("approx_inter"),
        )
    )


def hll_rolling_distinct(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    window_days: int = 7,
    out_col: str = "approx_distinct",
) -> DataFrame:
    """Trailing-window approximate distinct count per day — "distinct
    users in the last N days, every day" — via HLL register algebra:
    each day's register frame is built ONCE from the raw data, then
    every day's trailing window is the bucket-wise ``max`` merge of
    its last N daily frames. The rolling merge is a row-local
    explode of each register row into the ≤N target days it serves
    (the interval_bucket_overlap idea applied to sketch state), so
    raw data is scanned once and the rolling state is
    |days|·m rows — a trailing-distinct a 100 TB events table can
    actually afford (the exact form re-scans N days per day).

    Day boundaries are UTC epoch-day integers (``floor(epoch /
    86400)``), emitted as ``day_epoch`` (the day's start in epoch
    seconds).

    Gap semantics (deliberate, matches the oracle): a day inside the
    observed span whose ENTIRE trailing window holds no registers —
    a quiet stretch longer than ``window_days`` — emits NO row rather
    than an explicit zero-estimate row. Callers that need a dense
    day grid should left-join this output onto their day spine and
    coalesce to 0."""
    day = F.floor(F.col(ts_col).cast("long") / F.lit(86400)).cast("long")
    bucket, rho = _bucket_spark(F.col(value_col))
    daily = (
        df.select(day.alias("_day"), bucket.alias("_b"), rho.alias("_rho"))
        .groupBy("_day", "_b")
        .agg(F.max("_rho").alias("_m"))
    )
    targets = daily.select(
        F.explode(
            F.sequence(F.col("_day"), F.col("_day") + F.lit(window_days - 1))
        ).alias("day"),
        "_day",
        "_b",
        "_m",
    )
    # a register only serves target days that actually exist in the
    # data range; crop to the observed day span so trailing windows
    # at the corpus edge don't invent empty future days
    span = daily.agg(
        F.min("_day").alias("_lo"), F.max("_day").alias("_hi")
    )
    cropped = targets.crossJoin(F.broadcast(span)).filter(
        (F.col("day") >= F.col("_lo")) & (F.col("day") <= F.col("_hi"))
    )
    merged = cropped.groupBy("day", "_b").agg(F.max("_m").alias("_m"))
    est = hll_estimate_from_registers(merged, ["day"], out_col)
    return est.select(
        (F.col("day") * 86400).cast("long").alias("day_epoch"),
        out_col,
    )


def cm_join_size_estimate(
    a: DataFrame,
    a_col: str,
    b: DataFrame,
    b_col: str,
    depth: int = 4,
    width: int = 256,
) -> DataFrame:
    """Equi-join CARDINALITY estimation from count-min sketches of the
    two join keys (Cormode & Muthukrishnan 2005 §4.2: the sketch
    inner product ⟨cmA_j, cmB_j⟩ upper-bounds |A ⋈ B| for every row
    j; the min over rows is the estimate) — the optimizer/planner
    statistic that prices a join WITHOUT running it, from sketches
    each side maintains independently.

    Scale shape: each input is scanned once into a ≤ depth×width
    cell aggregate (map-side combined — the sketch size is a
    CONSTANT); the inner product is a join of two sketch-sized
    frames on (j, cell); everything downstream is a handful of rows.
    Because cells are plain sums, per-partition/per-day sketches
    merge by addition first — the same store-sketches-merge-later
    posture as the HLL family. All math is exact integers, so the
    *estimate* itself is value-oracle-checkable.

    Returns one row: (exact_size, cm_estimate, overcount) — the
    exact companion join is computed alongside for calibration (it
    is the thing a production planner does NOT have; here it keeps
    the estimator honest, the q148 pattern)."""
    # r12 opt round: the sketch cells and the exact-side key counts
    # both reduce over the same key space, so each input is scanned
    # ONCE into a per-key count frame (pinned — it feeds the cell
    # aggregate and the exact join as concurrent stages) and the
    # ≤depth×width cell table derives from it: cnt(j, cell) is the sum
    # of per-key counts over keys hashing to the cell — identical by
    # associativity to counting raw rows. NULL keys group to a NULL
    # cell either way and are dropped by both inner joins.
    def keyed(df: DataFrame, col: str) -> DataFrame:
        return (
            df.groupBy(F.col(col).cast("string").alias("k"))
            .agg(F.count(F.lit(1)).alias("cnt"))
            .transform(_pin)
        )

    def cells(kf: DataFrame) -> DataFrame:
        return (
            kf.select(
                "cnt",
                F.explode(
                    F.array(
                        *[
                            F.struct(
                                F.lit(j).alias("j"),
                                _cm_hash(j, F.col("k"), width).alias("cell"),
                            )
                            for j in range(depth)
                        ]
                    )
                ).alias("jc"),
            )
            .groupBy(F.col("jc.j").alias("j"), F.col("jc.cell").alias("cell"))
            .agg(F.sum("cnt").alias("cnt"))
        )

    fa = keyed(a, a_col)
    fb = keyed(b, b_col)
    ca = cells(fa)
    cb = cells(fb)
    per_row = (
        ca.alias("x")
        .join(
            cb.alias("y"),
            (F.col("x.j") == F.col("y.j"))
            & (F.col("x.cell") == F.col("y.cell")),
        )
        .groupBy(F.col("x.j").alias("j"))
        .agg(F.sum(F.col("x.cnt") * F.col("y.cnt")).alias("ip"))
    )
    # disjoint inputs produce an EMPTY inner-product / exact frame —
    # a 0-cardinality estimate, not a NULL
    est = per_row.agg(
        F.coalesce(F.min("ip"), F.lit(0)).cast("long").alias("cm_estimate")
    )
    exact = (
        fa.select("k", F.col("cnt").alias("na"))
        .join(fb.select("k", F.col("cnt").alias("nb")), "k")
        .agg(
            F.coalesce(F.sum(F.col("na") * F.col("nb")), F.lit(0))
            .cast("long")
            .alias("exact_size")
        )
    )
    return exact.crossJoin(est).select(
        "exact_size",
        "cm_estimate",
        (F.col("cm_estimate") - F.col("exact_size")).alias("overcount"),
    )
