"""Temporal join operators: as-of join and band (range) join.

The reference's closest construct is W1's "latest run per scan"
(get_scan_stats.sql:14-16) — a point-in-time lookup against a single
table. These operators generalize that to two-stream point-in-time
semantics, which Spark lacks as a built-in:

- ``as_of_join``: for each left row, the most recent right row with
  the same key and ``right_ts <= left_ts`` (backward as-of; the
  time-series "last known value" join).
- ``band_join``: pairs within ``|left_val - right_val| <= band`` of
  each other — an inequality join executed as an equi-join.

Both are compositions of existing DataFrame ops (no UDFs, no
mapPartitions), so Catalyst/AQE plan them like any other query.

Scale design (the reason these shapes were chosen):

- The naive as-of formulation is an inequality join (``l.key = r.key
  AND r.ts <= l.ts`` + argmax), which Spark can only execute as a
  broadcast nested-loop or a sort-merge with per-row rescans —
  quadratic in the worst case. The union trick below is one hash
  shuffle on the key + one sort, i.e. exactly the cost of a window
  function, regardless of how skewed the match multiplicity is.
- The naive band join is a cross join + filter. Bucketing each side
  by ``floor(val / band)`` and probing the three adjacent buckets
  turns it into an equi-join whose fan-out is bounded by actual
  near-pair density, not |L|×|R|.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

_SIDE = "__asof_side__"
_SEQ = "__asof_seq__"


def as_of_join(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    left_ts: str,
    right_ts: str,
    right_cols: Sequence[str],
    right_tiebreaker: str | None = None,
    direction: str = "backward",
) -> DataFrame:
    """As-of join via the union-and-carry trick.

    ``direction='backward'`` (default): for each left row, the most
    recent right row with ``right_ts <= left_ts`` — interleave both
    streams on (key, ts), sort right rows before left rows at equal
    timestamps, and carry each right attribute forward with
    ``last(..., ignorenulls)``. ``direction='forward'``: the EARLIEST
    right row with ``right_ts >= left_ts`` (next-event attribution /
    label lookahead) — right rows sort after left rows at equal
    timestamps and attributes are carried BACKWARD with
    ``first(..., ignorenulls)`` over the following frame. Either way,
    left rows with no match get nulls (left-outer as-of).

    ``right_tiebreaker`` orders right rows that share (key, ts): the
    greatest tiebreaker value wins backward, the SMALLEST forward
    (both are "the row nearest the left timestamp from its side"),
    making the result deterministic.

    Returns the left rows plus ``asof_{col}`` for each requested
    right column and ``asof_ts`` (the matched right timestamp).

    One shuffle on ``on`` + one sort — the same physical shape as a
    ranking window (W1), so it scales identically: AQE sizes the
    partitions, skewed keys split, nothing is quadratic.
    """
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward|forward: {direction}")
    fwd = direction == "forward"
    on = list(on)
    carried = [c for c in right_cols if c not in on]

    lhs = left.withColumn(_SIDE, F.lit(1)).withColumn(
        _SEQ, F.lit(None).cast("long")
    )
    seq = (
        F.col(right_tiebreaker).cast("long")
        if right_tiebreaker
        else F.lit(0).cast("long")
    )
    # backward: right rows sort BEFORE left at equal ts (side 0 < 1)
    # so the inclusive match carries forward; forward: right rows sort
    # AFTER left (side 2 > 1) and the match carries backward
    rside = 2 if fwd else 0
    rhs = right.select(
        *on,
        F.col(right_ts).alias(left_ts),
        F.lit(rside).alias(_SIDE),
        seq.alias(_SEQ),
        *[F.col(c).alias(f"asof_{c}") for c in carried],
    )

    combined = lhs.unionByName(rhs, allowMissingColumns=True)
    # among same-ts right rows the frame-nearest tiebreaker wins:
    # greatest backward (last of the preceding frame), smallest
    # forward (first of the following frame)
    w = (
        Window.partitionBy(*on)
        .orderBy(F.col(left_ts), F.col(_SIDE), F.col(_SEQ))
        .rowsBetween(
            *(
                (Window.currentRow, Window.unboundedFollowing)
                if fwd
                else (Window.unboundedPreceding, Window.currentRow)
            )
        )
    )
    # Carry ONE struct of (ts, all right columns), not each column
    # independently: per-column last(..., ignorenulls) would back-fill a
    # NULL field of the winning right row from an OLDER row, mixing
    # values across right rows and diverging from LATERAL top-1
    # semantics. The struct is non-null exactly on right rows, so
    # last(ignorenulls) picks the winning ROW; its NULL fields stay NULL.
    row_struct = F.when(
        F.col(_SIDE) == rside,
        F.struct(
            F.col(left_ts).alias("__ts__"),
            *[F.col(f"asof_{c}").alias(c) for c in carried],
        ),
    )
    match = (
        F.first(row_struct, ignorenulls=True)
        if fwd
        else F.last(row_struct, ignorenulls=True)
    ).over(w)

    unpack = {f"asof_{c}": F.col(f"__asof_match__.{c}") for c in carried}
    unpack["asof_ts"] = F.col("__asof_match__.__ts__")
    return (
        combined.withColumn("__asof_match__", match)
        .filter(F.col(_SIDE) == 1)
        .drop(_SIDE, _SEQ)
        .withColumns(unpack)
        .drop("__asof_match__")
    )


def band_join(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    left_val: str,
    right_val: str,
    band: Column | float | int,
) -> DataFrame:
    """Pairs with ``|left_val - right_val| <= band``, as an equi-join.

    Each left row probes the three band-width buckets its match window
    can overlap; the right side carries its own bucket. After the
    equi-join on (keys…, bucket) the exact predicate filters residues.

    At scale this is one shuffle keyed by (on…, bucket). The bucket
    column bounds every partition's candidate set to genuinely nearby
    values — the cross-join blowup of a naive theta join never forms.
    """
    band_col = band if isinstance(band, Column) else F.lit(band)
    on = list(on)

    lb = left.withColumn(
        "__band_bucket__",
        F.explode(
            F.array(
                F.floor(F.col(left_val) / band_col) - 1,
                F.floor(F.col(left_val) / band_col),
                F.floor(F.col(left_val) / band_col) + 1,
            )
        ),
    )
    rb = right.withColumn(
        "__band_bucket__", F.floor(F.col(right_val) / band_col)
    )
    # Inner only: each matching pair meets in exactly one bucket (the
    # right row's), so no dedup is needed; an outer variant would have
    # to collapse the 3× exploded probes first.
    joined = lb.join(rb, [*on, "__band_bucket__"], "inner").filter(
        F.abs(F.col(left_val) - F.col(right_val)) <= band_col
    )
    return joined.drop("__band_bucket__")


def interval_bucket_overlap(
    intervals: DataFrame,
    start_col: str,
    end_col: str,
    bucket_sec: int = 3600,
) -> DataFrame:
    """Expand closed intervals into the fixed-width time buckets they
    overlap — the scale-safe half of an interval-overlap join.

    A naive interval⋈spine theta join is |intervals|×|spine| with a
    range predicate Catalyst can only nest-loop (BroadcastNestedLoop —
    the plan that dies first at 100 TB). Instead each interval
    generates exactly the buckets it spans (``sequence`` over floored
    epoch seconds — row-local, fan-out bounded by interval duration /
    bucket width), after which any spine/other-interval match is a
    plain equi-join on the bucket key: one hash shuffle, AQE-skewable.
    Same bucketing idea as :func:`band_join`, applied to durations.

    Output: the input columns plus ``bucket_start`` (timestamp of the
    bucket's inclusive start). Degenerate/reversed intervals (end <
    start) produce no buckets via the sequence guard.
    """
    s = F.col(start_col).cast("long")
    e = F.col(end_col).cast("long")
    lo = F.floor(s / bucket_sec) * bucket_sec
    hi = F.floor(e / bucket_sec) * bucket_sec
    buckets = F.when(
        e >= s, F.sequence(lo, hi, F.lit(bucket_sec))
    ).otherwise(F.array().cast("array<bigint>"))
    # generators can't nest inside expressions — explode first, cast in
    # a follow-up projection
    return intervals.withColumn("bucket_start", F.explode(buckets)).withColumn(
        "bucket_start", F.col("bucket_start").cast("timestamp")
    )


def decayed_sum_pow2(
    df: DataFrame,
    group_cols: Sequence[str],
    ts_col: str,
    value_col: str,
    ref_ts,
    half_life_days: int = 1,
    max_age_halvings: int = 20,
    out_col: str = "decayed_value",
) -> DataFrame:
    """Exponentially time-decayed sum with a power-of-two decay base —
    recency-weighted engagement/quality scoring, exact cross-engine.

    weight(age) = 2^-(age // half_life); ages beyond
    ``max_age_halvings`` half-lives contribute 0 (their weight is below
    any useful resolution anyway). Instead of summing
    ``value·2^-k`` doubles (order-dependent — PLANS.md decimal rule),
    each row contributes the INTEGER ``round(value·100) << (K - k)``
    and one exact BIGINT sum runs per group; a single final division
    by ``2^K·100`` rescales. Bounds: |value| ≤ 9e13 keeps
    ``v·100·2^20`` under 2^63 — far above the testdata domain and
    checked nowhere else, so callers with larger domains lower K.

    One map-side-combined aggregation keyed on ``group_cols`` — the
    shuffle carries one long per (group, partition).
    """
    group_cols = list(group_cols)
    # Clamp k to [0, K]: rows dated AFTER ref_ts (late-arriving or
    # clock-skewed events) weight at most 1 — unclamped, a negative k
    # would shiftleft past K and overflow int64 for far-future stamps.
    k = F.greatest(
        F.least(
            F.floor(
                (F.lit(ref_ts).cast("long") - F.col(ts_col).cast("long"))
                / F.lit(86400 * half_life_days)
            ),
            F.lit(max_age_halvings),
        ),
        F.lit(0),
    )
    # shiftleft via call_function: the pyspark wrapper only takes a
    # Python-int bit count, but the SQL function accepts a column
    scaled = F.when(
        k < max_age_halvings,
        F.round(F.col(value_col) * 100).cast("long")
        * F.call_function(
            "shiftleft",
            F.lit(1).cast("long"),
            (F.lit(max_age_halvings) - k).cast("int"),
        ),
    ).otherwise(F.lit(0).cast("long"))
    denom = float((1 << max_age_halvings) * 100)
    return (
        df.groupBy(*group_cols)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum(scaled).alias("_scaled_sum"),
        )
        .select(
            *group_cols,
            "n_events",
            (F.col("_scaled_sum") / F.lit(denom)).alias(out_col),
        )
    )


def gap_fill_interpolate(
    df: DataFrame,
    group_cols: Sequence[str],
    ts_col: str,
    value_col: str,
    bucket_sec: int = 3600,
    cents_scale: int = 100,
) -> DataFrame:
    """Regularize an irregular per-group time series onto a fixed
    bucket grid, linearly interpolating the buckets with no
    observations — the gap-fill/`interpolate` verb of time-series
    engines (TimescaleDB/QuestDB), composed from DataFrame ops.

    Shape — deliberately NOT the spine-join formulation: generating a
    calendar spine and left-joining observations onto it costs a
    second shuffle and leaves interpolation needing two more window
    passes (last/next non-null). Instead each observed bucket looks
    one step ahead via ``lead`` and row-locally EMITS the buckets up
    to (excluding) the next observation — interpolation becomes
    closed-form on (this, next) alone:

    - one shuffle total (groupBy group+bucket, and the per-group
      window rides the same grouping);
    - explode fan-out = gap length, bounded by the group's real
      span, never |groups| × |calendar|;
    - per-bucket values are exact integer cents (sum of
      round(value·scale) — no order-dependent double sums), and each
      interpolated value is ONE double chain on exact ints:
      v + ((v_next − v)·i)/gap, micro-rounded back to cents.

    The final bucket of each group is emitted as observed (lead is
    null → gap defaults to 1 → the sequence collapses to [0])."""
    bucket = (
        F.floor(F.col(ts_col).cast("long") / F.lit(bucket_sec)).cast("long")
    )
    hourly = (
        df.groupBy(*group_cols, bucket.alias("_bk"))
        .agg(
            F.sum(
                F.round(F.col(value_col) * F.lit(cents_scale)).cast("long")
            ).alias("_v"),
            F.count(F.lit(1)).cast("long").alias("n_obs"),
        )
    )
    w = Window.partitionBy(*group_cols).orderBy("_bk")
    led = hourly.select(
        *group_cols,
        "_bk",
        "_v",
        "n_obs",
        F.lead("_bk").over(w).alias("_nbk"),
        F.lead("_v").over(w).alias("_nv"),
    ).withColumn(
        "_gap", F.coalesce(F.col("_nbk") - F.col("_bk"), F.lit(1))
    )
    filled = led.select(
        *group_cols,
        "_bk",
        "_v",
        "_nv",
        "_gap",
        "n_obs",
        F.explode(F.sequence(F.lit(0), F.col("_gap") - 1)).alias("_i"),
    )
    interp = (
        F.col("_v").cast("double")
        + ((F.col("_nv") - F.col("_v")) * F.col("_i")).cast("double")
        / F.col("_gap").cast("double")
    )
    return filled.select(
        *group_cols,
        # epoch seconds, not a timestamp: engines disagree on the
        # tz-ness of integer→timestamp constructors (DuckDB's
        # to_timestamp is TIMESTAMPTZ), and a BIGINT bucket key is
        # what a downstream join wants anyway
        ((F.col("_bk") + F.col("_i")) * F.lit(bucket_sec)).alias(
            "bucket_epoch"
        ),
        F.when(F.col("_i") == 0, F.col("_v"))
        .otherwise(F.round(interp).cast("long"))
        .alias("value_cents"),
        (F.col("_i") == 0).alias("observed"),
        F.when(F.col("_i") == 0, F.col("n_obs"))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("n_obs"),
    )


def position_credit_bp(rn: Column, n: Column) -> Column:
    """U-shaped (position-based) attribution credit in exact basis
    points: a lone touch takes all 10000; two touches split 5000/5000;
    otherwise first and last take 4000 each and the middles split the
    remaining 2000 by integer division, with the remainder assigned
    to the LAST touch so every conversion's credits sum to exactly
    10000. Integer bp ON PURPOSE: percentage doubles would need an
    order-dependent float sum downstream; bp aggregates as plain
    BIGINTs (the q130 exactness pattern)."""
    # integer division of positive ints as floor(a/b) — CaseWhen
    # codegen is an if/else-if chain, so the n <= 2 branches match
    # first and the division never sees n − 2 = 0
    mid = F.floor(F.lit(2000) / (n - F.lit(2))).cast("long")
    return (
        F.when(n == 1, F.lit(10000))
        .when(n == 2, F.lit(5000))
        .when(rn == 1, F.lit(4000))
        .when(rn == n, F.lit(4000) + (F.lit(2000) - mid * (n - 2)))
        .otherwise(mid)
        .cast("long")
    )


def position_attribution(
    touches: DataFrame,
    conversions: DataFrame,
    user_col: str,
    ts_col: str,
    id_col: str,
) -> DataFrame:
    """Multi-touch position-based attribution: every conversion
    credits ALL its preceding touches within the lookback window
    (strictly earlier), U-shaped (see :func:`position_credit_bp`) —
    the many-touch generalization of the single-match as-of join
    (q42 is last-touch; this is the full credit assignment).

    Shape: one equi-join on the user key (per-user touch×conversion
    fan-out is bounded by per-user activity in the window — the same
    justification as the q135 co-occurrence explode; a hot user is
    AQE-splittable because the join is plain hash), then ONE window
    over (user, conversion) ordering touches by (ts, id) serves both
    the position rank and the touch count. All credits are exact
    integer basis points summing to 10000 per conversion."""
    t = touches.select(
        F.col(user_col).alias("_u"),
        F.col(ts_col).alias("_tts"),
        F.col(id_col).alias("_tid"),
        F.col("event_type").alias("touch_type"),
    )
    c = conversions.select(
        F.col(user_col).alias("_u"),
        F.col(ts_col).alias("_cts"),
        F.col(id_col).alias("_cid"),
    )
    j = t.join(c, "_u").filter(
        (F.col("_tts").cast("long") < F.col("_cts").cast("long"))
        & (
            F.col("_cts").cast("long") - F.col("_tts").cast("long")
            <= F.lit(7 * 86400)
        )
    )
    w = Window.partitionBy("_u", "_cid").orderBy("_tts", "_tid")
    wall = Window.partitionBy("_u", "_cid")
    ranked = j.select(
        "_u",
        "_cid",
        "_tid",
        "touch_type",
        F.row_number().over(w).alias("rn"),
    ).withColumn("n_t", F.count(F.lit(1)).over(wall))
    credited = ranked.withColumn(
        "credit_bp", position_credit_bp(F.col("rn"), F.col("n_t"))
    )
    return credited.groupBy("touch_type").agg(
        F.sum("credit_bp").cast("long").alias("credited_bp"),
        F.count(F.lit(1)).cast("long").alias("n_touches"),
        F.countDistinct("_u", "_cid").cast("long").alias("n_conversions"),
    )


def interval_overlap_join(
    intervals: DataFrame,
    order_col: str,
    start_col: str,
    end_col: str,
    carry: Sequence[str] = (),
) -> DataFrame:
    """Interval×interval overlap SELF-join — every pair of intervals
    (from rows whose ``order_col`` strictly orders, so each unordered
    pair emits once and an interval never pairs with itself) whose
    closed [start, end] ranges intersect, with the overlap length.
    The concurrency verb (sessions active together, bookings that
    clash, co-running jobs) that SQL writes as an inequality theta
    join — which Spark can only nest-loop.

    Scale shape: each interval explodes into the fixed-width buckets
    it spans (fan-out = duration/bucket, row-local `sequence`), then
    candidates meet in ONE equi-join on the bucket key — hash
    shuffle, AQE-skewable, never |I|². A pair spanning several shared
    buckets would match once per bucket, so each pair is CLAIMED by
    exactly one bucket — the one containing the later start
    (greatest(start_a, start_b) div bucket) — a row-local predicate,
    not a post-hoc distinct. Start/end are BIGINT (epoch micros); the
    bucket is 1 h (3,600,000,000 µs), near the typical interval length,
    so per-bucket population stays bounded.

    Returns ``a_<order>``, ``b_<order>``, carry columns prefixed
    ``a_``/``b_``, and ``overlap`` = least(end)−greatest(start) ≥ 0.
    """
    cols = [order_col, start_col, end_col, *carry]
    bkts = intervals.select(
        *cols,
        F.explode(
            F.sequence(
                F.expr(f"{start_col} div 3600000000"),
                F.expr(f"{end_col} div 3600000000"),
            )
        ).alias("_bkt"),
    )
    a = bkts.select(
        "_bkt", *[F.col(c).alias(f"a_{c}") for c in cols]
    )
    b = bkts.select(
        "_bkt", *[F.col(c).alias(f"b_{c}") for c in cols]
    )
    sa, ea = F.col(f"a_{start_col}"), F.col(f"a_{end_col}")
    sb, eb = F.col(f"b_{start_col}"), F.col(f"b_{end_col}")
    claimed = F.col("_bkt") == F.expr(
        f"greatest(a_{start_col}, b_{start_col}) div 3600000000"
    )
    pairs = a.join(b, "_bkt").filter(
        (F.col(f"a_{order_col}") < F.col(f"b_{order_col}"))
        & (sa <= eb)
        & (sb <= ea)
        & claimed
    )
    return pairs.select(
        *[F.col(f"a_{c}") for c in cols],
        *[F.col(f"b_{c}") for c in cols],
        (F.least(ea, eb) - F.greatest(sa, sb)).alias("overlap"),
    )
