"""Window operators — SURVEY.md §2.5 (W1).

The reference's per-group "latest run" selection is a cursor loop over
scans with ``ORDER BY scan_start DESC LIMIT 1 OFFSET k`` scalar
subqueries (get_folder_stats.sql:12-57, get_scan_stats.sql:14-16).
In set semantics that's exactly a ranking window; one Catalyst window
exec replaces the loop + temp table, and at scale it's a single shuffle
on the partition key (no per-group round trips).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..pins import pin_lazy as _pin_lazy


def nth_per_group(
    df: DataFrame,
    partition_by: Sequence[str],
    order_by: Sequence[Column],
    offset: int = 0,
) -> DataFrame:
    """W1 — the (offset+1)-th row of each group under ``order_by``.

    MySQL's ``LIMIT 1 OFFSET k`` on ties is nondeterministic
    (SURVEY.md §2.5); callers pass a deterministic tiebreaker as the
    last ``order_by`` element (e.g. ``F.desc('scan_run_id')``).

    HARD REQUIREMENT in the global case (empty ``partition_by``): the
    last ``order_by`` element must make the order a unique TOTAL
    order. The pre-window ``orderBy().limit(offset + 1)`` cut is a
    physical top-k — with ties at the cut boundary the retained subset
    (and therefore the returned row) would differ run to run, baked in
    before the window can tiebreak. q04 passes ``F.desc('o_orderkey')``
    (a key) for exactly this reason.

    Scale: one hash shuffle on ``partition_by``; with AQE the partition
    count adapts to the data. No driver-side iteration. With NO
    partition columns (the global-nth case) the input is first cut to
    the top ``offset + 1`` rows via ``orderBy().limit()`` —
    TakeOrderedAndProject, a parallel per-partition top-k + merge — so
    the unavoidable single-partition window sees a bounded handful of
    rows no matter how large the input, instead of sorting the whole
    frame into one task.
    """
    if not partition_by:
        df = df.orderBy(*order_by).limit(offset + 1)
    w = Window.partitionBy(*partition_by).orderBy(*order_by)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == offset + 1)
        .drop("_rn")
    )


def latest_per_group(
    df: DataFrame,
    partition_by: Sequence[str],
    ts_col: str,
    tiebreaker: str,
    offset: int = 0,
) -> DataFrame:
    """Latest-per-group with deterministic tiebreak — the engine form of
    get_scan_stats.sql:14-16 ("latest scan_run per scan")."""
    return nth_per_group(
        df, partition_by, [F.desc(ts_col), F.desc(tiebreaker)], offset=offset
    )


def _range_stage(
    df: DataFrame, cols: Sequence[str], num_partitions: int | None
) -> DataFrame:
    """Phase one of every range-scan kernel below: ``repartitionByRange``
    on ``cols`` gives a total order across partitions, ``_pid`` names
    each row's partition, and the frame is pinned.

    The pin is what keeps the kernels exact: offsets are keyed by
    physical partition id, so the frame the final join reads must be
    the SAME materialization the stats were collected from — a
    non-deterministic upstream (changed file listing order, a
    recomputed shuffle) could otherwise reassign rows between the two
    jobs and silently corrupt every offset. The pin is lazy because the
    stats collect is always the first action on the staged frame: one
    full-scan aggregate job both materializes the checkpoint and reads
    the stats, instead of a materialize job followed by a stats job."""
    num = num_partitions or int(
        df.sparkSession.conf.get("spark.sql.shuffle.partitions")
    )
    return (
        df.repartitionByRange(num, *[F.col(c) for c in cols])
        .withColumn("_pid", F.spark_partition_id())
        .transform(_pin_lazy)
    )


def _pid_offsets(
    staged: DataFrame, stats: dict[str, Column]
) -> tuple[DataFrame, dict[str, int]]:
    """Phase two of the global range scans: collect one row of the
    monoid ``stats`` (integer sums or counts) per ``_pid`` of a
    :func:`_range_stage` frame — P rows, the driver-side small-state
    pattern of zipWithIndex / spark.ml KMeans — and fold them in
    ``_pid`` order. Returns the offsets frame for a broadcast join
    (``_pid`` plus ``_off_<name>``, the stat summed over all earlier
    partitions) and each stat's grand total."""
    rows = sorted(
        staged.groupBy("_pid")
        .agg(*[e.alias(name) for name, e in stats.items()])
        .collect(),
        key=lambda r: r["_pid"],
    )
    run = dict.fromkeys(stats, 0)
    recs = []
    for r in rows:
        recs.append((r["_pid"], *run.values()))
        for name in stats:
            run[name] += r[name] or 0
    schema = T.StructType(
        [T.StructField("_pid", T.IntegerType())]
        + [T.StructField(f"_off_{name}", T.LongType()) for name in stats]
    )
    return staged.sparkSession.createDataFrame(recs, schema), run


def two_phase_rank(
    df: DataFrame,
    part_col: str,
    val_col: str,
    key_col: str,
    rank_col: str = "rank",
    pct_col: str = "pct_rank",
    gap_col: str = "gap_to_prev",
    num_partitions: int | None = None,
) -> DataFrame:
    """Exact rank / percent_rank / lag-gap per group WITHOUT a
    low-cardinality window partition — the 100 TB-safe replacement for
    ``Window.partitionBy(part).orderBy(val)`` when ``part`` has a
    handful of distinct values (which funnels the whole table into
    that many tasks).

    Two phases, all shuffles fine-grained:

    1. :func:`_range_stage` on ``(part, val, key)`` gives a total
       order across partitions; a tiny per-(part, partition) stats
       pass (count, max val) is collected (≤ P×|parts| rows) and
       turned into broadcast row-number OFFSETS and each partition's
       predecessor value.
    2. A window keyed by (part, partition_id) — P×|parts| groups, so
       every core works — computes local row numbers and local lag;
       global row_number = local + offset, rank = min global
       row_number over the (part, val) tie group (fine-grained
       groupBy + join), percent_rank = (rank-1)/(n-1), and the lag
       gap falls back to the predecessor partition's max val for each
       partition's first row.

    Matches SQL ``rank()/percent_rank()/lag() OVER (PARTITION BY part
    ORDER BY val [, key])`` exactly, including percent_rank = 0 for
    single-row groups and a NULL gap for each group's first row.
    """
    staged = _range_stage(df, (part_col, val_col, key_col), num_partitions)
    stats = (
        staged.groupBy(part_col, "_pid")
        .agg(F.count(F.lit(1)).alias("cnt"), F.max(val_col).alias("last_val"))
        .collect()
    )
    by_part: dict = {}
    for r in stats:
        by_part.setdefault(r[part_col], []).append(r)
    recs, totals = [], {}
    for p, rows in by_part.items():
        rows.sort(key=lambda r: r["_pid"])
        off, prev_last = 0, None
        for r in rows:
            recs.append((p, r["_pid"], off, prev_last))
            off += r["cnt"]
            prev_last = r["last_val"]
        totals[p] = off
    schema = T.StructType(
        [
            df.schema[part_col],
            T.StructField("_pid", T.IntegerType()),
            T.StructField("_off", T.LongType()),
            T.StructField("_prev_last", df.schema[val_col].dataType),
            T.StructField("_n", T.LongType()),
        ]
    )
    offsets = df.sparkSession.createDataFrame(
        [(p, pid, off, prev, totals[p]) for (p, pid, off, prev) in recs], schema
    )

    w_local = Window.partitionBy(part_col, "_pid").orderBy(val_col, key_col)
    t = (
        staged.join(F.broadcast(offsets), [part_col, "_pid"])
        .withColumn("_grn", F.row_number().over(w_local) + F.col("_off"))
        .withColumn(
            gap_col,
            F.col(val_col)
            - F.coalesce(F.lag(val_col).over(w_local), F.col("_prev_last")),
        )
    )
    mins = t.groupBy(part_col, val_col).agg(F.min("_grn").alias(rank_col))
    out = t.join(mins, [part_col, val_col]).withColumn(
        pct_col,
        F.when(F.col("_n") == 1, F.lit(0.0)).otherwise(
            (F.col(rank_col) - 1).cast("double") / (F.col("_n") - 1)
        ),
    )
    return out.select(*df.columns, rank_col, pct_col, gap_col)


def top_k_per_group(
    df: DataFrame,
    partition_by: Sequence[str],
    order_by: Sequence[Column],
    k: int,
    keep_rank: str | None = None,
) -> DataFrame:
    """Generalized top-k per group (used by similarity search §2's
    cosine top-k). Optionally keeps the rank as ``keep_rank``."""
    w = Window.partitionBy(*partition_by).orderBy(*order_by)
    out = df.withColumn("_rn", F.row_number().over(w)).filter(
        F.col("_rn") <= k
    )
    if keep_rank:
        return out.withColumnRenamed("_rn", keep_rank)
    return out.drop("_rn")


def scalable_cumsum(
    df: DataFrame,
    order_cols: tuple[str, ...],
    val_col: str,
    out_col: str = "cumsum",
    num_partitions: int | None = None,
    total_col: str | None = None,
) -> DataFrame:
    """Exact GLOBAL running sum over a total order — the distributed
    prefix-sum (scan) primitive — without the single-task trap of
    ``Window.orderBy(...)`` with no partition key (which funnels the
    entire table through one task). The one-column case of
    :func:`scalable_prefix_sums`: a range exchange on ``order_cols``,
    per-partition sums prefix-summed on the driver into broadcast
    offsets, and a local running sum per partition plus its offset.

    Matches SQL ``SUM(val) OVER (ORDER BY order_cols ROWS UNBOUNDED
    PRECEDING)`` exactly for integer-typed ``val_col`` (float prefix
    sums are order-defined anyway — prefer integer weights).

    ``total_col`` (optional) attaches the GRAND TOTAL of ``val_col``
    as a literal column: the driver's stats pass computes it anyway
    (the final running offset), so callers that otherwise pay a
    separate ``agg(sum(...))`` subtree — which re-runs the caller's
    whole upstream in its own execution — read it for free. The value
    is identical to ``SUM(val)`` over the frame by construction (it is
    the sum of the same per-partition sums)."""
    return scalable_prefix_sums(
        df,
        order_cols,
        (val_col,),
        out_prefix="_cum_",
        num_partitions=num_partitions,
        total_cols={val_col: total_col} if total_col else None,
    ).withColumnRenamed(f"_cum_{val_col}", out_col)


def scalable_running_max(
    df: DataFrame,
    part_col: str,
    order_cols: tuple[str, ...],
    val_col: str,
    out_col: str = "run_max",
    strict_preceding: bool = True,
    num_partitions: int | None = None,
) -> DataFrame:
    """Per-group running MAX over a total order without a
    low-cardinality window partition — the monoid-scan sibling of
    :func:`scalable_cumsum` (max is associative, so the same
    two-phase shape applies: per-partition local scan + broadcast
    prefix-of-partition-maxima offsets).

    ``Window.partitionBy(part).orderBy(...)`` funnels each group
    through ONE task; when ``part_col`` has a handful of values (the
    skyline's ~25 brands) that is the whole table through 25 tasks.
    Here the range exchange on ``(part, *order_cols)`` spreads every
    group across many partitions; the driver sees only the
    |parts| × P partition-maxima matrix (the same bounded small-state
    pattern as :func:`two_phase_rank`) and broadcasts, per
    ``(part, _pid)``, the max over that group's PRECEDING partitions.

    ``strict_preceding=True`` gives ``MAX(val) OVER (PARTITION BY part
    ORDER BY order_cols ROWS BETWEEN UNBOUNDED PRECEDING AND 1
    PRECEDING)`` — NULL for each group's first row; ``False`` includes
    the current row. ROWS semantics requires the caller to make
    ``order_cols`` a total order within each group (append a unique
    tiebreaker — the same contract as q04's global nth)."""
    staged = _range_stage(df, (part_col, *order_cols), num_partitions)
    stats = staged.groupBy(part_col, "_pid").agg(F.max(val_col).alias("m"))
    by_part: dict = {}
    for r in stats.collect():
        by_part.setdefault(r[part_col], []).append(r)
    recs = []
    for p, rows in by_part.items():
        rows.sort(key=lambda r: r["_pid"])
        prev_max = None
        for r in rows:
            recs.append((p, r["_pid"], prev_max))
            m = r["m"]
            if m is not None and (prev_max is None or m > prev_max):
                prev_max = m
    offsets = df.sparkSession.createDataFrame(
        recs,
        T.StructType(
            [
                df.schema[part_col],
                T.StructField("_pid", T.IntegerType()),
                T.StructField("_prior_max", df.schema[val_col].dataType),
            ]
        ),
    )

    end = -1 if strict_preceding else Window.currentRow
    w_local = (
        Window.partitionBy(part_col, "_pid")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, end)
    )
    # greatest() skips NULLs: local-scan max for the partition's head
    # rows is NULL under strict_preceding, prior_max is NULL for each
    # group's first partition — either alone carries the answer.
    return (
        staged.join(F.broadcast(offsets), [part_col, "_pid"])
        .withColumn(
            out_col, F.greatest(F.max(val_col).over(w_local), F.col("_prior_max"))
        )
        .select(*df.columns, out_col)
    )


def scalable_row_number(
    df: DataFrame,
    order_cols: tuple[str, ...],
    out_col: str = "rn",
    num_partitions: int | None = None,
    total_col: str | None = None,
    derive: dict[str, Column] | None = None,
    total_out: dict | None = None,
) -> DataFrame:
    """Global ``row_number() OVER (ORDER BY order_cols)`` (1-based)
    without a single-task global window — and without
    :func:`two_phase_rank`'s tie-group ``groupBy + join``, which exists
    only to compute RANK semantics (min row number per value tie) and
    doubles the shuffle volume for callers that don't need it.  When
    the caller's order is already a total order (append a unique
    tiebreaker — the q04 contract), the row number is all that's
    needed: file chunking (q119), training-shuffle positions,
    pagination.

    One range exchange + per-partition local window + broadcast count
    offsets (:func:`_range_stage`, :func:`_pid_offsets`).

    ``total_col`` attaches the total row count as a literal column
    (the driver stats pass computes it anyway — the scalable_cumsum
    total rule).  ``derive`` maps extra column names to expressions
    evaluated ON THE STAGED FRAME, after the exchange (the
    scalable_prefix_sums derive rule): a heavy payload column (q267's
    token arrays) would otherwise be computed on BOTH pre-exchange
    passes (range-bounds sampling + the exchange map side) and carried
    through the shuffle; deriving it post-stage computes it once per
    consuming action and keeps the exchange metadata-narrow.  Derived
    expressions must not reference the range order (they are appended
    after ordering is fixed).  ``total_out`` (optional dict) receives
    the same total as a PYTHON int under key ``"n"`` — for callers
    that need the value in expressions over OTHER frames, where a
    column attached to this frame is unreachable without a join."""
    staged = _range_stage(df, order_cols, num_partitions)
    for name, expr in (derive or {}).items():
        staged = staged.withColumn(name, expr)
    offsets, totals = _pid_offsets(staged, {"n": F.count(F.lit(1))})
    n = int(totals["n"])
    w_local = Window.partitionBy("_pid").orderBy(*order_cols)
    out = staged.join(F.broadcast(offsets), "_pid").withColumn(
        out_col, F.row_number().over(w_local) + F.col("_off_n")
    )
    extra = list(derive) if derive else []
    if total_col:
        out = out.withColumn(total_col, F.lit(n).cast("long"))
        extra.append(total_col)
    if total_out is not None:
        total_out["n"] = n
    return out.select(*df.columns, *extra, out_col)


def scalable_prefix_sums(
    df: DataFrame,
    order_cols: tuple[str, ...],
    val_cols: tuple[str, ...] = (),
    derive: dict[str, Column] | None = None,
    out_prefix: str = "cum_",
    num_partitions: int | None = None,
    pin: bool = False,
    total_cols: dict[str, str] | None = None,
) -> DataFrame:
    """Inclusive running sums of SEVERAL columns over ONE total order
    with ONE range exchange (:func:`_range_stage`,
    :func:`_pid_offsets`).

    Callers that need multiple prefix coordinates over the same order
    (q153 reads both a global row position — prefix sum of 1 — and a
    sample-local position — prefix sum of the sample indicator) would
    otherwise pay a full staged exchange PER coordinate; here the
    stage, the stats collect and the broadcast are shared, and each
    extra coordinate costs one long per partition in the driver stats
    plus one window sum.

    ``derive`` maps extra summand names to Column expressions that are
    evaluated ON THE STAGED FRAME, after the exchange: an expensive
    indicator (q153's salted md5) would otherwise be computed on every
    pre-exchange pass over the input — the range-bounds sampling job
    plus the exchange itself each re-evaluate the child projection.
    Derived columns are summed exactly like ``val_cols``.

    ``total_cols`` maps summand names to output column names holding
    that summand's GRAND TOTAL as a literal (the scalable_cumsum
    total rule — the driver's stats fold ends on exactly these
    values); callers that otherwise aggregate the same totals in a
    separate subtree (q185's n1/n2 over the events rollup) read them
    for free."""
    staged = _range_stage(df, order_cols, num_partitions)
    derived = tuple(derive or ())
    for name, expr in (derive or {}).items():
        staged = staged.withColumn(name, expr)
    val_cols = (*val_cols, *derived)
    offsets, totals = _pid_offsets(staged, {c: F.sum(c) for c in val_cols})
    w_local = (
        Window.partitionBy("_pid")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = staged.join(F.broadcast(offsets), "_pid")
    for c in val_cols:
        out = out.withColumn(
            f"{out_prefix}{c}", F.sum(c).over(w_local) + F.col(f"_off_{c}")
        )
    for c, name in (total_cols or {}).items():
        out = out.withColumn(name, F.lit(int(totals[c])).cast("long"))
    # derived summands are part of the contract: callers filter on
    # them (q153 keeps sample rows via the indicator), so emit them
    # explicitly rather than leaning on missing-reference resolution
    out = out.select(
        *df.columns,
        *derived,
        *[f"{out_prefix}{c}" for c in val_cols],
        *(total_cols or {}).values(),
    )
    # ``pin=True`` materializes the summed frame for MULTI-CONSUMER
    # callers (q153 reads it three times — per-group counts plus two
    # position lookups): without it every downstream scan re-runs the
    # per-partition window sort and any derived expressions (the md5
    # indicator); with it they read cached rows. Single-consumer
    # callers skip the extra materialization. Lazy: the first consumer
    # action materializes it (every pin consumer opens with a
    # full-scan aggregate; even a partial first action completes all
    # partitions at job end — localCheckpoint semantics), merging the
    # dedicated materialize job into it.
    return out.transform(_pin_lazy) if pin else out


def grouped_row_number(
    df: DataFrame,
    part_col: str,
    order_cols: tuple[str, ...],
    out_col: str = "rn",
    num_partitions: int | None = None,
    count_col: str | None = None,
) -> DataFrame:
    """Per-group ``row_number() OVER (PARTITION BY part ORDER BY …)``
    without a low-cardinality window partition AND without rank
    semantics: ONE global row number over (part, *order) minus
    broadcast per-group offsets (the count of rows in ordering-earlier
    groups).

    This is the factored form of the position-read pattern that
    emerged across q153/q164/q145/q123: when a consumer reads
    POSITIONS (medians, percentile cuts, top-k under unique keys),
    two_phase_rank's tie-group groupBy+join — which exists only to
    give ties a shared RANK — is pure overhead; dropping it roughly
    halved each of those queries' shuffle volume.

    The offsets frame is |groups| rows; its cumulative window is a
    deliberate single-task sort of metadata. Group ordering inside
    the offsets window and inside the range exchange are both
    Spark-native orderings of the same column, so they agree by
    construction.

    ``count_col`` (optional) additionally emits each group's total row
    count — the helper computes it anyway for the offsets, and callers
    that need positions AND group sizes (positional percentile picks:
    rk == (n+1) div 2) would otherwise pay a second aggregate over the
    caller's upstream; exposing it makes the checkpointed stage the
    single source of both."""
    # Not scalable_row_number + a consumer aggregate: BOTH offset
    # frames read the pinned stage directly — the per-pid stats as a
    # tiny collect, the per-group counts as one hash aggregate over
    # checkpointed rows — so the caller's upstream is not re-evaluated
    # and the ranking window is not forced just to count groups.
    staged = _range_stage(df, (part_col, *order_cols), num_partitions)
    pid_offs, _ = _pid_offsets(staged, {"n": F.count(F.lit(1))})
    w_group = Window.orderBy(part_col).rowsBetween(
        Window.unboundedPreceding, -1
    )  # |groups| rows — the single-task cumulative is metadata-sized
    offs = (
        staged.groupBy(part_col)
        .agg(F.count(F.lit(1)).alias("_n"))
        .select(
            part_col,
            *([F.col("_n").alias(count_col)] if count_col else []),
            F.coalesce(F.sum("_n").over(w_group), F.lit(0)).alias("_goff"),
        )
    )
    w_local = Window.partitionBy("_pid").orderBy(part_col, *order_cols)
    return (
        staged.join(F.broadcast(pid_offs), "_pid")
        .join(F.broadcast(offs), part_col)
        .withColumn(
            out_col,
            F.row_number().over(w_local) + F.col("_off_n") - F.col("_goff"),
        )
        .select(*df.columns, out_col, *([count_col] if count_col else []))
    )


def group_median(
    df: DataFrame,
    part_col: str,
    val_col: str,
    out_col: str = "median",
) -> DataFrame:
    """Exact per-group median of a numeric column WITHOUT a
    low-cardinality window partition: positions come from
    :func:`grouped_row_number` (range-exchange two-phase), group sizes
    from one hash aggregate, and the median is the mean of the rows at
    positions ⌊(n+1)/2⌋ and ⌊(n+2)/2⌋ — one value for odd n, the
    midpoint (a+b)/2 for even n. The midpoint is ONE IEEE add + ONE
    divide on source doubles, so it verifies value-exactly against an
    oracle computing the same formulation (do NOT compare against an
    engine-native median()/quantile_cont, whose interpolation op order
    is implementation-defined).

    Returns one row per group: (part_col, n, out_col). Ties in
    ``val_col`` may order arbitrarily between equal values, but the
    VALUE at any global position is deterministic (sorted multiset),
    which is all the median reads.

    NULLs in ``val_col`` are EXCLUDED (and ``n`` counts non-null rows
    only) — r7 ADVICE: Spark sorts nulls FIRST while the DuckDB oracle
    family sorts NULLS LAST, so counting null rows would shift the
    picked positions engine-vs-oracle, and a picked NULL would be
    silently dropped by F.sum while F.count still divides by it
    (halving the reported median). Filtering up front gives both
    engines the same non-null multiset — the SQL-aggregate convention
    (median() ignores NULLs) — and groups that are all-NULL vanish."""
    df = df.filter(F.col(val_col).isNotNull())
    # count_col rides the same checkpointed stage that produces the
    # positions (grouped_row_number computes group sizes anyway for
    # its offsets) — the r7-era second groupBy().count() over the
    # caller's upstream plus its broadcast join are gone (r9 VERDICT
    # "what's wrong" #2: q207 paid that aggregate four times).
    picked = grouped_row_number(
        df.select(part_col, val_col),
        part_col,
        (val_col,),
        out_col="_rn",
        count_col="_n",
    ).filter(
        (F.col("_rn") == F.expr("(_n + 1) div 2"))
        | (F.col("_rn") == F.expr("(_n + 2) div 2"))
    )
    return picked.groupBy(part_col).agg(
        F.max("_n").cast("long").alias("n"),
        (F.sum(val_col) / F.count(F.lit(1))).alias(out_col),
    )


def scalable_ntile(
    df: DataFrame,
    order_cols: tuple[str, ...],
    buckets: int,
    out_col: str = "bucket",
    num_partitions: int | None = None,
) -> DataFrame:
    """Global ``ntile(b) OVER (ORDER BY order_cols)`` without the
    single-task global window — positions come from
    :func:`scalable_row_number` (range-exchange two-phase) and the
    bucket is the closed-form ntile rule on (rn, n): with q = n div b
    and r = n mod b, the first r buckets hold q+1 rows and the rest q,
    so rn ≤ r·(q+1) lands in bucket (rn−1) div (q+1) + 1 and anything
    after in bucket r + (rn − r·(q+1) − 1) div q + 1. That is exactly
    the ANSI/Spark/DuckDB tile assignment, including n < b (every row
    its own bucket 1..n) — closed-form, so the only cross-engine
    freedom left is the ORDER, which callers must pin with a unique
    tiebreaker (the q04 contract).

    ``n`` comes from the row-number kernel's driver stats as a LITERAL
    (the scalable_cumsum total rule) — no n-frame aggregate and no
    1-row cross join, so consuming the tiled frame never re-triggers a
    broadcast build (nested ntile calls, q266, previously rebuilt each
    inner n-frame once per outer kernel execution).

    Descending metrics: negate the column (ntile only reads the total
    order, so x DESC ≡ (−x) ASC for any integer metric)."""
    ranked = scalable_row_number(
        df,
        order_cols,
        out_col="_ntile_rn",
        num_partitions=num_partitions,
        total_col="_ntile_n",
    )
    b = buckets
    tiled = ranked.withColumn(
        out_col,
        F.expr(
            f"CASE WHEN _ntile_rn <= (_ntile_n % {b}) * (_ntile_n div {b} + 1)"
            f" THEN (_ntile_rn - 1) div (_ntile_n div {b} + 1) + 1"
            f" ELSE (_ntile_n % {b})"
            f"  + (_ntile_rn - (_ntile_n % {b}) * (_ntile_n div {b} + 1) - 1)"
            f"    div (_ntile_n div {b}) + 1 END"
        ).cast("int"),
    )
    return tiled.select(*df.columns, out_col)
