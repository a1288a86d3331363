"""Declared STREAMING queries — Structured Streaming executed
end-to-end inside the driver's batch harness (SURVEY.md §2.9): q53
session windows, q68 tumbling windows, q74 dropDuplicates state, q83
custom applyInPandasWithState, q100 stream-static enrichment join —
each a REAL streaming-engine pass (readStream → stateful op →
availableNow → memory sink) whose declared output is
batching/arrival-order independent, hence value-oracle-checkable.

q53 runs the sessionization pipeline through a real streaming engine
pass: file-source ``readStream`` over the events parquet →
``session_window`` stateful aggregation → ``availableNow`` trigger →
memory sink, then returns the sink table as a plain DataFrame. The
DuckDB oracle is the gap-islands formulation of the SAME semantics, so
the streaming engine's stateful operator is value-exact
oracle-checked — not just rows-only smoke — including the decimal-safe
value sums.

Semantics note: ``session_window`` merges an event into a session iff
its timestamp is within gap of the session end INCLUSIVE (an event
landing exactly at ``last + gap`` extends the session — windows merge
on touch; pinned by ``test_streaming_sessions_gap_boundary``). That is
the same ``<=`` rule as batch q19's lag-islands; the only output
difference is ``session_end = max(ts) + gap`` (the window bound)
instead of q19's ``max(ts)``.

Scale shape: the state store keys on (user, session); partial
aggregation runs map-side before the session-merge shuffle; the
watermark (in a real continuous run) bounds state. ``availableNow``
is the production backfill/catch-up mode — identical code path serves
the continuous deployment.
"""

from __future__ import annotations

import shutil
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import _read_events
from .testdata_queries import dsum, register


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of catalog.load_table(..., 'events'): a file-source
    readStream with ``ts`` normalized to TimestampType whatever its
    parquet encoding — the same reader as the batch table."""
    return _read_events(spark, sf_dir, stream=True)


def run_available_now(
    spark: SparkSession,
    plan: Callable[[SparkSession], DataFrame],
    name: str,
    output_mode: str = "complete",
) -> DataFrame:
    """Build the streaming frame ``plan(child)`` on a session of its own,
    execute it to completion (availableNow) into a memory sink and
    return the sink table. Complete mode (default): every state is
    emitted once input is exhausted — the batch-parity mode for a
    bounded backfill (append would hold back sessions inside the
    watermark horizon). applyInPandasWithState forbids complete; its
    callers pass "append" and reduce the per-batch emissions
    downstream.

    The child is a clone of the caller's session (same SparkContext,
    the caller's SQL conf — time zone included), so the stream leaves
    the caller's session as it found it: the shuffle-partition count
    below, the sink's temp view and the stream itself live on the
    child. The checkpoint directory is deleted once the stream has
    stopped; the memory sink holds the rows.

    State-store sizing (the q115 lesson, generalized): a stateful
    operator instantiates one state store PER shuffle partition per
    operator (stream-stream joins: four), and the store-instance setup
    cost dominates a bounded backfill whose per-key state is tiny —
    measured 6.95 s → 2.28 s on q83 at sf0.1 going 32 → 8 partitions.
    The engine pins the count at FIRST checkpoint creation
    (``start()``), so the child runs at 8 partitions from the start;
    whatever the caller builds on the returned sink (q83's and q333's
    per-user windows) runs on the child at the same count."""
    # cloneSession, not newSession: a new session starts from the
    # SparkContext's conf and would drop what the caller set at run time
    child = spark.__class__(
        spark.sparkContext, spark._jsparkSession.cloneSession()
    )
    child.conf.set("spark.sql.shuffle.partitions", "8")
    ckpt = tempfile.mkdtemp(prefix="sgq53_")
    try:
        (
            plan(child)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)
    return child.table(name)


_Q53_ORACLE = """
WITH marked AS (
  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value,
         CASE WHEN CAST(ts AS TIMESTAMP)
                   - LAG(CAST(ts AS TIMESTAMP))
                     OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   <= INTERVAL 30 MINUTE
              THEN 0 ELSE 1 END AS new_s
  FROM events
), s AS (
  SELECT user_id, ts, value,
         SUM(new_s) OVER (
           PARTITION BY user_id ORDER BY ts
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM marked
)
SELECT user_id,
       MIN(ts) AS session_start,
       MAX(ts) + INTERVAL 30 MINUTE AS session_end,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS session_value
FROM s GROUP BY user_id, sid
"""


@register("q53_streaming_sessions", _Q53_ORACLE)
def q53(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessions computed BY THE STREAMING ENGINE (readStream →
    session_window state store → availableNow → memory sink) and
    verified value-exact against a batch gap-islands oracle."""

    def plan(session: SparkSession) -> DataFrame:
        ev = stream_events(session, sf_dir)
        return (
            ev.groupBy(
                F.session_window("ts", "30 minutes").alias("w"), "user_id"
            ).agg(
                F.count(F.lit(1)).alias("n_events"),
                dsum("value", "session_value"),
            )
        ).select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "session_value",
        )

    return run_available_now(spark, plan, "q53_sessions")


_Q68_ORACLE = """
SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS window_start,
       event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events
GROUP BY 1, 2
"""


@register("q68_streaming_hourly", _Q68_ORACLE)
def q68(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window rollup computed BY THE STREAMING ENGINE: the
    same readStream file source as q53, a 1-hour ``window`` stateful
    aggregation, availableNow to completion, memory sink — the
    streaming twin of batch q18's hourly rollup, value-exact against a
    date_trunc oracle (decimal-safe sums).

    Scale shape: tumbling windows keep ONE state row per (window,
    event_type); partial aggregation combines map-side before the
    state-store shuffle, and in a continuous deployment the event-time
    watermark expires closed windows so state stays bounded — the
    availableNow backfill here exercises the identical operator and
    state-store path the 24/7 pipeline runs."""

    def plan(session: SparkSession) -> DataFrame:
        return (
            stream_events(session, sf_dir)
            .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                dsum("value", "total_value"),
            )
            .select(
                F.col("w.start").alias("window_start"),
                "event_type",
                "n_events",
                "total_value",
            )
        )

    return run_available_now(spark, plan, "q68_hourly")


_Q74_ORACLE = """
SELECT event_type,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
FROM events GROUP BY event_type
"""


@register("q74_streaming_distinct", _Q74_ORACLE)
def q74(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming deduplication state: ``dropDuplicates`` over
    (user_id, event_type) holds one state row per key in the state
    store and emits only first arrivals; counting the survivors per
    event_type equals a batch COUNT(DISTINCT user_id). WHICH physical
    row survives depends on arrival order, so the declared output is
    the order-independent aggregate — the state-store semantics (key
    set size) are what's being verified, and they are exact.

    Scale shape: dedup state is keyed on the dedup columns and
    partitioned by them (one shuffle); in a continuous deployment
    ``dropDuplicatesWithinWatermark`` bounds the same state by event
    time. The downstream count reuses the dedup shuffle's partitioning
    for its partial aggregate."""

    def plan(session: SparkSession) -> DataFrame:
        deduped = (
            stream_events(session, sf_dir)
            .select("user_id", "event_type")
            .dropDuplicates(["user_id", "event_type"])
        )
        return deduped.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n_users")
        )

    return run_available_now(spark, plan, "q74_distinct")


_Q83_ORACLE = """
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE)
            / 100.0 AS DOUBLE) AS total_value
FROM events GROUP BY user_id
"""


@register("q83_streaming_custom_state", _Q83_ORACLE)
def q83(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSTOM stateful streaming operator (applyInPandasWithState,
    streaming/stateful.py::running_user_totals) verified value-exact:
    per-user lifetime event counts + value totals held as integer
    cents in the state store. Quantization happens JVM-side before the
    Arrow boundary (round(value*100) — exact for 2-decimal source
    data), so state arithmetic is pure integer and the FINAL emission
    per user equals the batch aggregate no matter how availableNow
    micro-batched the input; intermediate per-batch emissions are
    strictly dominated and dropped by keeping each user's max-count
    row. §2.9's extension point is now oracle-gated, not just
    unit-tested."""
    from ..streaming.stateful import running_user_totals

    def plan(session: SparkSession) -> DataFrame:
        ev = stream_events(session, sf_dir).select(
            "user_id",
            F.round(F.col("value") * 100).cast("long").alias("cents"),
        )
        return running_user_totals(ev)

    sink = run_available_now(
        spark, plan, "q83_user_totals", output_mode="append"
    )
    w = Window.partitionBy("user_id").orderBy(F.desc("n_events"))
    return (
        sink.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            "n_events",
            (F.col("total_cents").cast("double") / F.lit(100.0)).alias(
                "total_value"
            ),
        )
    )


_Q100_ORACLE = """
SELECT c_mktsegment,
       CAST(COUNT(*) AS BIGINT) AS n_purchases,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events JOIN customer ON user_id = c_custkey
WHERE event_type = 'purchase'
GROUP BY c_mktsegment
"""


@register("q100_streaming_enrich", _Q100_ORACLE)
def q100(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static ENRICHMENT join computed by the streaming engine:
    the purchase stream joins the static customer dimension (the
    standard streaming enrichment pattern — clickstream × user profile)
    before a per-segment stateful aggregation, availableNow to
    completion.

    Scale shape: a stream-static equi-join with a dimension-sized
    static side plans as a broadcast into every micro-batch — the
    stream never shuffles for the join, no state is held for it (only
    the downstream aggregate keeps state, one row per segment), and
    the static side is re-resolvable per batch in a continuous
    deployment (slowly-changing dims pick up snapshot updates). The
    event filter is pushed to the streaming source scan. Value-exact
    against the batch join+aggregate oracle (decimal-safe sums) —
    enrichment output is arrival-order independent."""
    from ..catalog import load_table

    def plan(session: SparkSession) -> DataFrame:
        cust = load_table(session, sf_dir, "customer").select(
            F.col("c_custkey").alias("user_id"), "c_mktsegment"
        )
        enriched = (
            stream_events(session, sf_dir)
            .filter(F.col("event_type") == "purchase")
            .join(F.broadcast(cust), "user_id")
        )
        return enriched.groupBy("c_mktsegment").agg(
            F.count(F.lit(1)).alias("n_purchases"),
            dsum("value", "total_value"),
        )

    return run_available_now(spark, plan, "q100_enrich")


# ---------------------------------------------------------------------------
# q113 — sliding-window rollup on the streaming engine
# ---------------------------------------------------------------------------

_Q113_ORACLE = """
SELECT time_bucket(INTERVAL '15 minutes', CAST(ts AS TIMESTAMP))
         - (CAST(t.k AS INTEGER) * INTERVAL '15 minutes') AS window_start,
       event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events CROSS JOIN range(0, 4) t(k)
GROUP BY 1, 2
"""


@register("q113_streaming_sliding", _Q113_ORACLE)
def q113(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SLIDING-window rollup on the streaming engine — the overlapping
    counterpart of q68's tumbling hour: 1-hour windows advancing every
    15 minutes, so each event contributes to exactly size/slide = 4
    window rows (the trend-smoothing shape dashboards and rate
    monitors ask of a stream). The oracle expands the same 4
    epoch-aligned window starts per event with a lateral k∈[0,4) —
    Spark's window() and DuckDB's time_bucket both align to midnight,
    and 15 min divides a day evenly, so the grids agree exactly.

    Scale shape: sliding windows multiply STATE, not input — one state
    row per (window, event_type) with 4× the rows of the tumbling
    case, still bounded and watermark-expirable in a continuous
    deployment; the map-side partial aggregation means each input row
    contributes 4 partial updates that combine before the state-store
    shuffle. Decimal-safe sums as everywhere (float rule #1)."""

    def plan(session: SparkSession) -> DataFrame:
        return (
            stream_events(session, sf_dir)
            .groupBy(
                F.window("ts", "1 hour", "15 minutes").alias("w"), "event_type"
            )
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                dsum("value", "total_value"),
            )
            .select(
                F.col("w.start").alias("window_start"),
                "event_type",
                "n_events",
                "total_value",
            )
        )

    return run_available_now(spark, plan, "q113_sliding")


# ---------------------------------------------------------------------------
# q115 — stream-stream interval join on the streaming engine
# ---------------------------------------------------------------------------

_Q115_ORACLE = """
SELECT c.event_id AS click_id, p.event_id AS purchase_id, c.user_id,
       CAST(date_diff('second', CAST(c.ts AS TIMESTAMP),
                      CAST(p.ts AS TIMESTAMP)) AS BIGINT)
         AS secs_to_purchase,
       p.value AS purchase_value
FROM events c JOIN events p
  ON c.user_id = p.user_id
 AND c.event_type = 'click' AND p.event_type = 'purchase'
 AND CAST(p.ts AS TIMESTAMP) >= CAST(c.ts AS TIMESTAMP)
 AND CAST(p.ts AS TIMESTAMP) <= CAST(c.ts AS TIMESTAMP)
     + INTERVAL 30 MINUTE
"""


@register("q115_stream_stream_join", _Q115_ORACLE)
def q115(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STREAM interval join computed by the streaming engine —
    the attribution join (click ⋈ purchase within 30 minutes, same
    user) that completes the streaming surface: q100 joined a stream
    to a STATIC dim; this joins two live streams, the one stateful
    join shape Structured Streaming adds over batch. Both sides carry
    event-time watermarks and the join predicate is an equi-key plus a
    bounded time interval, so the engine can size and expire the join
    state from the condition itself (clicks are droppable once the
    watermark passes click_ts + 30 min; purchases once it passes
    purchase_ts).

    Output is the matched pair set keyed by the two event ids —
    arrival-order independent, hence value-oracle-checkable: an INNER
    stream-stream join emits a match in whatever micro-batch completes
    the pair, and availableNow over this bounded source drains every
    batch before the sink is read, so the emitted set equals the batch
    join no matter how the file source micro-batched the input.

    Scale shape: state is hash-partitioned on user_id (the equi-key) —
    the same single shuffle a batch sort-merge join would pay, held in
    the state store with per-key time bounds instead of materialized
    frames; the interval arithmetic is row-local. Value passthrough is
    raw per-row doubles (float rule: no re-aggregation, bit-identical
    in any engine).

    State-store sizing: a stream-stream join instantiates FOUR state
    stores per shuffle partition (left/right × rows/key-counts), so
    the partition count belongs to the stream, not to the caller's
    session — under a plain 200-partition session this query would
    open 800 store instances for a bounded backfill (measured 2-4× the
    wall time at 32 vs 8 partitions at sf0.01; at sf0.1, 8 partitions
    run 2.9 s vs 4.1 s at 16 — store-instance setup still dominates
    the tiny per-key state). The streaming engine pins the count at
    FIRST checkpoint creation; run_available_now builds this join on
    its own child session set to 8 partitions before start(), the
    once-per-deployment sizing a production stream gets, and the
    caller's session is never written."""
    return run_available_now(
        spark,
        lambda session: _q115_plan(session, sf_dir),
        "q115_attribution",
        output_mode="append",
    )


def _q115_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    clicks = (
        stream_events(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            "user_id",
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "1 hour")
    )
    purchases = (
        stream_events(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("purchase_ts"),
            F.col("value").alias("purchase_value"),
        )
        .withWatermark("purchase_ts", "1 hour")
    )
    return clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (
            F.col("purchase_ts")
            <= F.col("click_ts") + F.expr("INTERVAL 30 MINUTES")
        ),
    ).select(
        "click_id",
        "purchase_id",
        "user_id",
        (
            F.unix_timestamp("purchase_ts") - F.unix_timestamp("click_ts")
        ).alias("secs_to_purchase"),
        "purchase_value",
    )
