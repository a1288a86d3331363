"""Streaming window operators (SURVEY.md §2.9's extension surface).

``windowed_severity_counts`` is the streaming twin of the batch hourly
rollup (testdata_queries q18): same tumbling-window semantics via
``F.window``, plus an event-time watermark so state is bounded and late
documents beyond the horizon are dropped deterministically.

``sessionized_stream`` is the streaming twin of the batch
sessionization (q19): ``F.session_window`` with a gap — state closes a
session when no event lands within the gap + watermark.

Both take EITHER a batch or a streaming DataFrame: the expressions are
identical (that's the point — one semantics, two execution modes).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def windowed_severity_counts(
    events: DataFrame,
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked 1-hour tumbling-window counts and ``value`` sums
    per ``event_type``, on event time ``ts``.

    State bound: one row per (window, group) within the watermark
    horizon; partial aggregation happens map-side before the keyed
    state store, so the shuffle carries partial sums, not events.
    """
    src = events
    if events.isStreaming:
        src = events.withWatermark("ts", watermark)
    return (
        src.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def sessionized_stream(events: DataFrame) -> DataFrame:
    """Per-``user_id`` sessions of ``ts`` events with a 30-minute gap
    (1-hour watermark) via ``session_window`` — the built-in stateful
    operator; no custom applyInPandasWithState needed for plain gap
    semantics (custom state logic lives in stateful.py)."""
    src = events
    if events.isStreaming:
        src = events.withWatermark("ts", "1 hour")
    return (
        src.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("session_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "session_value",
        )
    )
