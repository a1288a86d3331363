"""Scalar function layer — SURVEY.md §2.7 (F1-F12).

Every scalar transformation the reference performs is expressible with
built-in ``pyspark.sql.functions`` (JVM-side, whole-stage-codegen'd);
nothing here is a Python UDF. Reference citations are to
``/root/reference/export.py`` unless noted.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

__all__ = [
    "array_join_lines",
    "explode_port_map",
    "parse_yyyymmdd",
    "epoch_to_date",
    "epoch_to_timestamp",
    "key_segment",
    "is_yyyymmdd_segment",
]


def array_join_lines(col: Column | str) -> Column:
    """F1 — join a string array with newlines, null-safe.

    Reference: ``'\\n'.join(plugin.pluginattributes.see_also)`` with a
    None passthrough (export.py:136-142). ``array_join`` is null-safe on
    the array itself only via this explicit guard (a null array must
    stay null, matching the reference's None passthrough).
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.when(c.isNotNull(), F.array_join(c, "\n"))


def explode_port_map(ports: Column | str) -> tuple[Column, Column]:
    """F2 — one row per key of a ports map (export.py:144-149).

    Use with ``select(..., F.explode(col))``; this helper normalizes a
    JSON-object *string* into ``MapType`` first (the Nessus payload
    shape varies — SURVEY.md §7 risk register).
    """
    c = F.col(ports) if isinstance(ports, str) else ports
    as_map = F.when(
        c.cast("string").startswith("{"),
        F.from_json(c.cast("string"), T.MapType(T.StringType(), T.StringType())),
    )
    return F.map_keys(as_map), as_map


def parse_yyyymmdd(col: Column | str) -> Column:
    """F4 — parse a ``YYYYMMDD`` key segment to a date (export.py:82)."""
    return F.to_date(col, "yyyyMMdd")


def epoch_to_timestamp(col: Column | str) -> Column:
    """F5 — epoch seconds → timestamp (export.py:235; schema.sql:142-143)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.timestamp_seconds(c.cast("long"))


def epoch_to_date(col: Column | str) -> Column:
    """F5 — epoch seconds → date (export.py:235)."""
    return F.to_date(epoch_to_timestamp(col))


def key_segment(key: Column | str, idx: int) -> Column:
    """F7 — ``key.split('/')[idx]`` (export.py:82-84)."""
    c = F.col(key) if isinstance(key, str) else key
    return F.split(c, "/").getItem(idx)


def is_yyyymmdd_segment(seg: Column | str) -> Column:
    """F8 — the reference's key-shape guard: all digits, length 8
    (export.py:84)."""
    c = F.col(seg) if isinstance(seg, str) else seg
    return c.rlike("^[0-9]{8}$")
