"""Conf-write guard (Spark-free): queries and operators leave the
caller's session conf alone. Every ``<x>.conf.set(...)`` or
``<x>.conf.unset(...)`` call under ``plans/`` and ``operators/`` fails
this test unless the top-level function that contains it is in
``ALLOWED``, one reason per entry.
"""

from __future__ import annotations

import ast
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "nessus_client_etl_scripts_spark"
GUARDED = ("plans", "operators")

ALLOWED = {
    "plans.streaming_queries.run_available_now":
        "sizes the state store on the child session it creates, never the caller's",
    "plans.testdata_queries.register":
        "pins UTC per query: 16 queries fail their oracles on a non-UTC session without it",
}


def _conf_writes() -> dict[str, list[str]]:
    """``module.function`` → ["path:line", ...] of every conf write."""
    writes: dict[str, list[str]] = {}
    for path in sorted(p for d in GUARDED for p in (PKG / d).rglob("*.py")):
        module = ".".join(path.relative_to(PKG).with_suffix("").parts)
        for top in ast.parse(path.read_text(), str(path)).body:
            owner = getattr(top, "name", "<module>")
            for node in ast.walk(top):
                func = getattr(node, "func", None)
                if (
                    isinstance(node, ast.Call)
                    and isinstance(func, ast.Attribute)
                    and func.attr in ("set", "unset")
                    and isinstance(func.value, ast.Attribute)
                    and func.value.attr == "conf"
                ):
                    writes.setdefault(f"{module}.{owner}", []).append(
                        f"{path.relative_to(PKG)}:{node.lineno}"
                    )
    return writes


def test_no_query_or_operator_writes_session_conf():
    writes = {k: v for k, v in _conf_writes().items() if k not in ALLOWED}
    assert not writes, "session conf written (remove the write, or allow-list " \
        f"its function with a reason): {writes}"


def test_allow_list_entries_still_write():
    """An allow-listed function that no longer writes conf leaves the
    list, so the list only ever names the writes that remain."""
    stale = set(ALLOWED) - set(_conf_writes())
    assert not stale, f"remove from ALLOWED: {sorted(stale)}"
