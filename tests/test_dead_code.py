"""Dead-code guard (Spark-free): every public top-level function or
class of the library layers must be referenced by code that runs —
the engine, ``tools/``, ``bench.py``, ``perfbench/`` or
``__spark_entry__.py`` — somewhere outside its own definition. Tests
do not count: a helper only its own test calls is dead weight.

The scan is by name (an ``ast.Name`` or ``ast.Attribute`` with the
same identifier; imports and ``__all__`` strings do not count), so it
misses a dead function that shares its name with a live one, never
the reverse. Public surface that only tests exercise today stays
through ``ALLOWED``, one reason per entry.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = ROOT / "nessus_client_etl_scripts_spark"
GUARDED = [
    *(PKG / d for d in ("operators", "pipeline", "sources", "streaming", "functions")),
    PKG / "catalog.py",
]
REFERRERS = [PKG, ROOT / "tools", ROOT / "bench.py", ROOT / "perfbench",
             ROOT / "__spark_entry__.py"]

ALLOWED = {
    # live-API surface: the REST source and the data source would run
    # against a scanner; this repository drives them offline only
    "sources.rest.NessusRestSource": "driver-side REST source, tested offline",
    "sources.rest_datasource.NessusRunsDataSource": "Spark data source, tested offline",
    # streaming drivers: a deployment starts them, no query does
    "streaming.incremental.run_incremental_normalize": "streaming normalize driver",
    "streaming.stateful.running_severity_totals": "stateful streaming aggregate",
    "streaming.windows.sessionized_stream": "streaming session windows",
    "streaming.windows.windowed_severity_counts": "streaming tumbling windows",
    # reference-parity surface kept with its tests
    "catalog.write_bucketed": "bucketed-table writer, pinned by its bucketing test",
    "pipeline.normalize.severity_rollup": "A1 severity recompute, checked against normalize",
    "functions.explode_port_map": "F2 ports-map helper for the JSON-string shape",
    "functions.parse_yyyymmdd": "F4 key-segment parse, the pair of is_yyyymmdd_segment",
    # convenience forms the queries replaced with staged equivalents
    "operators.dedup.shingles": "text-column form of shingles_from_tokens",
    "operators.similarity.ivf_topk": "k-means IVF trainer+search, the codebook path's reference",
}


def _py_files(paths):
    for p in paths:
        if p.is_file():
            yield p
        else:
            yield from (f for f in sorted(p.rglob("*.py"))
                        if "tests" not in f.relative_to(ROOT).parts)


def _module_key(path: Path) -> str:
    """``operators/dedup.py`` → ``operators.dedup``; a package → its name."""
    parts = path.relative_to(PKG).with_suffix("").parts
    return ".".join(parts[:-1] if parts[-1] == "__init__" else parts)


def _definitions():
    """(key, name, path, first line, last line) per public top-level def."""
    for path in _py_files(GUARDED):
        tree = ast.parse(path.read_text(), str(path))
        for node in tree.body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)) \
                    and not node.name.startswith("_"):
                yield (f"{_module_key(path)}.{node.name}", node.name, path,
                       node.lineno, node.end_lineno)


def _references():
    """name → [(path, line)] of every Name/Attribute use in runnable code."""
    refs: dict[str, list[tuple[Path, int]]] = {}
    for path in _py_files(REFERRERS):
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if isinstance(node, ast.Name):
                name = node.id
            elif isinstance(node, ast.Attribute):
                name = node.attr
            else:
                continue
            refs.setdefault(name, []).append((path, node.lineno))
    return refs


def _unreferenced() -> dict[str, Path]:
    refs = _references()
    return {
        key: path
        for key, name, path, first, last in _definitions()
        if all(p == path and first <= line <= last for p, line in refs.get(name, ()))
    }


def test_every_public_definition_has_a_caller():
    dead = {k: p for k, p in _unreferenced().items() if k not in ALLOWED}
    assert not dead, "unreferenced public definitions (delete, or allow-list " \
        "with a reason): " + ", ".join(
            f"{k} ({p.relative_to(ROOT)})" for k, p in sorted(dead.items()))


def test_allow_list_entries_are_still_unreferenced():
    """An allow-listed name that gained a caller (or was deleted) leaves
    the list, so the list only ever names the test-only surface."""
    stale = set(ALLOWED) - set(_unreferenced())
    assert not stale, f"remove from ALLOWED: {sorted(stale)}"
