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

The same holds one level down, for options: every defaulted parameter
of a top-level function in the guarded layers must be set by some
runnable call (by position or keyword), or by a test when the function
itself is ``ALLOWED`` test-only surface, or be named in
``OPTIONS_ALLOWED`` with a reason. An option no call sets is its
default written inline. Calls match by name, like references: a name
defined in two modules counts calls to either, a call inside the
function's own body does not count, and a call that spreads ``*args``
or ``**kwargs`` counts as setting every option.
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
TESTS = [ROOT / "tests", ROOT / "perfbench" / "tests"]

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

OPTIONS_ALLOWED = {
    # test seams: the queries' inputs fit one range partition, so the
    # multi-partition offsets are only reached by forcing the count
    "operators.windows.two_phase_rank.num_partitions": "test seam: forces several range partitions",
    "operators.windows.scalable_cumsum.num_partitions": "test seam: forces several range partitions",
    "operators.windows.scalable_running_max.num_partitions": "test seam: forces several range partitions",
    "operators.windows.scalable_ntile.num_partitions": "test seam: forces several range partitions",
    "operators.windows.grouped_row_number.num_partitions": "test seam: forces several range partitions",
    "operators.graph._cc_with_rounds.driver_finish": "test seam: 0 forces the distributed star rounds",
    "operators.similarity.collect_bounded_side.max_rows": "test seam: a small bound reaches the overflow raise",
    # reference paths the tests compare the served path against
    "operators.similarity.codebook_ivf_topk.assignment": "'literal' is the oracle twin of the arrow path",
}


def _py_files(paths, tests=False):
    """Runnable files under ``paths``; with ``tests``, the test files."""
    for p in paths:
        if p.is_file():
            yield p
        else:
            yield from (f for f in sorted(p.rglob("*.py"))
                        if ("tests" in f.relative_to(ROOT).parts) == tests)


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


def _option_defs():
    """(key, path, node, positional names, defaulted names) per top-level
    function, private ones included."""
    for path in _py_files(GUARDED):
        for node in ast.parse(path.read_text(), str(path)).body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                a = node.args
                pos = [x.arg for x in a.posonlyargs + a.args]
                opts = pos[len(pos) - len(a.defaults):] + [
                    x.arg for x, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None]
                yield f"{_module_key(path)}.{node.name}", path, node, pos, opts


def _calls(files):
    """name → [(path, call)] of every call by that name."""
    calls: dict[str, list[tuple[Path, ast.Call]]] = {}
    for path in files:
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if isinstance(node, ast.Call):
                f = node.func
                name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
                if name:
                    calls.setdefault(name, []).append((path, node))
    return calls


def _set_options(calls, path, node, pos, opts):
    """The options of ``node`` that some call outside its body sets."""
    got: set[str] = set()
    for p, call in calls.get(node.name, ()):
        if p == path and node.lineno <= call.lineno <= node.end_lineno:
            continue
        if any(isinstance(a, ast.Starred) for a in call.args) or \
                any(k.arg is None for k in call.keywords):
            return set(opts)
        got |= set(pos[:len(call.args)]) | {k.arg for k in call.keywords}
    return got


def _unset_options() -> dict[str, Path]:
    """``module.function.option`` → path, for every option no allowed
    caller sets."""
    runnable = _calls(_py_files(REFERRERS))
    tests = _calls(_py_files(TESTS, tests=True))
    unset = {}
    for key, path, node, pos, opts in _option_defs():
        got = _set_options(runnable, path, node, pos, opts)
        if key in ALLOWED:
            got |= _set_options(tests, path, node, pos, opts)
        unset.update({f"{key}.{o}": path for o in opts if o not in got})
    return unset


def test_every_option_is_set_by_a_caller():
    unset = {k: p for k, p in _unset_options().items() if k not in OPTIONS_ALLOWED}
    assert not unset, "options no call sets (inline the default, or " \
        "allow-list with a reason): " + ", ".join(
            f"{k} ({p.relative_to(ROOT)})" for k, p in sorted(unset.items()))


def test_option_allow_list_entries_are_still_unset():
    """An allow-listed option that a runnable call now sets (or that
    was deleted) leaves ``OPTIONS_ALLOWED``."""
    stale = set(OPTIONS_ALLOWED) - set(_unset_options())
    assert not stale, f"remove from OPTIONS_ALLOWED: {sorted(stale)}"
