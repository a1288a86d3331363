"""Spark-free guards on the harness scripts: every ``tools/*.py`` still
loads by path (the benchmark loads ``tools/compare_oracle.py`` that way
and digests query results with its canonicalization), and ``bench.py``'s
compact tail record decodes back to every query timing."""

from __future__ import annotations

import glob
import importlib.util
import json
import os
import random

import numpy as np
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load(path: str):
    name = os.path.splitext(os.path.basename(path))[0]
    spec = importlib.util.spec_from_file_location(name, path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.mark.parametrize(
    "path",
    sorted(glob.glob(os.path.join(ROOT, "tools", "*.py"))),
    ids=os.path.basename,
)
def test_tool_loads_by_path(path):
    assert callable(_load(path).main)


def test_compare_oracle_canonicalization_is_unchanged():
    compare = _load(os.path.join(ROOT, "tools", "compare_oracle.py"))
    cell = compare._cell
    assert [cell(v) for v in (None, float("nan"), np.nan, 0.1, 1 / 3, np.float64(2.5), 7)] == [
        "<null>", "<null>", "<null>", "0.1", "0.3333333333333333", "2.5", "7",
    ]
    rows = compare._canon_rows(["b", "a"], [(1, None), (0, 2.5), (-3, 1 / 3)])
    assert rows == [
        ("0.3333333333333333", "-3"),
        ("2.5", "0"),
        ("<null>", "1"),
    ]


def _decode_tail(line: str, names: list[str], bench) -> dict[str, float]:
    rec = json.loads(line)
    assert rec["names_sha1"] == bench.names_sha1(names)
    return {n: c / 100 for n, c in zip(names, rec["cs"], strict=True) if c is not None}


def test_bench_tail_record_decodes_to_every_timing():
    bench = _load(os.path.join(ROOT, "bench.py"))
    rng = random.Random(0)
    names = sorted(f"q{i:03d}_declared_query_{i}" for i in range(1, 345))
    timings = {n: round(rng.uniform(0.0, 99.99), 4) for n in names}
    errored = names[7]
    del timings[errored]
    record = {
        "metric": "declared_queries_total_wall",
        "value": round(sum(timings.values()), 4),
        "unit": "sec",
        "queries": timings,
        "sf": 0.1,
        "pins_failures": 2,
        "errors": {errored: "RuntimeError: boom"},
    }
    line = bench.tail_record(record, names)
    assert len(line) < 2000
    rec = json.loads(line)
    assert (rec["metric"], rec["value"], rec["n_queries"], rec["n_errors"]) == (
        record["metric"], record["value"], 343, 1,
    )
    assert rec["pins_failures"] == 2
    decoded = _decode_tail(line, names, bench)
    assert decoded.keys() == timings.keys()
    for n, t in timings.items():
        assert abs(decoded[n] - t) <= 0.01, n
