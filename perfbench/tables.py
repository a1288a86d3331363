"""Seeded generator for the ten analytic tables the query catalog reads.

The shapes follow the engine's declared testdata schema (FIXTURES.md §B:
TPC-H-ish star schema plus ``events``, ``documents`` and ``embeddings``):
same column names, physical parquet types, value domains and row counts
per scale factor, one single-row-group parquet file per table. Every
column is drawn independently and uniformly over its domain, except where
noted, so the generated data has the key multiplicities, tie rates and
text statistics that the queries were written against.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.41, 0.1475, 0.1475, 0.1475, 0.1475)
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
EMBED_DIM = 64
N_LABELS = 10
DUP_SHARE = 0.05  # documents that copy another document's text + " dup"

_EPOCH = np.datetime64("1970-01-01", "D")


def row_counts(sf: float) -> dict[str, int]:
    """Rows per table at scale factor ``sf``. Facts and most dimensions
    scale linearly; the corpus tables have a floor of 500 rows."""
    return {
        "region": 5,
        "nation": 25,
        "customer": int(150_000 * sf),
        "supplier": int(10_000 * sf),
        "part": int(200_000 * sf),
        "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf),
        "events": int(1_000_000 * sf),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def _days(start: str, rng: np.random.Generator, n: int, span: int) -> pa.Array:
    base = (np.datetime64(start, "D") - _EPOCH).astype(np.int64)
    days = base + rng.integers(0, span, n)
    return pa.array(days * 86_400_000_000, pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values, n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)], pa.string())


def _names(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)], pa.string())


def _texts(rng: np.random.Generator, n: int) -> list[str]:
    lengths = rng.integers(10, 101, n)
    words = np.asarray(VOCAB, dtype=object)[rng.integers(0, len(VOCAB), int(lengths.sum()))]
    cuts = np.cumsum(lengths)[:-1]
    texts = [" ".join(ws) for ws in np.split(words, cuts)]
    dups = rng.choice(n, int(n * DUP_SHARE), replace=False)
    sources = rng.integers(0, n, len(dups))
    for d, s in zip(dups, sources):
        texts[d] = texts[s] + " dup"
    return texts


def generate(sf: float, seed: int) -> dict[str, pa.Table]:
    """All ten tables as Arrow tables; the same (sf, seed) always gives
    the same values."""
    rng = np.random.default_rng(seed)
    n = row_counts(sf)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS, pa.string()),
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    c = n["customer"]
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(c), pa.int64()),
        "c_name": _names("Customer", c),
        "c_nationkey": pa.array(rng.integers(0, 25, c), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, c),
        "c_mktsegment": _pick(rng, SEGMENTS, c),
    })
    s = n["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(s), pa.int64()),
        "s_name": _names("Supplier", s),
        "s_nationkey": pa.array(rng.integers(0, 25, s), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, s),
    })
    p = n["part"]
    keys = np.arange(p)
    adj = np.asarray(PART_ADJ, dtype=object)[rng.integers(0, len(PART_ADJ), p)]
    noun = np.asarray(PART_NOUN, dtype=object)[rng.integers(0, len(PART_NOUN), p)]
    t["part"] = pa.table({
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": pa.array(adj + " " + noun, pa.string()),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, p)], pa.string()),
        "p_type": _pick(rng, PART_TYPES, p),
        "p_size": pa.array(rng.integers(1, 51, p), pa.int32()),
        "p_retailprice": np.round(900 + (keys % 1000) / 10, 1),
    })
    o = n["orders"]
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(o), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, c, o), pa.int64()),
        "o_orderstatus": _pick(rng, ("F", "O", "P"), o),
        "o_totalprice": _money(rng, 1000.0, 500000.0, o),
        "o_orderdate": _days("1995-01-01", rng, o, 2405),
        "o_orderpriority": _pick(rng, PRIORITIES, o),
    })
    li = n["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, o, li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, p, li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, s, li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, li), pa.int32()),
        "l_quantity": rng.integers(1, 51, li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, li),
        "l_discount": np.round(rng.uniform(0, 0.1, li), 2),
        "l_tax": np.round(rng.uniform(0, 0.08, li), 2),
        "l_returnflag": _pick(rng, ("A", "N", "R"), li),
        "l_linestatus": _pick(rng, ("F", "O"), li),
        "l_shipdate": _days("1995-01-02", rng, li, 2499),
    })
    e = n["events"]
    start_us = (np.datetime64("2024-01-01", "D") - _EPOCH).astype(np.int64) * 86_400_000_000
    ts = np.sort(rng.integers(0, 30 * 86_400_000_000, e)) + start_us
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(e), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(1, e // 66), e), pa.int64()),
        "event_type": _pick(rng, EVENT_TYPES, e),
        "value": np.round(rng.exponential(50.0, e), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, e)], pa.string()),
    })
    d = n["documents"]
    texts = _texts(rng, d)
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(d), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": _pick(rng, LANGS, d, p=LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(d)], pa.string()),
        "n_chars": pa.array([len(x) for x in texts], pa.int64()),
    })
    m = n["embeddings"]
    vecs = rng.standard_normal((m, EMBED_DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(m), pa.int64()),
        "embedding": pa.FixedSizeListArray.from_arrays(vecs.ravel(), EMBED_DIM).cast(
            pa.list_(pa.float32())
        ),
        "label": pa.array(rng.integers(0, N_LABELS, m), pa.int32()),
    })
    return t


def ensure(root: str, sf: float, seed: int) -> str:
    """Write the tables under ``root/sf{sf}-s{seed}`` once and return
    that directory; a completed directory carries a ``.done`` marker, so
    an interrupted write is redone rather than reused."""
    out = os.path.join(root, f"sf{sf}-s{seed}")
    if os.path.exists(os.path.join(out, ".done")):
        return out
    os.makedirs(out, exist_ok=True)
    for name, table in generate(sf, seed).items():
        pq.write_table(table, os.path.join(out, f"{name}.parquet"))
    with open(os.path.join(out, ".done"), "w") as f:
        f.write(dt.datetime.now(dt.timezone.utc).isoformat() + "\n")
    return out
