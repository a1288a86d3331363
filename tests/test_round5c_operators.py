"""Unit tests for the round-5c additions: Z-order layout (q119),
compaction planning (q120), the distributed running-max scan (q122's
engine), median/MAD (q123), and integer PageRank (q124). The oracle
harness proves cross-engine value parity; these pin the semantics on
controlled inputs and differential-test the scale primitives against
their single-task window formulations."""

import random

import duckdb
import pyspark.sql.functions as F
from pyspark.sql import Window

from nessus_client_etl_scripts_spark.operators.graph import pagerank_integer
from nessus_client_etl_scripts_spark.operators.layout import (
    compaction_bins,
    zone_maps,
    zorder_key,
    zorder_key_sql,
)
from nessus_client_etl_scripts_spark.operators.windows import (
    scalable_running_max,
)


# ---------------------------------------------------------------------------
# zorder_key
# ---------------------------------------------------------------------------

def _morton_ref(a: int, b: int) -> int:
    """Bit-at-a-time reference interleave."""
    z = 0
    for i in range(16):
        z |= ((a >> i) & 1) << (2 * i)
        z |= ((b >> i) & 1) << (2 * i + 1)
    return z


def test_zorder_matches_bitwise_reference(spark):
    rng = random.Random(119)
    vals = [(rng.randrange(65536), rng.randrange(65536)) for _ in range(200)]
    vals += [(0, 0), (65535, 65535), (65535, 0), (0, 65535), (1, 2)]
    df = spark.createDataFrame(vals, "a long, b long")
    got = {
        (r["a"], r["b"]): r["z"]
        for r in df.select(
            "a", "b", zorder_key(F.col("a"), F.col("b")).alias("z")
        ).collect()
    }
    for a, b in vals:
        assert got[(a, b)] == _morton_ref(a, b), (a, b)


def test_zorder_sql_twin_matches(spark):
    """The DuckDB expression replays the exact interleave — the oracle
    contract for q119."""
    rng = random.Random(120)
    vals = [(rng.randrange(1 << 20), rng.randrange(1 << 20)) for _ in range(64)]
    con = duckdb.connect()
    expr = zorder_key_sql("a", "b")
    for a, b in vals:
        (z,) = con.execute(
            f"SELECT {expr} FROM (SELECT {a} AS a, {b} AS b)"
        ).fetchone()
        assert z == _morton_ref(a & 0xFFFF, b & 0xFFFF)


def test_zorder_locality_beats_single_column_sort(spark):
    """The point of the layout: under Z-order, per-file zone maps on
    the SECONDARY key are selective; under a primary-key sort each
    file's secondary range spans ~the whole domain."""
    rows = [(a, b) for a in range(64) for b in range(64)]  # full 64x64 grid
    df = spark.createDataFrame(rows, "a long, b long")
    per_file = 256

    def spans(ordered):
        w = Window.orderBy(*ordered)
        files = df.withColumn(
            "f", F.floor((F.row_number().over(w) - 1) / per_file)
        )
        zm = zone_maps(files, "f", ("b",)).collect()
        return sum(r["max_b"] - r["min_b"] for r in zm) / len(zm)

    z_span = spans([zorder_key(F.col("a"), F.col("b")), "a", "b"])
    lin_span = spans(["a", "b"])
    # 256 rows/file on a 64x64 grid: Z-order files are 16x16 blocks
    # (b-span 15); an a-sorted file covers 4 full a-rows (b-span 63).
    assert z_span == 15
    assert lin_span == 63


# ---------------------------------------------------------------------------
# compaction_bins
# ---------------------------------------------------------------------------

def test_compaction_bins_matches_greedy_walk(spark):
    rng = random.Random(5)
    files = [(i, rng.randrange(1, 400)) for i in range(500)]
    df = spark.createDataFrame(files, "file_id long, size long")
    out = {
        r["file_id"]: (r["bin_id"], r["cum_bytes"])
        for r in compaction_bins(
            df, ("file_id",), "size", target_bytes=1000
        ).collect()
    }
    cum = 0
    for fid, size in files:
        bin_ref = cum // 1000
        cum += size
        assert out[fid] == (bin_ref, cum), fid


def test_compaction_bins_are_contiguous_and_bounded(spark):
    df = spark.createDataFrame(
        [(i, 300) for i in range(100)], "file_id long, size long"
    )
    rows = sorted(
        compaction_bins(df, ("file_id",), "size", target_bytes=1000).collect(),
        key=lambda r: r["file_id"],
    )
    bins = [r["bin_id"] for r in rows]
    assert bins == sorted(bins)  # contiguity: bin ids never go back
    # floor-of-cumsum binning fills absolute [k*target, (k+1)*target)
    # windows, so the guarantee is CUMULATIVE: mass through bin k
    # reaches (k+1)*target for every non-last bin (individual bins may
    # dip under target when a predecessor overhung the boundary).
    from collections import defaultdict

    totals = defaultdict(int)
    for r in rows:
        totals[r["bin_id"]] += 300
    running = 0
    for b in sorted(totals):
        running += totals[b]
        if b != max(totals):
            assert running >= (b + 1) * 1000


# ---------------------------------------------------------------------------
# scalable_running_max — differential vs the single-task window
# ---------------------------------------------------------------------------

def test_scalable_running_max_differential(spark):
    rng = random.Random(122)
    rows = [
        (f"g{rng.randrange(3)}", rng.randrange(50), i, rng.randrange(1000))
        for i in range(400)
    ]
    df = spark.createDataFrame(rows, "g string, ord long, key long, v long")
    for strict in (True, False):
        got = {
            (r["g"], r["ord"], r["key"]): r["rm"]
            for r in scalable_running_max(
                df,
                part_col="g",
                order_cols=("ord", "key"),
                val_col="v",
                out_col="rm",
                strict_preceding=strict,
                num_partitions=7,
            ).collect()
        }
        end = -1 if strict else Window.currentRow
        w = (
            Window.partitionBy("g")
            .orderBy("ord", "key")
            .rowsBetween(Window.unboundedPreceding, end)
        )
        ref = {
            (r["g"], r["ord"], r["key"]): r["rm"]
            for r in df.withColumn("rm", F.max("v").over(w)).collect()
        }
        assert got == ref, f"strict={strict}"


def test_scalable_running_max_single_row_groups(spark):
    df = spark.createDataFrame(
        [("a", 1, 1, 10), ("b", 1, 1, 20)], "g string, ord long, key long, v long"
    )
    out = {
        r["g"]: r["rm"]
        for r in scalable_running_max(
            df, "g", ("ord", "key"), "v", out_col="rm", num_partitions=4
        ).collect()
    }
    assert out == {"a": None, "b": None}  # strict: no predecessor


# ---------------------------------------------------------------------------
# pagerank_integer
# ---------------------------------------------------------------------------

def _pr_ref(edges, iters=3, scale=1_000_000, damp=85):
    nodes = sorted({v for e in edges for v in e})
    out = {}
    for s, _ in edges:
        out[s] = out.get(s, 0) + 1
    r = {v: scale for v in nodes}
    base = scale * (100 - damp) // 100
    for _ in range(iters):
        nxt = {v: base for v in nodes}
        for s, d in edges:
            nxt[d] += (damp * r[s]) // (100 * out[s])
        r = nxt
    return r


def test_pagerank_integer_matches_reference_recurrence(spark):
    rng = random.Random(124)
    edges = list(
        {(rng.randrange(20), rng.randrange(20)) for _ in range(60)}
    )
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r["id"]: r["rank"] for r in pagerank_integer(df, iterations=3).collect()
    }
    assert got == _pr_ref(edges)


def test_pagerank_integer_component_independence(spark):
    """Disjoint components don't leak mass into each other: running the
    union graph equals running each component alone."""
    a = [(0, 1), (1, 2), (2, 0)]
    b = [(10, 11), (11, 10), (11, 12)]
    df_a = spark.createDataFrame(a, "src long, dst long")
    df_u = spark.createDataFrame(a + b, "src long, dst long")
    ranks_a = {
        r["id"]: r["rank"] for r in pagerank_integer(df_a, iterations=4).collect()
    }
    ranks_u = {
        r["id"]: r["rank"] for r in pagerank_integer(df_u, iterations=4).collect()
    }
    for v, rk in ranks_a.items():
        assert ranks_u[v] == rk


def test_pagerank_dangling_sink_accumulates(spark):
    """A pure sink (no out-edges) still receives mass; its own damped
    mass leaks by design (documented)."""
    df = spark.createDataFrame([(1, 2), (3, 2)], "src long, dst long")
    r = {x["id"]: x["rank"] for x in pagerank_integer(df, iterations=1).collect()}
    assert r[2] == 150_000 + 2 * (85 * 1_000_000 // 100)
    assert r[1] == r[3] == 150_000


# ---------------------------------------------------------------------------
# q122 skyline — planted dominance structure
# ---------------------------------------------------------------------------

def test_skyline_planted(spark, tmp_path):
    """Plant a staircase + interior points; the skyline keeps exactly
    the staircase, and duplicate (price, size) points are mutually
    non-dominating (both kept)."""
    from nessus_client_etl_scripts_spark.plans import (  # noqa: F401 — registers q122
        relational_queries as _rq,
    )
    from nessus_client_etl_scripts_spark.plans.testdata_queries import (
        spark_queries,
    )

    rows = [
        # (partkey, name, brand, type, size, retailprice)
        (1, "stair-a", "B1", "t", 30, 10.0),   # skyline
        (2, "stair-b", "B1", "t", 20, 5.0),    # skyline
        (3, "stair-c", "B1", "t", 10, 1.0),    # skyline
        (4, "interior", "B1", "t", 15, 6.0),   # dominated by 2
        (5, "dup-a", "B1", "t", 40, 20.0),     # skyline, duplicated
        (6, "dup-b", "B1", "t", 40, 20.0),     # identical → also kept
        (7, "other-brand", "B2", "t", 1, 99.0),  # alone in B2 → kept
    ]
    df = spark.createDataFrame(
        rows,
        "p_partkey long, p_name string, p_brand string, p_type string,"
        " p_size int, p_retailprice double",
    )
    sf = str(tmp_path)
    df.write.parquet(f"{sf}/part.parquet")
    out = spark_queries()["q122_pareto_skyline"](spark, sf)
    kept = {r["p_partkey"] for r in out.collect()}
    assert kept == {1, 2, 3, 5, 6, 7}
