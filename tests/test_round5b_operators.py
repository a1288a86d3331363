"""Unit tests for the round-5 additions: semantic dedup (q114),
stream-stream interval join (q115), edit-distance pair mining (q116),
temperature mixture (q117). The oracle harness proves cross-engine
value parity; these pin the semantics on controlled inputs."""

import pyspark.sql.functions as F

from nessus_client_etl_scripts_spark.operators.dedup import edit_distance_pairs
from nessus_client_etl_scripts_spark.operators.sampling import (
    temperature_mixture,
)
from nessus_client_etl_scripts_spark.operators.similarity import semantic_dedup


# ---------------------------------------------------------------------------
# semantic_dedup
# ---------------------------------------------------------------------------

def _vec(*xs, dim=4):
    v = list(xs) + [0.0] * (dim - len(xs))
    return v


def test_semantic_dedup_planted(spark):
    """Two well-separated cells; a planted near-duplicate pair in one.
    The higher id of the pair is dropped, everything else kept, and
    cross-cell similarity is never even considered."""
    rows = [
        (1, _vec(1.0, 0.0)),
        (2, _vec(0.999, 0.01)),   # near-dup of 1 → dropped
        (3, _vec(0.7, -0.7)),     # same cell, dissimilar → kept
        (4, _vec(0.0, 1.0)),      # other cell
        (5, _vec(0.01, 0.999)),   # near-dup of 4 → dropped
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = [_vec(1.0, 0.0), _vec(0.0, 1.0)]
    out = {
        r["vec_id"]: (r["cell"], r["keep"])
        for r in semantic_dedup(df, cents, threshold=0.95).collect()
    }
    assert out[1] == (0, True)
    assert out[2] == (0, False)
    assert out[3][1] is True
    assert out[4] == (1, True)
    assert out[5] == (1, False)


def test_semantic_dedup_keep_is_total(spark):
    """Every input row gets a verdict — the output is a full corpus
    filter column, not just the dropped set."""
    df = spark.createDataFrame(
        [(i, _vec(1.0, float(i) / 10)) for i in range(10)],
        "vec_id long, embedding array<double>",
    )
    out = semantic_dedup(df, [_vec(1.0, 0.0), _vec(0.0, 1.0)], 0.999)
    assert out.count() == 10
    assert out.select("vec_id").distinct().count() == 10


def test_semantic_dedup_plan_cell_bounded(spark):
    """The quadratic step must be an equi-join on cell — no cartesian
    product anywhere in the plan."""
    df = spark.createDataFrame(
        [(i, _vec(1.0, float(i))) for i in range(8)],
        "vec_id long, embedding array<double>",
    )
    plan = semantic_dedup(
        df, [_vec(1.0, 0.0), _vec(0.0, 1.0)], 0.9
    )._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


# ---------------------------------------------------------------------------
# edit_distance_pairs
# ---------------------------------------------------------------------------

def _lev(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(
                min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
            )
        prev = cur
    return prev[-1]


def test_edit_distance_pairs_planted(spark):
    """One case per edit kind, plus a deletion-neighborhood false
    positive ('ab'/'ba' share del1 variants at true distance 2) that
    the verify step must reject."""
    names = ["hello", "helo", "hallo", "hhello", "ab", "ba", "zzz"]
    df = spark.createDataFrame([(n,) for n in names], ["s"])
    got = {
        (r["name_a"], r["name_b"])
        for r in edit_distance_pairs(df, "s").collect()
    }
    assert got == {
        ("hello", "helo"),    # deletion
        ("hallo", "hello"),   # substitution
        ("hello", "hhello"),  # insertion
    }
    assert ("ab", "ba") not in got  # distance 2, blocked candidates only


def test_edit_distance_pairs_matches_bruteforce(spark):
    """Differential proof on a dense digit-string universe (every true
    pair must survive blocking; every emitted pair must verify)."""
    names = [f"{i:03d}" for i in range(0, 400, 7)] + ["01", "0011"]
    df = spark.createDataFrame([(n,) for n in names], ["s"])
    got = {
        (r["name_a"], r["name_b"], r["dist"])
        for r in edit_distance_pairs(df, "s").collect()
    }
    want = {
        (a, b, _lev(a, b))
        for i, a in enumerate(names)
        for b in names[i + 1 :]
        if _lev(a, b) <= 1 and a != b
    }
    want = {(min(a, b), max(a, b), d) for a, b, d in want}
    assert got == want


# ---------------------------------------------------------------------------
# temperature_mixture
# ---------------------------------------------------------------------------

def test_temperature_mixture_flattens(spark):
    """A rare source gets more epochs per row than a dominant one, each
    row's copy count is floor(w) or ceil(w), and the result is
    deterministic across invocations."""
    rows = [(i, "rare", 10) for i in range(10)] + [
        (100 + i, "big", 10) for i in range(990)
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, n_chars long")
    out = temperature_mixture(df).groupBy("source").agg(
        F.count("*").alias("copies"),
        F.countDistinct("doc_id").alias("docs"),
    )
    by = {r["source"]: r for r in out.collect()}
    # w_rare = min(8, 0.5*sqrt(10000/100)) = 5.0 → exactly 50 copies
    assert by["rare"]["copies"] == 50
    # w_big = 0.5*sqrt(10000/9900) ≈ 0.5025 → roughly half the rows kept
    assert 400 <= by["big"]["copies"] <= 600
    again = temperature_mixture(df).count()
    assert again == 50 + by["big"]["copies"]


def test_temperature_mixture_copy_ids_contiguous(spark):
    # source "s" holds 1 % of the mass: w = min(8, 0.5 * sqrt(100)) = 5
    # copies per row, so the copy ids have a range to check
    df = spark.createDataFrame(
        [(i, "s", 5) for i in range(20)] + [(99, "big", 9900)],
        "doc_id long, source string, n_chars long",
    )
    out = temperature_mixture(df)
    per = out.groupBy("doc_id").agg(
        F.count("*").alias("n"),
        F.min("copy_id").alias("lo"),
        F.max("copy_id").alias("hi"),
    )
    bad = per.filter(
        (F.col("lo") != 0) | (F.col("hi") != F.col("n") - 1)
    ).count()
    assert bad == 0


# ---------------------------------------------------------------------------
# q115 stream-stream interval join
# ---------------------------------------------------------------------------

def test_stream_stream_join_interval_bounds(spark, tmp_path):
    """The attribution window is [click_ts, click_ts + 30 min] with
    BOTH bounds inclusive: a purchase exactly at +30:00 matches, one
    second later does not, and one before the click never does."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from nessus_client_etl_scripts_spark.plans.streaming_queries import q115

    base = pd.Timestamp("2024-01-01 00:00:00")
    pdf = pd.DataFrame(
        {
            "event_id": [1, 2, 3, 4, 5],
            "ts": pd.to_datetime(
                [
                    base,                               # click
                    base + pd.Timedelta(minutes=30),    # purchase: on bound
                    base + pd.Timedelta(minutes=30, seconds=1),  # too late
                    base - pd.Timedelta(seconds=1),     # before click
                    base + pd.Timedelta(minutes=5),     # in window
                ]
            ),
            "user_id": [7, 7, 7, 7, 7],
            "event_type": [
                "click", "purchase", "purchase", "purchase", "purchase"
            ],
            "value": [0.0, 1.0, 2.0, 3.0, 4.0],
            "props": ["{}"] * 5,
        }
    )
    tbl = pa.Table.from_pandas(pdf, preserve_index=False)
    tbl = tbl.set_column(1, "ts", tbl.column("ts").cast(pa.timestamp("ns")))
    pq.write_table(tbl, str(tmp_path / "events.parquet"))
    got = {
        (r["purchase_id"], r["secs_to_purchase"])
        for r in q115(spark, str(tmp_path)).collect()
    }
    assert got == {(2, 1800), (5, 300)}


def test_edit_distance_pairs_k2_matches_bruteforce(spark):
    """k=2 delete-neighborhood blocking, differentially proven: every
    true distance-<=2 pair survives blocking, every emitted pair
    verifies — including insert+substitute and double-delete mixes and
    short/empty-string edge cases."""
    names = (
        [f"{i:03d}" for i in range(0, 300, 11)]
        + ["ab", "ba", "abcd", "abdc", "a", "", "abcdef", "acdf", "xbcdyf"]
    )
    df = spark.createDataFrame([(n,) for n in names], ["s"])
    got = {
        (r["name_a"], r["name_b"], r["dist"])
        for r in edit_distance_pairs(df, "s", max_dist=2).collect()
    }
    want = {
        (min(a, b), max(a, b), _lev(a, b))
        for i, a in enumerate(names)
        for b in names[i + 1 :]
        if _lev(a, b) <= 2
    }
    assert got == want
    assert any(d == 2 for _, _, d in got)  # the k=2 tier is exercised
