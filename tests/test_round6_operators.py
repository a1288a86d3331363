"""Unit tests for the round-6 additions: Gopher quality rules (q125),
bigram-LM novelty (q126), containment pairs (q127), interval-bucket
overlap + power-of-two decayed sums (q128/q130), exact stratified
splits (q129), and embedding standardization (q131). The oracle
harness proves cross-engine value parity at three SFs; these pin the
semantics on controlled inputs, including the edge cases the testdata
never hits (empty docs, reversed intervals, tiny strata)."""

import math

import pyspark.sql.functions as F

from nessus_client_etl_scripts_spark.operators.dedup import containment_pairs
from nessus_client_etl_scripts_spark.operators.lm import bigram_novelty
from nessus_client_etl_scripts_spark.operators.sampling import (
    stratified_exact_split,
)
from nessus_client_etl_scripts_spark.operators.similarity import (
    embedding_standardize_checksum,
)
from nessus_client_etl_scripts_spark.operators.temporal import (
    decayed_sum_pow2,
    interval_bucket_overlap,
)
from nessus_client_etl_scripts_spark.operators.text import (
    gopher_rules,
    most_common_token_count,
    normalize_text,
    tokens,
)


# ---------------------------------------------------------------------------
# gopher_rules / most_common_token_count
# ---------------------------------------------------------------------------

def _rules_row(spark, text):
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    staged = df.select("doc_id", tokens(normalize_text("text")).alias("toks"))
    r = gopher_rules(F.col("toks"))
    return staged.select(
        *[v.alias(k) for k, v in r.items()]
    ).collect()[0]


def test_most_common_token_count(spark):
    df = spark.createDataFrame(
        [(1, ["a", "b", "a", "c", "a", "b"])], "id long, toks array<string>"
    )
    got = df.select(most_common_token_count(F.col("toks")).alias("m")).collect()
    assert got[0]["m"] == 3


def test_gopher_rules_features(spark):
    row = _rules_row(spark, "the cat sat on the mat with a cat")
    assert row["n_tokens"] == 9
    # chars: 9 tokens, lengths 3+3+3+2+3+3+4+1+3 = 25
    assert row["mean_token_len"] == 25 / 9
    assert row["most_common_frac"] == 2 / 9  # 'the' and 'cat' twice → max 2
    assert row["alpha_frac"] == 1.0
    assert row["stop_hits"] == 3  # the, the, a
    assert not row["rule_len"]  # 9 < 15
    assert row["rule_stop"]


def test_gopher_rules_rejects_repetition(spark):
    txt = " ".join(["spam"] * 30 + ["the", "a", "word"])
    row = _rules_row(spark, txt)
    assert row["rule_len"]
    assert not row["rule_common"]  # 30/33 >> 0.125
    assert not row["keep"]


def test_gopher_rules_non_alpha(spark):
    txt = " ".join(["12345"] * 10 + ["the", "a"] * 4)
    row = _rules_row(spark, txt)
    assert row["alpha_frac"] == 8 / 18
    assert not row["rule_alpha"]


# ---------------------------------------------------------------------------
# bigram_novelty
# ---------------------------------------------------------------------------

def test_bigram_novelty_counts(spark):
    docs = spark.createDataFrame(
        [
            (1, "a b c"),        # bigrams: 'a b', 'b c'
            (2, "a b a b"),      # 'a b', 'b a', 'a b'
            (3, "x"),            # no bigrams → absent from output
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in bigram_novelty(docs).collect()}
    assert set(out) == {1, 2}
    # corpus counts: 'a b'→3, 'b c'→1, 'b a'→1
    assert out[1]["n_bigrams"] == 2 and out[1]["sum_count"] == 4
    assert out[1]["n_rare"] == 1 and out[1]["rare_ratio"] == 0.5
    assert out[2]["n_bigrams"] == 3 and out[2]["sum_count"] == 7
    # 'b a' (count 1) is rare; 'a b' (count 3) is not
    assert out[2]["n_rare"] == 1


# ---------------------------------------------------------------------------
# containment_pairs
# ---------------------------------------------------------------------------

def test_containment_asymmetric(spark):
    # doc 2 is a strict prefix of doc 1: containment(2→1)=1.0,
    # containment(1→2) < 1
    long = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"
    short = "w1 w2 w3 w4 w5"
    docs = spark.createDataFrame(
        [(1, long, "en"), (2, short, "en"), (3, "z1 z2 z3 z4", "en")],
        "doc_id long, text string, lang string",
    )
    out = {
        (r["doc_a"], r["doc_b"]): r
        for r in containment_pairs(
            docs, block_cols=("lang",), k=3, threshold=0.0
        ).collect()
    }
    assert (2, 1) in out and out[(2, 1)]["containment"] == 1.0
    # long side: 3 of 8 shingles shared
    assert out[(1, 2)]["inter"] == 3 and out[(1, 2)]["n_a"] == 8
    assert (3, 1) not in out  # disjoint docs produce no pair at all


def test_containment_blocking(spark):
    docs = spark.createDataFrame(
        [(1, "w1 w2 w3 w4", "en"), (2, "w1 w2 w3 w4", "fr")],
        "doc_id long, text string, lang string",
    )
    assert (
        containment_pairs(docs, block_cols=("lang",), threshold=0.0).count()
        == 0
    )


# ---------------------------------------------------------------------------
# interval_bucket_overlap
# ---------------------------------------------------------------------------

def test_interval_bucket_overlap_spans(spark):
    df = spark.createDataFrame(
        [
            (1, "2024-01-01 10:30:00", "2024-01-01 12:10:00"),  # 3 buckets
            (2, "2024-01-01 10:00:00", "2024-01-01 10:00:00"),  # 1 bucket
            (3, "2024-01-01 12:00:00", "2024-01-01 11:00:00"),  # reversed → 0
        ],
        "id long, s string, e string",
    ).select(
        "id",
        F.col("s").cast("timestamp").alias("s"),
        F.col("e").cast("timestamp").alias("e"),
    )
    out = interval_bucket_overlap(df, "s", "e", bucket_sec=3600)
    got = sorted(
        (r["id"], str(r["bucket_start"])) for r in out.collect()
    )
    assert got == [
        (1, "2024-01-01 10:00:00"),
        (1, "2024-01-01 11:00:00"),
        (1, "2024-01-01 12:00:00"),
        (2, "2024-01-01 10:00:00"),
    ]


# ---------------------------------------------------------------------------
# decayed_sum_pow2
# ---------------------------------------------------------------------------

def test_decayed_sum_matches_float_reference(spark):
    rows = [
        (1, "2024-01-10 00:00:00", 10.0),   # age 0 → weight 1
        (1, "2024-01-09 00:00:00", 10.0),   # age 1 → 0.5
        (1, "2024-01-07 00:00:00", 4.0),    # age 3 → 0.125
        (2, "2023-01-01 00:00:00", 100.0),  # age > 20 halvings → 0
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts string, value double"
    ).select("user_id", F.col("ts").cast("timestamp").alias("ts"), "value")
    ref = df.agg(F.max(F.col("ts").cast("long"))).collect()[0][0]
    out = {
        r["user_id"]: r
        for r in decayed_sum_pow2(
            df, ["user_id"], "ts", "value", ref
        ).collect()
    }
    assert math.isclose(out[1]["decayed_value"], 10.0 + 5.0 + 0.5)
    assert out[2]["decayed_value"] == 0.0 and out[2]["n_events"] == 1


def test_decayed_sum_partial_day_floors(spark):
    # 1.5 days old → floor to 1 halving
    df = spark.createDataFrame(
        [(1, "2024-01-10 12:00:00", 8.0), (1, "2024-01-09 00:00:00", 8.0)],
        "user_id long, ts string, value double",
    ).select("user_id", F.col("ts").cast("timestamp").alias("ts"), "value")
    ref = df.agg(F.max(F.col("ts").cast("long"))).collect()[0][0]
    out = decayed_sum_pow2(df, ["user_id"], "ts", "value", ref).collect()[0]
    assert out["decayed_value"] == 8.0 + 4.0


# ---------------------------------------------------------------------------
# stratified_exact_split
# ---------------------------------------------------------------------------

def test_stratified_split_exact_proportions(spark):
    rows = [(i, "en" if i % 3 else "fr", f"s{i % 2}") for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, lang string, source string")
    out = stratified_exact_split(df, ("lang", "source"), 0.1)
    per = (
        out.groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(F.col("split") == "eval", 1).otherwise(0)).alias(
                "n_eval"
            ),
        )
        .collect()
    )
    assert len(per) == 4
    for r in per:
        assert r["n_eval"] == math.ceil(r["n"] * 0.1)


def test_stratified_split_deterministic_and_tiny_strata(spark):
    df = spark.createDataFrame(
        [(1, "en", "s"), (2, "en", "s"), (3, "xx", "t")],
        "doc_id long, lang string, source string",
    )
    a = sorted(
        (r["doc_id"], r["split"])
        for r in stratified_exact_split(df, ("lang", "source"), 0.1).collect()
    )
    b = sorted(
        (r["doc_id"], r["split"])
        for r in stratified_exact_split(
            df.repartition(3), ("lang", "source"), 0.1
        ).collect()
    )
    assert a == b
    # every non-empty stratum contributes at least one eval row
    assert sum(1 for _, s in a if s == "eval") == 2


# ---------------------------------------------------------------------------
# embedding_standardize_checksum
# ---------------------------------------------------------------------------

def test_standardize_matches_numpy(spark):
    import numpy as np

    rng = np.random.default_rng(131)
    vecs = rng.normal(0, 0.2, size=(50, 8)).astype("float32")
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )
    got = {
        r["vec_id"]: r for r in embedding_standardize_checksum(df).collect()
    }
    # numpy reference on the same micro-quantized integers; HALF_UP
    # rounding (np.round is half-to-even, Spark/DuckDB round is
    # ties-away-from-zero)
    def half_up(a):
        # exact half-away (the r11 hardening; matches
        # operators/similarity.round_half_away)
        m = np.abs(a)
        f = np.floor(m)
        return np.sign(a) * np.where(m - f >= 0.5, f + 1.0, f)

    e = half_up(vecs.astype("float64") * 1e6)
    n = e.shape[0]
    mean = e.sum(axis=0) / (n * 1e6)
    var = (n * (e * e).sum(axis=0) - e.sum(axis=0) ** 2) / (n * n * 1e12)
    z = (vecs.astype("float64") - mean) / np.sqrt(var)
    zm = half_up(z * 1000)
    for i in range(n):
        assert got[i]["z_sum_milli"] == int(zm[i].sum())
        assert got[i]["z_min_milli"] == int(zm[i].min())
        assert got[i]["z_max_milli"] == int(zm[i].max())


def test_standardize_broadcasts_stats(spark):
    df = spark.createDataFrame(
        [(i, [float(i), float(-i)]) for i in range(20)],
        "vec_id long, embedding array<float>",
    )
    plan = embedding_standardize_checksum(df)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
