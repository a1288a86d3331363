"""Unit tests for the round-6 second wave: BM25 keyword scoring
(q132), reciprocal-rank fusion (q133), and sorted-neighborhood
candidate pairs (q134). The oracle harness proves cross-engine value
parity; these pin semantics on controlled inputs — hand-computed
BM25 scores, RRF tie handling, window/block boundaries."""

import math

import pyspark.sql.functions as F

from nessus_client_etl_scripts_spark.operators.dedup import (
    sorted_neighborhood_pairs,
)
from nessus_client_etl_scripts_spark.operators.graph import (
    triangle_counts,
)
from nessus_client_etl_scripts_spark.operators.lm import pmi_pairs
from nessus_client_etl_scripts_spark.operators.temporal import (
    gap_fill_interpolate,
)
from nessus_client_etl_scripts_spark.operators.ranking import (
    bm25_scores,
    bm25_topk,
    rrf_fuse,
)


# ---------------------------------------------------------------------------
# bm25_scores / bm25_topk
# ---------------------------------------------------------------------------

def _docs(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )


def _bm25_reference(texts, terms, k1=1.2, b=0.75):
    """Independent float-space BM25 (raw RSJ odds-ratio idf)."""
    toks = [t.lower().split() for t in texts]
    n = len(toks)
    avgdl = sum(len(d) for d in toks) / n
    df = {
        t: sum(1 for d in toks if t in d) for t in terms
    }
    out = {}
    for i, d in enumerate(toks):
        micro = 0
        hit = 0
        for t in terms:
            tf = d.count(t)
            if tf == 0 or df[t] == 0:
                continue
            hit += 1
            idf = (n - df[t] + 0.5) / (df[t] + 0.5)
            c = idf * (tf * (k1 + 1)) / (tf + k1 * (1 - b + b * len(d) / avgdl))
            micro += round(c * 1e6)
        if hit:
            out[i] = (hit, micro)
    return out


def test_bm25_matches_reference(spark):
    texts = [
        "spark shuffle join hash join",
        "hash table scan",
        "sort merge join strategy",
        "unrelated words only here",
    ]
    terms = ("join", "hash", "scan")
    got = {
        r["doc_id"]: (r["n_terms"], r["score_micro"])
        for r in bm25_scores(_docs(spark, texts), terms).collect()
    }
    assert got == _bm25_reference(texts, terms)


def test_bm25_term_absent_everywhere(spark):
    # a term with df=0 must simply contribute nothing, not poison idf
    texts = ["a b c", "b c d"]
    got = {
        r["doc_id"]: r["n_terms"]
        for r in bm25_scores(_docs(spark, texts), ("b", "zzz")).collect()
    }
    assert got == {0: 1, 1: 1}


def test_bm25_topk_rank_dense_and_cut(spark):
    texts = ["q q q", "q q", "q", "x"]
    top = bm25_topk(_docs(spark, texts), ("q",), k=2).collect()
    assert [r["doc_id"] for r in top] == [0, 1]
    assert [r["rank"] for r in top] == [1, 2]
    # higher tf (same dl trend) must not rank below lower tf here:
    assert top[0]["score_micro"] >= top[1]["score_micro"]


# ---------------------------------------------------------------------------
# rrf_fuse
# ---------------------------------------------------------------------------

def _ranked(spark, pairs):
    return spark.createDataFrame(pairs, "doc_id long, rank long")


def test_rrf_scores_and_order(spark):
    a = _ranked(spark, [(1, 1), (2, 2), (3, 3)])
    b = _ranked(spark, [(3, 1), (1, 2), (4, 3)])
    got = rrf_fuse(a, b, top=10).collect()
    by_id = {r["doc_id"]: r for r in got}
    # only ids present in BOTH rankings fuse
    assert set(by_id) == {1, 3}
    assert math.isclose(by_id[1]["rrf_score"], 1 / 61 + 1 / 62)
    assert math.isclose(by_id[3]["rrf_score"], 1 / 63 + 1 / 61)
    # doc 1: 1/61+1/62 > doc 3: 1/63+1/61 → doc 1 first
    assert [r["doc_id"] for r in got] == [1, 3]
    assert [r["fused_rank"] for r in got] == [1, 2]


def test_rrf_tie_breaks_by_id(spark):
    a = _ranked(spark, [(7, 1), (5, 2)])
    b = _ranked(spark, [(7, 2), (5, 1)])
    got = rrf_fuse(a, b, top=10).collect()
    # identical scores → lower doc_id first
    assert [r["doc_id"] for r in got] == [5, 7]
    assert got[0]["rrf_score"] == got[1]["rrf_score"]


# ---------------------------------------------------------------------------
# sorted_neighborhood_pairs
# ---------------------------------------------------------------------------

def _corpus(spark, rows):
    return spark.createDataFrame(
        rows, "doc_id long, text string, lang string"
    )


def test_snm_window_bounds_pairs(spark):
    # 4 docs, one block, window=2 → each doc pairs only with its
    # immediate successor in (norm, doc_id) order: exactly 3 pairs
    rows = [
        (1, "aa bb cc dd", "en"),
        (2, "aa bb cc ee", "en"),
        (3, "zz yy xx ww", "en"),
        (4, "zz yy xx vv", "en"),
    ]
    got = sorted_neighborhood_pairs(
        _corpus(spark, rows), window=2
    ).collect()
    assert len(got) == 3
    assert all(r["dist"] == 1 for r in got)
    # sort order is the normalized text: 1<2<4<3 alphabetically ("zz
    # yy xx vv" < "zz yy xx ww"), so near-dups land adjacent
    pairs = {(r["doc_a"], r["doc_b"]) for r in got}
    assert pairs == {(1, 2), (2, 4), (4, 3)}


def test_snm_blocks_do_not_mix(spark):
    rows = [
        (1, "same words here now", "en"),
        (2, "same words here now", "fr"),
    ]
    got = sorted_neighborhood_pairs(_corpus(spark, rows), window=5).collect()
    assert got == []


def test_snm_jaccard_values(spark):
    # identical docs adjacent in sort order → jaccard exactly 1.0
    rows = [
        (1, "one two three four five", "en"),
        (2, "one two three four five", "en"),
        (3, "totally different tokens apart entirely", "en"),
    ]
    got = sorted_neighborhood_pairs(
        _corpus(spark, rows), window=2
    ).collect()
    by_pair = {(r["doc_a"], r["doc_b"]): r for r in got}
    dup = by_pair[(1, 2)]
    assert dup["jaccard"] == 1.0
    assert dup["inter"] == 3  # 5 tokens → 3 distinct 3-shingles
    other = [r for p, r in by_pair.items() if p != (1, 2)]
    assert all(r["jaccard"] == 0.0 for r in other)


# ---------------------------------------------------------------------------
# triangle_counts
# ---------------------------------------------------------------------------

def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src long, dst long")


def test_triangle_simple(spark):
    # triangle 1-2-3 plus a dangling edge 3-4
    got = {
        r["node"]: r["n_triangles"]
        for r in triangle_counts(
            _edges(spark, [(1, 2), (2, 3), (1, 3), (3, 4)])
        ).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1}


def test_triangle_counts_orientation_and_dupes(spark):
    # reversed/duplicate edges must canonicalize; K4 has C(4,3)=4
    # triangles, each vertex participating in 3
    k4 = [(a, b) for a in range(4) for b in range(4) if a != b]
    got = {
        r["node"]: r["n_triangles"]
        for r in triangle_counts(_edges(spark, k4 + k4)).collect()
    }
    assert got == {0: 3, 1: 3, 2: 3, 3: 3}


def test_triangle_self_loops_dropped(spark):
    got = triangle_counts(_edges(spark, [(1, 1), (1, 2), (2, 2)])).collect()
    assert got == []


# ---------------------------------------------------------------------------
# pmi_pairs
# ---------------------------------------------------------------------------

def test_pmi_lift_values(spark):
    # a,b always together (lift = N/(n_a*n_b) * n_ab); c independent
    texts = ["a b", "a b", "a b c", "c d"]
    df = _docs(spark, texts)
    got = {
        (r["tok_a"], r["tok_b"]): r
        for r in pmi_pairs(df, vocab_size=3).collect()
    }
    # vocab by df: a=3, b=3, c=2 (d excluded at size 3)
    ab = got[("a", "b")]
    assert (ab["n_ab"], ab["n_a"], ab["n_b"]) == (3, 3, 3)
    assert ab["lift"] == (3 * 4) / (3 * 3)
    bc = got[("b", "c")]
    assert (bc["n_ab"], bc["lift"]) == (1, (1 * 4) / (3 * 2))


def test_pmi_pairs_ordered_and_bounded(spark):
    texts = ["x y z w", "x y z w", "x y"]
    got = pmi_pairs(_docs(spark, texts), vocab_size=2).collect()
    # only vocab pairs appear, and always in (a < b) order
    assert all(r["tok_a"] < r["tok_b"] for r in got)
    assert len(got) <= 1


# ---------------------------------------------------------------------------
# gap_fill_interpolate
# ---------------------------------------------------------------------------

def test_gap_fill_linear_midpoints(spark):
    import datetime as dt

    rows = [
        (1, dt.datetime(2024, 1, 1, 0, 30), 10.0),
        (1, dt.datetime(2024, 1, 1, 3, 15), 40.0),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts timestamp, value double"
    )
    got = sorted(
        gap_fill_interpolate(df, ["user_id"], "ts", "value").collect(),
        key=lambda r: r["bucket_epoch"],
    )
    # hours 0,1,2,3 → 1000 cents observed, two interpolated, 4000 observed
    assert [r["value_cents"] for r in got] == [1000, 2000, 3000, 4000]
    assert [r["observed"] for r in got] == [True, False, False, True]
    assert [r["n_obs"] for r in got] == [1, 0, 0, 1]


def test_gap_fill_aggregates_within_bucket(spark):
    import datetime as dt

    rows = [
        (1, dt.datetime(2024, 1, 1, 0, 10), 1.25),
        (1, dt.datetime(2024, 1, 1, 0, 50), 2.25),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts timestamp, value double"
    )
    got = gap_fill_interpolate(df, ["user_id"], "ts", "value").collect()
    assert len(got) == 1
    assert got[0]["value_cents"] == 350
    assert got[0]["n_obs"] == 2 and got[0]["observed"]


def test_gap_fill_no_cross_group_fill(spark):
    import datetime as dt

    rows = [
        (1, dt.datetime(2024, 1, 1, 0, 0), 1.0),
        (2, dt.datetime(2024, 1, 1, 5, 0), 2.0),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts timestamp, value double"
    )
    got = gap_fill_interpolate(df, ["user_id"], "ts", "value").collect()
    # each group has a single observation → exactly one row each
    assert sorted((r["user_id"], r["observed"]) for r in got) == [
        (1, True),
        (2, True),
    ]


# ---------------------------------------------------------------------------
# hll_pairwise_overlap
# ---------------------------------------------------------------------------

def test_hll_overlap_inclusion_exclusion(spark):
    from nessus_client_etl_scripts_spark.operators.sketches import (
        hll_estimate_from_registers,
        hll_pairwise_overlap,
        hll_register_frame,
    )

    # cardinalities ABOVE the 2.5·m small-range regime (m=512 →
    # 1280): the engine emits the RAW Flajolet estimate (no
    # linear-counting correction — libm-free portability, see
    # sketches module doc), which is only accurate up there
    rows = (
        [("a", f"u{i}") for i in range(3000)]
        + [("b", f"u{i}") for i in range(2000, 5000)]
        + [("c", f"u{i}") for i in range(10000, 13000)]
    )
    df = spark.createDataFrame(rows, "key string, uid string")
    got = {
        (r["key_a"], r["key_b"]): r
        for r in hll_pairwise_overlap(df, "key", "uid").collect()
    }
    assert set(got) == {("a", "b"), ("a", "c"), ("b", "c")}
    ab = got[("a", "b")]
    # identity holds exactly by construction
    assert ab["approx_inter"] == (
        ab["approx_a"] + ab["approx_b"]
    ) - ab["approx_union"]
    # estimates are in a sane band around the true values (m=512 →
    # ~4.6% rel err; inclusion–exclusion compounds it, allow wide)
    assert abs(ab["approx_a"] - 3000) < 450
    assert abs(ab["approx_union"] - 5000) < 750
    assert abs(ab["approx_inter"] - 1000) < 750
    # disjoint sets → overlap near zero relative to set size
    assert abs(got[("a", "c")]["approx_inter"]) < 750
    # union estimate must come from the merged registers: est(A∪C)
    # equals finalizing max-merged frames, not est(A)+est(C)
    regs = hll_register_frame(df, ["key"], "uid")
    direct_union = (
        hll_estimate_from_registers(
            regs.filter(F.col("key").isin("a", "c")).groupBy("_b").agg(
                F.max("_m").alias("_m")
            ).select(F.lit(1).alias("g"), "_b", "_m"),
            ["g"],
            "u",
        ).collect()[0]["u"]
    )
    assert got[("a", "c")]["approx_union"] == direct_union


# ---------------------------------------------------------------------------
# position_attribution
# ---------------------------------------------------------------------------

def _events(spark, rows):
    import datetime as dt

    base = dt.datetime(2024, 1, 10)
    return spark.createDataFrame(
        [
            (eid, base + dt.timedelta(hours=h), u, et)
            for (eid, h, u, et) in rows
        ],
        "event_id long, ts timestamp, user_id long, event_type string",
    )


def _attribution(spark, rows):
    from nessus_client_etl_scripts_spark.operators.temporal import (
        position_attribution,
    )

    ev = _events(spark, rows)
    return {
        r["touch_type"]: r
        for r in position_attribution(
            ev.filter(F.col("event_type").isin("click", "view")),
            ev.filter(F.col("event_type") == "purchase"),
            "user_id",
            "ts",
            "event_id",
        ).collect()
    }


def test_attribution_u_shape_five_touches(spark):
    rows = [
        (1, 0, 1, "click"),
        (2, 1, 1, "view"),
        (3, 2, 1, "view"),
        (4, 3, 1, "view"),
        (5, 4, 1, "click"),
        (6, 5, 1, "purchase"),
    ]
    got = _attribution(spark, rows)
    # first(click)=4000, last(click)=4000+rem, middles(view)=666 each
    # mid = 2000 // 3 = 666, rem = 2000 - 1998 = 2
    assert got["click"]["credited_bp"] == 4000 + 4000 + 2
    assert got["view"]["credited_bp"] == 666 * 3
    total = sum(r["credited_bp"] for r in got.values())
    assert total == 10000


def test_attribution_edge_counts(spark):
    # n=1 → 10000; n=2 → 5000/5000; strictly-before and lookback
    rows = [
        (1, 0, 1, "click"),
        (2, 1, 1, "purchase"),        # user 1: single touch
        (3, 0, 2, "view"),
        (4, 1, 2, "click"),
        (5, 2, 2, "purchase"),        # user 2: two touches
        (6, 5, 3, "purchase"),        # user 3: converts with no touch
        (7, 6, 3, "click"),           # touch AFTER conversion — ignored
    ]
    got = _attribution(spark, rows)
    assert got["click"]["credited_bp"] == 10000 + 5000
    assert got["view"]["credited_bp"] == 5000
    assert got["click"]["n_conversions"] == 2
    assert got["view"]["n_conversions"] == 1


def test_attribution_lookback_excludes_old_touches(spark):
    rows = [
        (1, 0, 1, "click"),            # 8 days before purchase
        (2, 191, 1, "view"),           # 1 h before
        (3, 192, 1, "purchase"),
    ]
    got = _attribution(spark, rows)  # 7-day lookback
    assert "click" not in got
    assert got["view"]["credited_bp"] == 10000


# ---------------------------------------------------------------------------
# pq_adc_topk
# ---------------------------------------------------------------------------

def test_pq_adc_identical_vector_ranks_first(spark):
    from nessus_client_etl_scripts_spark.operators.similarity import (
        pq_adc_topk,
        pq_codebooks,
    )
    import random

    rng = random.Random(7)
    dim, m, subdim = 16, 4, 4
    base = [rng.uniform(-1, 1) for _ in range(dim)]
    rows = [(0, base)]  # query
    rows.append((1, list(base)))  # exact duplicate of the query
    rows += [
        (i, [rng.uniform(-1, 1) for _ in range(dim)]) for i in range(2, 40)
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )
    cbs = pq_codebooks(m=m, subdim=subdim, k=4)
    got = pq_adc_topk(
        df, df.filter(F.col("vec_id") == 0), cbs, k=3
    ).collect()
    assert [r["query_id"] for r in got] == [0, 0, 0]
    assert [r["rank"] for r in got] == [1, 2, 3]
    # the duplicate shares every code with the query → minimal ADC
    assert got[0]["neighbor_id"] == 1
    assert got[0]["adc_micro"] <= got[1]["adc_micro"]


def test_pq_codes_bounded_and_deterministic(spark):
    from nessus_client_etl_scripts_spark.operators.similarity import (
        pq_adc_topk,
        pq_codebooks,
    )

    rows = [
        (i, [float((i * 7 + j) % 5 - 2) for j in range(8)]) for i in range(20)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cbs = pq_codebooks(m=2, subdim=4, k=4)
    a = pq_adc_topk(df, df.filter(F.col("vec_id") < 3), cbs, k=4).collect()
    b = pq_adc_topk(df, df.filter(F.col("vec_id") < 3), cbs, k=4).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    assert all(r["rank"] <= 4 for r in a)


# ---------------------------------------------------------------------------
# negative_samples
# ---------------------------------------------------------------------------

def test_negative_samples_deterministic_no_self(spark):
    from nessus_client_etl_scripts_spark.operators.sampling import (
        negative_samples,
    )

    corpus = spark.createDataFrame(
        [(i,) for i in range(30)], "doc_id long"
    )
    q = corpus.filter(F.col("doc_id") < 3)
    a = negative_samples(corpus, q, k=4).collect()
    b = negative_samples(corpus, q, k=4).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    by_q = {}
    for r in a:
        by_q.setdefault(r["query_id"], []).append(r)
    assert set(by_q) == {0, 1, 2}
    for qid, rows in by_q.items():
        assert len(rows) == 4
        assert all(r["neg_id"] != qid for r in rows)
        assert sorted(r["rank"] for r in rows) == [1, 2, 3, 4]
    # different queries draw different permutations (salted per pair)
    assert {r["neg_id"] for r in by_q[0]} != {r["neg_id"] for r in by_q[1]}


# ---------------------------------------------------------------------------
# bpe_merge_step / top_bigram
# ---------------------------------------------------------------------------

def test_top_bigram_and_tiebreak(spark):
    from nessus_client_etl_scripts_spark.operators.lm import top_bigram

    # "a b" ×2, "b a" ×1, plus "x y" ×2 → tie between 'a b' and 'x y'
    # broken lexically → 'a b'
    df = _docs(spark, ["a b a b", "x y", "x y"])
    assert top_bigram(df) == "a b"


def test_bpe_merge_greedy_nonoverlap(spark):
    from nessus_client_etl_scripts_spark.operators.lm import bpe_merge_step

    df = _docs(spark, ["a a a", "a a a a", "b a a b", "c c"])
    got = {
        r["doc_id"]: r for r in bpe_merge_step(df, "a a").collect()
    }
    # "a a a" → 1 merge (greedy non-overlapping), "a a a a" → 2
    assert got[0]["n_merges"] == 1 and got[0]["n_tokens_after"] == 2
    assert got[1]["n_merges"] == 2 and got[1]["n_tokens_after"] == 2
    assert got[2]["n_merges"] == 1 and got[2]["n_tokens_after"] == 3
    assert got[3]["n_merges"] == 0 and got[3]["n_tokens_after"] == 2
    assert all(r["merged_pair"] == "a a" for r in got.values())


# ---------------------------------------------------------------------------
# q143/q144 plan-level semantics (operators are inline compositions)
# ---------------------------------------------------------------------------

def test_phrase_search_adjacency(spark):
    from nessus_client_etl_scripts_spark.plans.round6b_queries import q143
    import nessus_client_etl_scripts_spark.catalog as cat

    # build a tiny corpus through a temp parquet dir
    import tempfile, os

    with tempfile.TemporaryDirectory() as d:
        df = spark.createDataFrame(
            [
                (1, "hash join is a hash join thing"),
                (2, "join hash reversed here"),
                (3, "hash and join far apart"),
            ],
            "doc_id long, text string",
        )
        df.write.parquet(os.path.join(d, "documents.parquet"))
        got = {r["doc_id"]: r for r in q143(spark, d).collect()}
    assert set(got) == {1}
    assert got[1]["n_matches"] == 2
    assert got[1]["first_pos"] == 1


def test_transition_matrix_probabilities(spark):
    from nessus_client_etl_scripts_spark.plans.round6b_queries import q144
    import tempfile, os, datetime as dt

    base = dt.datetime(2024, 1, 1)
    rows = [
        # user 1: a -> b -> a ; user 2: a -> b
        (1, base, 1, "a", 0.0, "{}"),
        (2, base + dt.timedelta(minutes=1), 1, "b", 0.0, "{}"),
        (3, base + dt.timedelta(minutes=2), 1, "a", 0.0, "{}"),
        (4, base, 2, "a", 0.0, "{}"),
        (5, base + dt.timedelta(minutes=1), 2, "b", 0.0, "{}"),
    ]
    with tempfile.TemporaryDirectory() as d:
        df = spark.createDataFrame(
            rows,
            "event_id long, ts timestamp, user_id long, event_type string,"
            " value double, props string",
        )
        df.write.parquet(os.path.join(d, "events.parquet"))
        got = {
            (r["from_type"], r["to_type"]): r for r in q144(spark, d).collect()
        }
    assert got[("a", "b")]["n"] == 2 and got[("a", "b")]["p"] == 1.0
    assert got[("b", "a")]["n"] == 1 and got[("b", "a")]["p"] == 1.0
    assert got[("a", "b")]["n_from"] == 2


# ---------------------------------------------------------------------------
# hll_rolling_distinct
# ---------------------------------------------------------------------------

def test_rolling_hll_window_semantics(spark):
    from nessus_client_etl_scripts_spark.operators.sketches import (
        hll_register_frame,
        hll_estimate_from_registers,
        hll_rolling_distinct,
    )
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    # day 0: u0..u1999, day 1: u1000..u2999, day 9: u0..u499
    rows = (
        [(base, f"u{i}") for i in range(2000)]
        + [(base + dt.timedelta(days=1), f"u{i}") for i in range(1000, 3000)]
        + [(base + dt.timedelta(days=9), f"u{i}") for i in range(500)]
    )
    df = spark.createDataFrame(rows, "ts timestamp, uid string")
    got = {
        r["day_epoch"]: r["approx_distinct"]
        for r in hll_rolling_distinct(df, "ts", "uid", window_days=7).collect()
    }
    d0 = int(base.timestamp()) // 86400 * 86400
    # observed days: 0, 1, 9 → windows exist for days 0..9 cropped to
    # the observed span; every day in [0, 9] that any register serves
    assert min(got) == d0 and max(got) == d0 + 9 * 86400
    # day 1 window = day0 ∪ day1 = 3000 distinct (±HLL error)
    assert abs(got[d0 + 86400] - 3000) < 450
    # day 7 window covers only day 1 (day 0 aged out)
    assert abs(got[d0 + 7 * 86400] - 2000) < 300
    # day 9 covers day 9 only — raw HLL overestimates tiny counts,
    # so just require it far below day 1's window
    assert got[d0 + 9 * 86400] < got[d0 + 86400] / 2
    # the day-1 estimate equals a direct merge of day0+day1 registers
    regs = hll_register_frame(
        df.filter(F.col("ts") < base + dt.timedelta(days=2)).select(
            F.lit(1).alias("g"), "uid"
        ),
        ["g"],
        "uid",
    )
    direct = hll_estimate_from_registers(regs, ["g"], "e").collect()[0]["e"]
    assert got[d0 + 86400] == direct


# ---------------------------------------------------------------------------
# minhash_estimate_pairs / ivfpq_topk
# ---------------------------------------------------------------------------

def test_minhash_estimate_tracks_exact_jaccard(spark):
    from nessus_client_etl_scripts_spark.operators.dedup import (
        minhash_estimate_pairs,
    )

    words = [f"w{i}" for i in range(40)]
    # doc 2 shares a long prefix with doc 1 → high jaccard; doc 3 disjoint
    rows = [
        (1, " ".join(words)),
        (2, " ".join(words[:36] + ["x1", "x2", "x3", "x4"])),
        (3, " ".join(f"z{i}" for i in range(40))),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["doc_a"], r["doc_b"]): r
        for r in minhash_estimate_pairs(df).collect()
    }
    assert (1, 2) in got  # near-dup pair must surface via banding
    r = got[(1, 2)]
    assert 0 <= r["est_matches"] <= 64
    assert r["est_jaccard"] == r["est_matches"] / 64
    # true jaccard of the shingle sets is ~0.65; the 64-hash estimate
    # has std ~0.06 — allow a generous band
    assert 0.4 < r["est_jaccard"] <= 1.0


def test_ivfpq_duplicate_ranks_first(spark):
    from nessus_client_etl_scripts_spark.operators.similarity import (
        _hyperplanes,
        ivfpq_topk,
        pq_codebooks,
    )
    import random

    rng = random.Random(11)
    dim = 16
    base = [rng.uniform(-1, 1) for _ in range(dim)]
    rows = [(0, base), (1, list(base))] + [
        (i, [rng.uniform(-1, 1) for _ in range(dim)]) for i in range(2, 60)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = ivfpq_topk(
        df,
        df.filter(F.col("vec_id") == 0),
        _hyperplanes(8, dim, seed=0xC0DE),
        pq_codebooks(m=4, subdim=4, k=4),
        k=3,
        nprobe=2,
    ).collect()
    # the exact duplicate shares the query's cell AND all its codes
    assert got[0]["neighbor_id"] == 1
    assert [r["rank"] for r in got] == [1, 2, 3]
    # candidate set is cell-bounded: every result is a real row id
    assert all(0 <= r["neighbor_id"] < 60 for r in got)


# ---------------------------------------------------------------------------
# cm_join_size_estimate
# ---------------------------------------------------------------------------

def test_cm_join_estimate_upper_bounds_exact(spark):
    from nessus_client_etl_scripts_spark.operators.sketches import (
        cm_join_size_estimate,
    )

    a = spark.createDataFrame(
        [(i % 10,) for i in range(200)], "k long"
    )  # keys 0..9, 20 each
    b = spark.createDataFrame(
        [(i % 20,) for i in range(100)], "k long"
    )  # keys 0..19, 5 each
    got = cm_join_size_estimate(a, "k", b, "k").collect()[0]
    # exact: 10 shared keys × 20 × 5
    assert got["exact_size"] == 1000
    # count-min inner product NEVER under-estimates
    assert got["cm_estimate"] >= got["exact_size"]
    assert got["overcount"] == got["cm_estimate"] - got["exact_size"]


def test_cm_join_estimate_disjoint_small(spark):
    from nessus_client_etl_scripts_spark.operators.sketches import (
        cm_join_size_estimate,
    )

    a = spark.createDataFrame([(i,) for i in range(5)], "k long")
    b = spark.createDataFrame([(i,) for i in range(100, 105)], "k long")
    got = cm_join_size_estimate(a, "k", b, "k").collect()[0]
    assert got["exact_size"] == 0
    # 256-wide sketch + 5 keys/side → collisions rare; estimate ~0
    assert got["cm_estimate"] <= 2


def test_incremental_rollup_flag_always_true(spark):
    from nessus_client_etl_scripts_spark.plans.round6b_queries import q150
    import tempfile, os, datetime as dt

    base = dt.datetime(2024, 1, 1)
    rows = [
        (i, base + dt.timedelta(hours=i), i % 3, "click", float(i), "{}")
        for i in range(50)
    ]
    with tempfile.TemporaryDirectory() as d:
        df = spark.createDataFrame(
            rows,
            "event_id long, ts timestamp, user_id long, event_type string,"
            " value double, props string",
        )
        df.write.parquet(os.path.join(d, "events.parquet"))
        got = q150(spark, d).collect()
    assert len(got) == 3
    assert all(r["maintenance_exact"] for r in got)
    assert all(r["n_merged"] == r["n_direct"] for r in got)
    # exact integer cents: sum over each user's values
    by_user = {}
    for i in range(50):
        by_user.setdefault(i % 3, []).append(float(i))
    for r in got:
        assert r["s_merged"] == sum(round(v * 100) for v in by_user[r["user_id"]])
