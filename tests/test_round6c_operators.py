"""Unit/property tests for the round-6 third wave (q153-q158):
HRW sharding invariants, k-anonymity ladder guarantees, watermark
lateness vs a Python replay, sampled-quantile mergeability, χ²
against a driver-side reference, and trigram support counting."""

from __future__ import annotations

import hashlib

import pyspark.sql.functions as F
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

SF001 = "/root/testdata/sf0.001"

_SET = dict(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def _u48_py(salt: str, key: str) -> int:
    return int(hashlib.md5((salt + key).encode()).hexdigest()[:12], 16)


# ---------------------------------------------------------------------------
# q156 — rendezvous sharding
# ---------------------------------------------------------------------------


def test_hrw_monotone_growth(spark):
    """Growing 8→9 shards moves rows ONLY into the new shard — the
    HRW minimal-disruption guarantee — and both assignments partition
    the corpus (counts sum to |docs|)."""
    from nessus_client_etl_scripts_spark.plans.round6c_queries import q156

    rows = q156(spark, SF001).collect()
    n_docs = spark.read.parquet(f"{SF001}/documents.parquet").count()
    assert sum(r["n_after"] for r in rows) == n_docs
    assert sum(r["n_before"] for r in rows) == n_docs
    for r in rows:
        if r["shard"] < 8:
            assert r["moved_in"] == 0  # existing shards only lose rows
        else:
            assert r["moved_in"] == r["n_after"]  # new shard: all arrivals


def test_hrw_matches_python_argmax(spark):
    """The struct-array argmax equals a Python HRW over the same md5."""
    from nessus_client_etl_scripts_spark.plans.round6c_queries import (
        _hrw_shard,
    )

    df = spark.range(0, 64).withColumnRenamed("id", "doc_id")
    got = {
        r["doc_id"]: r["s"]
        for r in df.select("doc_id", _hrw_shard(9).alias("s")).collect()
    }
    for d in range(64):
        want = max(range(9), key=lambda s: (_u48_py(f"hrw-v1:{s}:", str(d)), -s))
        assert got[d] == want


# ---------------------------------------------------------------------------
# q157 — k-anonymity ladder
# ---------------------------------------------------------------------------


def test_k_anonymity_matches_python_replay(spark):
    """The ladder matches a row-by-row Python replay of the same
    bucketing + class-count rules, and every row lands in exactly one
    level."""
    from collections import Counter

    from nessus_client_etl_scripts_spark.plans.round6c_queries import (
        _Q157_K,
        q157,
    )

    cust = spark.read.parquet(f"{SF001}/customer.parquet").collect()
    base = [
        (
            r["c_mktsegment"],
            r["c_nationkey"],
            round(r["c_acctbal"] * 100) // 10000,
            round(r["c_acctbal"] * 100) // 100000,
        )
        for r in cust
    ]
    c0 = Counter((s, n, b0) for s, n, b0, _ in base)
    c1 = Counter((s, n, b1) for s, n, _, b1 in base)
    c2 = Counter(s for s, *_ in base)
    want: Counter = Counter()
    for s, n, b0, b1 in base:
        if c0[(s, n, b0)] >= _Q157_K:
            lvl = 0
        elif c1[(s, n, b1)] >= _Q157_K:
            lvl = 1
        elif c2[s] >= _Q157_K:
            lvl = 2
        else:
            lvl = 3
        want[(s, lvl)] += 1
    got = {
        (r["seg"], r["level"]): r["n_rows"]
        for r in q157(spark, SF001).collect()
    }
    assert got == dict(want)


# ---------------------------------------------------------------------------
# q158 — watermark lateness vs a Python replay
# ---------------------------------------------------------------------------


def test_lateness_matches_python_replay(spark):
    from nessus_client_etl_scripts_spark.catalog import load_table
    from nessus_client_etl_scripts_spark.operators.windows import (
        scalable_running_max,
    )

    ev = load_table(spark, SF001, "events").select(
        "event_id", F.col("ts").cast("long").alias("tsec")
    )
    w = scalable_running_max(
        ev.withColumn("g", F.lit(1)),
        part_col="g",
        order_cols=("event_id",),
        val_col="tsec",
        out_col="wm",
    )
    got = {r["event_id"]: r["wm"] for r in w.collect()}
    seen = None
    for eid, tsec in sorted(
        (r["event_id"], r["tsec"]) for r in ev.collect()
    ):
        assert got[eid] == seen
        seen = tsec if seen is None else max(seen, tsec)


# ---------------------------------------------------------------------------
# q153 — hash-sample mergeability
# ---------------------------------------------------------------------------


@settings(**_SET)
@given(split=st.integers(min_value=0, max_value=100))
def test_hash_sample_is_mergeable(spark, split):
    """The bottom-p hash sample of a union equals the union of the
    bottom-p samples of any partition of the data — the property that
    makes the q153 summary mergeable with zero coordination."""
    from nessus_client_etl_scripts_spark.operators.sampling import _u48
    from nessus_client_etl_scripts_spark.plans.round6c_queries import (
        _Q153_SALT,
        _Q153_THRESH,
    )

    df = spark.range(0, 101).select(F.col("id").cast("string").alias("k"))
    whole = {
        r["k"]
        for r in df.filter(
            _u48(F.col("k"), _Q153_SALT) < _Q153_THRESH
        ).collect()
    }
    left = df.filter(F.col("k").cast("long") < split)
    right = df.filter(F.col("k").cast("long") >= split)
    parts = set()
    for part in (left, right):
        parts |= {
            r["k"]
            for r in part.filter(
                _u48(F.col("k"), _Q153_SALT) < _Q153_THRESH
            ).collect()
        }
    assert parts == whole


# ---------------------------------------------------------------------------
# q155 — χ² against a driver-side reference
# ---------------------------------------------------------------------------


def test_chi2_matches_python_reference(spark):
    from nessus_client_etl_scripts_spark.plans import round6c_queries as m

    docs = [
        (0, "alpha beta beta gamma", "en"),
        (1, "alpha alpha beta delta", "en"),
        (2, "gamma gamma delta delta", "fr"),
        (3, "delta gamma gamma gamma", "fr"),
        (4, "beta beta alpha gamma", "en"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string, lang string")

    # monkey-light: run the same algebra as q155 but without the
    # min-count gates so the tiny corpus survives the filters
    from nessus_client_etl_scripts_spark.operators.text import (
        normalize_text,
        tokens,
    )

    tok = df.select("lang", F.explode(tokens(normalize_text("text"))).alias("term"))
    cell = tok.groupBy("lang", "term").agg(F.count(F.lit(1)).alias("a"))
    tt = cell.groupBy("term").agg(F.sum("a").alias("term_total"))
    lt = cell.groupBy("lang").agg(F.sum("a").alias("lang_total"))
    n = cell.agg(F.sum("a")).collect()[0][0]
    got = {}
    for r in (
        cell.join(tt, "term").join(lt, "lang").collect()
    ):
        a = r["a"]
        b = r["term_total"] - a
        c = r["lang_total"] - a
        d = n - r["term_total"] - r["lang_total"] + a
        got[(r["lang"], r["term"])] = (a, b, c, d)
    # python chi2 for one known cell
    for (lang, term), (a, b, c, d) in got.items():
        num = n * (a * d - b * c) ** 2
        den = (a + b) * (c + d) * (a + c) * (b + d)
        chi2 = num / den
        assert chi2 >= 0
    # ('fr','gamma') should dominate: gamma is 5/8 of fr tokens
    a, b, c, d = got[("fr", "gamma")]
    assert a == 5 and a * d - b * c > 0


# ---------------------------------------------------------------------------
# q154 — trigram support counting
# ---------------------------------------------------------------------------


def test_trigram_support(spark):
    from nessus_client_etl_scripts_spark.plans.round6c_queries import q154

    rows = q154(spark, SF001).collect()
    assert 0 < len(rows) <= 15
    for r in rows:
        assert r["n_occurrences"] >= r["n_users"] >= 1
        assert r["trigram"].count(">") == 2
    # ranked by support, descending (trigram breaks exact ties)
    supports = [(r["n_users"], r["n_occurrences"]) for r in rows]
    assert supports == sorted(supports, reverse=True)


# ---------------------------------------------------------------------------
# scalable_prefix_sums — multi-monoid scan vs Python reference
# ---------------------------------------------------------------------------


@settings(**_SET)
@given(
    vals=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=9),
            st.integers(min_value=-5, max_value=5),
        ),
        min_size=1,
        max_size=40,
    )
)
def test_prefix_sums_match_python(spark, vals):
    from nessus_client_etl_scripts_spark.operators.windows import (
        scalable_prefix_sums,
    )

    rows = [(i, k, v) for i, (k, v) in enumerate(vals)]
    df = spark.createDataFrame(rows, "rid long, k long, v long")
    got = {
        r["rid"]: (r["cum_one"], r["cum_v"])
        for r in scalable_prefix_sums(
            df,
            ("k", "rid"),
            ("v",),
            derive={"one": F.lit(1).cast("long")},
            num_partitions=4,
        ).collect()
    }
    c1, cv = 0, 0
    for rid, k, v in sorted(rows, key=lambda r: (r[1], r[0])):
        c1 += 1
        cv += v
        assert got[rid] == (c1, cv)


# ---------------------------------------------------------------------------
# q159 — Poisson bootstrap
# ---------------------------------------------------------------------------


def test_poisson_bootstrap_replicates(spark):
    """32 replicates, each a plausible resample: n_eff ~ n (Poisson(1)
    weights sum to ~n), means bracket the point estimate, ranks are a
    permutation of 1..32."""
    from nessus_client_etl_scripts_spark.plans.round6c_queries import q159

    rows = q159(spark, SF001).collect()
    assert len(rows) == 32
    assert sorted(r["rk"] for r in rows) == list(range(1, 33))
    ev = spark.read.parquet(f"{SF001}/events.parquet")
    n = ev.filter(F.col("event_type") == "purchase").count()
    for r in rows:
        assert 0.5 * n < r["n_eff"] < 1.5 * n
        assert r["mean_val"] * r["n_eff"] == r["tot_cents"] or abs(
            r["mean_val"] - r["tot_cents"] / r["n_eff"]
        ) < 1e-9


def test_poisson_weights_distribution(spark):
    """The hash-thresholded weights follow Poisson(1) closely over a
    large key set (mean ~1, P(0) ~ 1/e)."""
    from nessus_client_etl_scripts_spark.plans.round6c_queries import _Q159_T

    df = spark.range(0, 20000).select(
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("boot-v1:0:"), F.col("id").cast("string"))),
                1,
                12,
            ),
            16,
            10,
        )
        .cast("long")
        .alias("u")
    )
    w = (
        F.when(F.col("u") < _Q159_T[0], 0)
        .when(F.col("u") < _Q159_T[1], 1)
        .when(F.col("u") < _Q159_T[2], 2)
        .when(F.col("u") < _Q159_T[3], 3)
        .when(F.col("u") < _Q159_T[4], 4)
        .otherwise(5)
    )
    stats = df.select(w.alias("w")).agg(
        F.avg("w").alias("m"), F.avg((F.col("w") == 0).cast("int")).alias("p0")
    ).collect()[0]
    assert abs(stats["m"] - 1.0) < 0.05
    assert abs(stats["p0"] - 0.3679) < 0.02


# ---------------------------------------------------------------------------
# q160 — burst detection
# ---------------------------------------------------------------------------


def test_burst_integer_test_matches_float_z(spark):
    """The integer inequality (n·cnt−S)² > 9(nQ−S²) agrees with the
    float z > 3 test on every emitted row (when var > 0)."""
    from nessus_client_etl_scripts_spark.plans.round6c_queries import q160

    rows = q160(spark, SF001).collect()
    assert rows
    import math

    for r in rows:
        n, cnt, s, q = r["n_hist"], r["cnt"], r["s"], r["q"]
        var = (n * q - s * s) / (n * n)
        mean = s / n
        if var > 0:
            z = (cnt - mean) / math.sqrt(var)
            assert r["is_burst"] == (z > 3)
        else:
            assert r["is_burst"] == (cnt > mean)


# ---------------------------------------------------------------------------
# q161 — prefix-filter pairs vs brute force
# ---------------------------------------------------------------------------


@settings(**_SET)
@given(
    docs=st.lists(
        st.lists(
            st.sampled_from(["red", "blue", "green", "fox", "dog", "cat"]),
            min_size=3,
            max_size=12,
        ),
        min_size=2,
        max_size=10,
    )
)
def test_prefix_filter_matches_bruteforce(spark, docs):
    """PPJoin candidates + exact verify == quadratic Jaccard over
    3-shingle sets: the prefix, length and positional prunes lose no
    qualifying pair on arbitrary inputs."""
    from nessus_client_etl_scripts_spark.operators.dedup import (
        prefix_filter_pairs,
    )

    texts = [" ".join(ws) for ws in docs]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        (r["doc_a"], r["doc_b"]): r["inter"]
        for r in prefix_filter_pairs(df, threshold_pct=60, k=3).collect()
    }

    def sh(ws):
        if len(ws) <= 3:
            return {" ".join(ws)}
        return {" ".join(ws[i : i + 3]) for i in range(len(ws) - 2)}

    want = {}
    for a in range(len(docs)):
        for b in range(a + 1, len(docs)):
            sa, sb = sh(docs[a]), sh(docs[b])
            inter = len(sa & sb)
            uni = len(sa | sb)
            if 100 * inter >= 60 * uni:
                want[(a, b)] = inter
    assert got == want


def test_grouping_sets_totals(spark):
    """The () grouping-set row equals the table totals and the
    single-dimension sets sum to it."""
    from nessus_client_etl_scripts_spark.plans.round6c_queries import q162

    rows = q162(spark, SF001).collect()
    total = [r for r in rows if r["g_status"] == 1 and r["g_priority"] == 1]
    assert len(total) == 1
    by_status = [
        r for r in rows if r["g_status"] == 0 and r["g_priority"] == 1
    ]
    assert sum(r["n_orders"] for r in by_status) == total[0]["n_orders"]
    assert sum(r["total_cents"] for r in by_status) == total[0]["total_cents"]


# ---------------------------------------------------------------------------
# q163 — forward as-of vs Python replay
# ---------------------------------------------------------------------------


@settings(**_SET)
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2),   # user
            st.integers(min_value=0, max_value=20),  # ts
            st.booleans(),                           # is right-side
        ),
        min_size=1,
        max_size=16,
    )
)
def test_forward_asof_matches_python(spark, rows):
    from nessus_client_etl_scripts_spark.operators.temporal import as_of_join

    data = [(i, u, t, r) for i, (u, t, r) in enumerate(rows)]
    left = [(i, u, t) for i, u, t, r in data if not r]
    right = [(i, u, t, float(i)) for i, u, t, r in data if r]
    if not left or not right:
        return
    ldf = spark.createDataFrame(left, "lid long, u long, ts long")
    rdf = spark.createDataFrame(right, "rid long, u long, rts long, v double")
    out = as_of_join(
        ldf, rdf, on=["u"], left_ts="ts", right_ts="rts",
        right_cols=["v"], right_tiebreaker="rid", direction="forward",
    )
    got = {r["lid"]: (r["asof_ts"], r["asof_v"]) for r in out.collect()}
    for lid, u, t in left:
        cands = [(rt, rid) for rid, ru, rt, _ in right if ru == u and rt >= t]
        if not cands:
            assert got[lid] == (None, None)
        else:
            rt, rid = min(cands)  # earliest ts, then smallest id
            assert got[lid] == (rt, float(rid))


def test_gini_bounds_and_uniform_zero(spark):
    from nessus_client_etl_scripts_spark.plans.round6c_queries import q164

    for r in q164(spark, SF001).collect():
        assert 0 <= r["gini_micro"] < 1_000_000
    # uniform values => gini exactly (n+1)/n - (n+1)/n = ... == 0? For
    # identical y: 2*sum(i*y) = 2*y*n(n+1)/2 = y*n*(n+1) and
    # (n+1)*sum y = (n+1)*n*y -> numerator 0 exactly
    from nessus_client_etl_scripts_spark.operators.windows import (
        scalable_row_number,
    )

    df = spark.range(0, 50).select(
        F.lit("g").alias("prio"), F.lit(700).alias("cents"), F.col("id").alias("k")
    )
    ranked = scalable_row_number(df, ("prio", "cents", "k"), out_col="i")
    mom = ranked.groupBy("prio").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cents").alias("sy"),
        F.sum(F.col("i") * F.col("cents")).alias("siy"),
    ).collect()[0]
    assert 2 * mom["siy"] - (mom["n"] + 1) * mom["sy"] == 0


def test_merkle_diff_finds_exactly_planted_changes(spark):
    from nessus_client_etl_scripts_spark.operators.sampling import _u48
    from nessus_client_etl_scripts_spark.plans.round6c_queries import (
        _Q166_MOD_THRESH,
        q166,
    )

    rows = q166(spark, SF001).collect()
    orders = spark.read.parquet(f"{SF001}/orders.parquet")
    planted = orders.filter(
        _u48(F.col("o_orderkey"), "mod-v1") < _Q166_MOD_THRESH
    ).count()
    assert sum(r["n_changed"] for r in rows) == planted
    for r in rows:
        assert r["n_changed"] >= 1  # every emitted bucket is truly dirty


def test_q153_targets_skip_empty_sample_groups():
    """A flag whose rows all fall outside the hash sample must emit NO
    sample targets: its ceil-rank would otherwise collapse onto the
    previous flag's last cumulative position and join a foreign row
    (review finding, round 6 — preserved across the r13 driver-side
    target derivation). Offsets must also SKIP the empty flag (N
    contributes nothing to the sample running sum)."""
    from nessus_client_etl_scripts_spark.plans.round6c_queries import (
        _q153_target_rows,
    )

    crows = [
        {"flag": "R", "n": 9, "ns": 7},  # unsorted on purpose — the
        {"flag": "A", "n": 12, "ns": 10},  # helper must sort by flag
        {"flag": "N", "n": 5, "ns": 0},
    ]
    full_t, samp_t = _q153_target_rows(crows)
    assert {t[0] for t in samp_t} == {"A", "R"}
    assert len(samp_t) == 8  # 4 quantile targets per surviving flag
    assert len(full_t) == 12  # every flag present in the full branch
    # sample offsets: A spans sample positions 1..10, N adds nothing,
    # so R's q=25 target is 10 + ceil(25*7/100) = 12
    assert ("R", 25, 12, 7) in samp_t
    # full offsets: A(12) then N(5) precede R -> 17 + ceil(25*9/100)
    assert ("R", 25, 20, 9) in full_t


def test_leakage_safe_split_no_straddle(spark):
    """Every verified near-dup pair lands in ONE split — the guarantee
    the cluster-keyed assignment exists for — and split fractions are
    roughly the declared weights over clusters."""
    from nessus_client_etl_scripts_spark.operators.dedup import (
        minhash_lsh_candidates,
        verify_pairs_jaccard,
    )
    from nessus_client_etl_scripts_spark.plans.round6c_queries import (
        _Q167_TAU,
        q167,
    )

    out = q167(spark, SF001).collect()
    split_of = {r["doc_id"]: r["split"] for r in out}
    docs = spark.read.parquet(f"{SF001}/documents.parquet")
    cand = minhash_lsh_candidates(
        docs, num_hashes=64, bands=16, k=3
    )
    pairs = verify_pairs_jaccard(
        docs, cand, k=3, threshold=_Q167_TAU
    ).collect()
    for p in pairs:
        assert split_of[p["doc_a"]] == split_of[p["doc_b"]]
    # members of one cluster agree on size and split
    by_cluster = {}
    for r in out:
        by_cluster.setdefault(r["cluster_id"], set()).add(
            (r["split"], r["cluster_size"])
        )
    assert all(len(v) == 1 for v in by_cluster.values())


def test_bigram_lm_score_bounds_and_counts(spark):
    """Mean smoothed probability lies in (0, 1e6]; n_bigrams is
    token_count-1 for every multi-token doc."""
    from nessus_client_etl_scripts_spark.plans.round6c_queries import q168

    out = {r["doc_id"]: r for r in q168(spark, SF001).collect()}
    docs = spark.read.parquet(f"{SF001}/documents.parquet").collect()
    import re

    for d in docs:
        toks = re.sub(r"\s+", " ", d["text"].strip().lower()).split(" ")
        r = out[d["doc_id"]]
        assert r["n_bigrams"] == max(len(toks) - 1, 0)
        if r["n_bigrams"]:
            assert 0 < r["mean_prob_micro"] <= 1_000_000
            assert r["mean_prob_micro"] == r["sum_prob_micro"] // r["n_bigrams"]


def test_dsir_importance_reconstruction(spark):
    """imp_micro equals the hand-computed Σ c_b · r_b for every doc —
    the bucket histogram, ratio table, and weighting all agree with a
    direct Python reimplementation."""
    import hashlib
    import re
    from collections import Counter

    from nessus_client_etl_scripts_spark.plans.round6c_queries import (
        _Q169_B,
        _Q169_SALT,
        q169,
    )

    def bucket(w):
        h = hashlib.md5((_Q169_SALT + w).encode()).hexdigest()[:12]
        return int(h, 16) % _Q169_B

    docs = spark.read.parquet(f"{SF001}/documents.parquet").collect()
    src, tgt = Counter(), Counter()
    per_doc = {}
    for d in docs:
        toks = re.sub(r"\s+", " ", d["text"].strip().lower()).split(" ")
        bs = [bucket(w) for w in toks]
        per_doc[d["doc_id"]] = Counter(bs)
        src.update(bs)
        if d["lang"] == "en":
            tgt.update(bs)
    n_s, n_t = sum(src.values()), sum(tgt.values())
    r = {
        b: round(
            1e6 * ((tgt[b] + 1) * (n_s + _Q169_B))
            / ((src[b] + 1) * (n_t + _Q169_B))
        )
        for b in src
    }
    for row in q169(spark, SF001).collect():
        c = per_doc[row["doc_id"]]
        imp = sum(cnt * r[b] for b, cnt in c.items())
        assert row["imp_micro"] == imp
        assert row["n_tokens"] == sum(c.values())
        assert row["selected"] == (imp // sum(c.values()) >= 1_000_000)


def test_interval_overlap_join_matches_bruteforce(spark):
    """The bucketed+claimed self-join emits exactly the quadratic
    truth: every overlapping cross-user session pair once, none
    twice, with the exact overlap length."""
    from nessus_client_etl_scripts_spark.plans.round6c_queries import q170

    got = {
        (r["user_a"], r["session_a"], r["user_b"], r["session_b"]): r[
            "overlap_us"
        ]
        for r in q170(spark, SF001).collect()
    }
    # brute force from the same sessionization (driver-side)
    ev = sorted(
        spark.read.parquet(f"{SF001}/events.parquet").collect(),
        key=lambda r: (r["user_id"], r["ts"], r["event_id"]),
    )
    iv = {}
    last, sid = {}, {}
    for r in ev:
        u, t = r["user_id"], r["ts"]
        import calendar

        us = calendar.timegm(t.timetuple()) * 1_000_000 + t.microsecond
        if u not in last or us - last[u] > 1_800_000_000:
            sid[u] = sid.get(u, 0) + 1
        last[u] = us
        key = (u, sid[u])
        s, e, n = iv.get(key, (us, us, 0))
        iv[key] = (min(s, us), max(e, us), n + 1)
    multi = {k: v for k, v in iv.items() if v[2] >= 2}
    want = {}
    ks = sorted(multi)
    for i, ka in enumerate(ks):
        for kb in ks[i + 1:]:
            if ka[0] == kb[0]:
                continue
            (sa, ea, _), (sb, eb, _) = multi[ka], multi[kb]
            if sa <= eb and sb <= ea:
                a, b = (ka, kb) if ka[0] < kb[0] else (kb, ka)
                want[(a[0], a[1], b[0], b[1])] = min(ea, eb) - max(
                    multi[a][0], multi[b][0]
                )
    assert got == want


def test_delta_join_view_self_proves(spark):
    """The incremental state+delta composition reproduces the full
    recompute exactly (decimal equality, not float closeness)."""
    from nessus_client_etl_scripts_spark.plans.round6c_queries import q171

    rows = q171(spark, SF001).collect()
    assert len(rows) == 5
    for r in rows:
        assert r["matches"] is True
        assert r["n_full"] == r["n_inc"]
        assert r["rev_full"] == r["rev_inc"]


def test_expectation_audit_clean_and_dirty(spark):
    """All six constraints pass on the generated TPC-H data; planted
    violations are counted exactly."""
    from nessus_client_etl_scripts_spark.operators.expectations import (
        row_expectations,
        subset_expectation,
        unique_expectation,
    )
    from nessus_client_etl_scripts_spark.plans.round6c_queries import q172

    audit = {r["constraint"]: r for r in q172(spark, SF001).collect()}
    assert len(audit) == 6
    assert all(r["passed"] for r in audit.values())
    assert all(r["n_violations"] == 0 for r in audit.values())

    dirty = spark.createDataFrame(
        [(1, None), (2, "x"), (2, "y"), (3, "z")], ["k", "v"]
    )
    from pyspark.sql import functions as F

    rows = {
        r["constraint"]: r
        for r in row_expectations(dirty, {"v_null": F.col("v").isNull()})
        .unionByName(unique_expectation(dirty, "k", "k_unique"))
        .unionByName(
            subset_expectation(
                dirty,
                "k",
                spark.createDataFrame([(1,), (2,)], ["p"]),
                "p",
                "k_in_parent",
            )
        )
        .collect()
    }
    assert rows["v_null"]["n_violations"] == 1 and not rows["v_null"]["passed"]
    assert rows["k_unique"]["n_violations"] == 1  # 4 rows, 3 keys
    assert rows["k_in_parent"]["n_violations"] == 1  # k=3 orphan


def test_rank_overlap_curve_invariants(spark):
    """overlap_d and rbo_pico are nondecreasing in d; each term equals
    the hand-computed round(1e12·overlap/(d·2^d)); overlap never
    exceeds d."""
    from nessus_client_etl_scripts_spark.plans.round6c_queries import q173

    rows = sorted(q173(spark, SF001).collect(), key=lambda r: r["d"])
    assert [r["d"] for r in rows] == list(range(1, 21))
    prev_ov, prev_rbo, cum = -1, -1, 0
    for r in rows:
        assert 0 <= r["overlap_d"] <= r["d"]
        assert r["overlap_d"] >= prev_ov
        expected = round(1e12 * r["overlap_d"] / (r["d"] * (1 << r["d"])))
        assert r["term_pico"] == expected
        cum += r["term_pico"]
        assert r["rbo_pico"] == cum
        assert r["rbo_pico"] >= prev_rbo
        prev_ov, prev_rbo = r["overlap_d"], r["rbo_pico"]


def test_fd_audit_known_truths(spark):
    """Key-borne FDs hold; the customer→priority and lang→source FDs
    are genuinely violated with sensible worst-case variant counts."""
    from nessus_client_etl_scripts_spark.plans.round6c_queries import q174

    rows = {r["fd"]: r for r in q174(spark, SF001).collect()}
    assert rows["orders.orderkey->priority"]["holds"] is True
    assert rows["orders.orderkey->priority"]["max_variants"] == 1
    assert rows["customer.custkey->segment"]["holds"] is True
    assert rows["orders.custkey->priority"]["holds"] is False
    assert rows["orders.custkey->priority"]["n_violating"] > 0
    assert rows["documents.lang->source"]["holds"] is False
    assert rows["documents.lang->source"]["max_variants"] > 1


def test_blocking_quality_counts_consistent(spark):
    """The two metrics recompute from the counts; caught is bounded by
    both candidate and truth set sizes; the lang-blocked window
    misses the cross-language near-dups (completeness < 1)."""
    from nessus_client_etl_scripts_spark.plans.round6c_queries import q175

    r = q175(spark, SF001).collect()[0]
    assert r["n_possible"] == r["n_docs"] * (r["n_docs"] - 1) // 2
    assert r["n_caught"] <= min(r["n_candidates"], r["n_true"])
    assert 0 < r["n_true"]
    assert r["reduction_micro"] == round(
        1e6 * (r["n_possible"] - r["n_candidates"]) / r["n_possible"]
    )
    assert r["completeness_micro"] == round(
        1e6 * r["n_caught"] / r["n_true"]
    )
    assert r["completeness_micro"] < 1_000_000  # cross-lang dups missed


def test_kcenter_matches_python_greedy(spark):
    """The distributed greedy selection + assignment equals an exact
    integer-arithmetic Python replay: same centers in the same order,
    same nearest-center assignment, same distances."""
    import math

    from nessus_client_etl_scripts_spark.plans.round6c_queries import (
        _Q176_K,
        _Q176_SCALE,
        q176,
    )

    emb = spark.read.parquet(f"{SF001}/embeddings.parquet").collect()
    vq = {
        r["vec_id"]: [int(math.floor(x * _Q176_SCALE)) for x in r["embedding"]]
        for r in emb
    }

    def d2(a, b):
        return sum((x - y) ** 2 for x, y in zip(a, b))

    ids = sorted(vq)
    centers = [ids[0]]
    for _ in range(_Q176_K - 1):
        far = max(
            ids,
            key=lambda i: (min(d2(vq[i], vq[c]) for c in centers), -i),
        )
        centers.append(far)
    want = {}
    for i in ids:
        dists = [(d2(vq[i], vq[c]), ci) for ci, c in enumerate(centers)]
        dm, ci = min(dists)
        want[i] = (centers[ci], dm)
    got = {
        r["vec_id"]: (r["center_id"], r["d2"])
        for r in q176(spark, SF001).collect()
    }
    assert got == want
