"""Unit tests for the engine-portable HLL sketch and the deterministic
sampling/split operators (the oracle harness checks their declared
queries cross-engine; these pin accuracy and invariants on controlled
inputs)."""

import pyspark.sql.functions as F

from nessus_client_etl_scripts_spark.operators.sampling import (
    group_sample,
    hash_split,
    split_thresholds,
)
from nessus_client_etl_scripts_spark.operators.sketches import (
    M,
    hll_distinct,
)


def test_hll_estimate_accuracy(spark):
    """Raw HLL with m=512 ≈ 4.6% standard error; at cardinality 3000
    (above the 2.5m small-range regime) demand < 15% (3σ)."""
    df = spark.range(6000).select(
        F.lit("g").alias("g"),
        F.concat(F.lit("v"), (F.col("id") % 3000).cast("string")).alias("v"),
    )
    row = hll_distinct(df, ["g"], "v").collect()[0]
    assert row["n_rows"] == 6000
    assert abs(row["approx_distinct"] - 3000) / 3000 < 0.15


def test_hll_nulls_excluded_but_counted(spark):
    df = spark.createDataFrame(
        [("g", "a"), ("g", "b"), ("g", None)], ["g", "v"]
    )
    raw = hll_distinct(df, ["g"], "v").collect()[0]
    assert raw["n_rows"] == 3
    # raw HLL sits at its alpha·m floor (~369 for m=512) at tiny
    # cardinality — that bias is what linear counting would remove
    assert 350 < raw["approx_distinct"] < 390


def test_split_thresholds_cover_space():
    b = split_thresholds({"train": 0.8, "val": 0.1, "test": 0.1})
    assert b[-1][1] == 1 << 48  # no unassigned sliver
    assert [n for n, _ in b] == ["train", "val", "test"]


def test_hash_split_deterministic_and_proportional(spark):
    df = spark.range(5000).select(F.col("id").alias("doc_id"))
    w = {"train": 0.8, "val": 0.1, "test": 0.1}
    counts = {
        r["split"]: r["n"]
        for r in hash_split(df, w)
        .groupBy("split")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert set(counts) == {"train", "val", "test"}
    assert abs(counts["train"] / 5000 - 0.8) < 0.05
    # identical assignment on re-run (stability is the whole point)
    again = {
        r["split"]: r["n"]
        for r in hash_split(df, w)
        .groupBy("split")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert counts == again


def test_group_sample_k_per_group_reproducible(spark):
    df = spark.range(300).select(
        (F.col("id") % 3).cast("string").alias("g"),
        F.col("id").alias("doc_id"),
    )
    s1 = group_sample(df, "g", k=7)
    rows = s1.collect()
    per_group = {}
    for r in rows:
        per_group.setdefault(r["g"], set()).add(r["doc_id"])
    assert all(len(v) == 7 for v in per_group.values())
    s2 = {(r["g"], r["doc_id"]) for r in group_sample(df, "g", k=7).collect()}
    assert {(r["g"], r["doc_id"]) for r in rows} == s2


def test_hll_register_count_constant():
    assert M == 512


def test_pack_sequences_greedy_semantics(spark):
    from nessus_client_etl_scripts_spark.operators.packing import (
        pack_sequences,
    )

    rows = [
        ("s", 1, "a b c"),        # 3 tokens
        ("s", 2, "d e f g"),      # 4 → 3+4=7 > 6 → new bin
        ("s", 3, "h i"),          # 2 → 4+2=6 ≤ 6 → same bin
        ("s", 4, " ".join("x" * 1 for _ in range(9))),  # 9 > budget → own bin
        ("s", 5, "y"),            # fill 9 > budget → new bin
        ("t", 6, "z"),            # separate group restarts at 0
    ]
    df = spark.createDataFrame(rows, ["source", "doc_id", "text"])
    got = {
        r["doc_id"]: (r["bin_id"], r["n_tokens"])
        for r in pack_sequences(df, budget=6).collect()
    }
    assert got == {
        1: (0, 3),
        2: (1, 4),
        3: (1, 2),
        4: (2, 9),
        5: (3, 1),
        6: (0, 1),
    }


def test_connected_components_min_label(spark):
    from nessus_client_etl_scripts_spark.operators.graph import _cc_with_rounds

    # two components: a 7-chain (exercises multi-round contraction and
    # the localCheckpoint path) and one isolated edge
    edges = [(i, i + 1) for i in range(1, 7)] + [(10, 11)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    for algo in ("star", "propagation"):
        got = {
            r["id"]: r["cluster_id"]
            for r in _cc_with_rounds(df, "src", "dst", 20, algo)[0].collect()
        }
        assert got == {**{i: 1 for i in range(1, 8)}, 10: 10, 11: 10}, algo


def test_connected_components_star_fast_on_planted_star(spark):
    """A planted dup-cluster star (the shape boilerplate-heavy corpora
    produce): alternating star contraction converges in ~2 rounds
    REGARDLESS of cluster size; label propagation needs an extra round
    for every hop the min label travels."""
    from nessus_client_etl_scripts_spark.operators.graph import _cc_with_rounds

    # star centered at the HIGHEST id (worst case for the min label:
    # it must travel leaf -> center -> every other leaf), plus the min
    # vertex hanging one hop off a leaf to add distance-3 paths
    center = 500
    edges = [(center, leaf) for leaf in range(2, 60)] + [(1, 2)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    star_labels, star_rounds = _cc_with_rounds(
        df, "src", "dst", 20, "star", driver_finish=0
    )  # force the distributed rounds — this test pins the contraction
    prop_labels, prop_rounds = _cc_with_rounds(df, "src", "dst", 20, "propagation")
    want = {r["id"]: r["cluster_id"] for r in prop_labels.collect()}
    got = {r["id"]: r["cluster_id"] for r in star_labels.collect()}
    assert got == want
    assert set(got.values()) == {1}
    assert star_rounds <= 3
    assert star_rounds < prop_rounds


def test_connected_components_star_log_rounds_on_path(spark):
    """A 33-node path — worst case for propagation (rounds = diameter);
    star contraction halves path lengths per round (O(log n))."""
    from nessus_client_etl_scripts_spark.operators.graph import _cc_with_rounds

    edges = [(i, i + 1) for i in range(1, 33)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    labels, rounds = _cc_with_rounds(
        df, "src", "dst", 40, "star", driver_finish=0
    )
    got = {r["id"]: r["cluster_id"] for r in labels.collect()}
    assert got == {i: 1 for i in range(1, 34)}
    assert rounds <= 8  # log-ish, far under the 32-round diameter


def test_mixture_resample_copies_and_determinism(spark):
    from nessus_client_etl_scripts_spark.operators.sampling import (
        mixture_resample,
    )

    rows = [(i, "en" if i % 2 else "zh") for i in range(1, 101)]
    df = spark.createDataFrame(rows, ["doc_id", "lang"])
    out = mixture_resample(df, {"en": 2.5, "zh": 0.5}, group_col="lang")
    got = out.groupBy("doc_id", "lang", "n_copies").count().collect()
    for r in got:
        # copy_id expansion matches the declared count exactly
        assert r["count"] == r["n_copies"]
        if r["lang"] == "en":
            assert r["n_copies"] in (2, 3)  # floor(2.5) + {0,1}
        else:
            assert r["n_copies"] == 1  # zh rows that survived the 0.5 coin
    # zh downsampling dropped some rows entirely
    zh_kept = {r["doc_id"] for r in got if r["lang"] == "zh"}
    assert 0 < len(zh_kept) < 50
    # determinism: second run identical
    again = mixture_resample(df, {"en": 2.5, "zh": 0.5}, group_col="lang")
    assert sorted(map(tuple, out.collect())) == sorted(
        map(tuple, again.collect())
    )


def test_novel_documents_anti_join(spark):
    from nessus_client_etl_scripts_spark.operators.dedup import (
        novel_documents,
    )

    existing = spark.createDataFrame(
        [(1, "alpha beta"), (2, "gamma  delta")], ["doc_id", "text"]
    )
    incoming = spark.createDataFrame(
        [
            (10, "ALPHA   beta"),  # normalizes to a seen fingerprint
            (11, "gamma delta"),  # whitespace-normalized duplicate
            (12, "epsilon zeta"),  # novel
        ],
        ["doc_id", "text"],
    )
    got = {r["doc_id"] for r in novel_documents(incoming, existing).collect()}
    assert got == {12}


def test_verify_pairs_jaccard_exact_values(spark):
    from nessus_client_etl_scripts_spark.operators.dedup import (
        verify_pairs_jaccard,
    )

    docs = spark.createDataFrame(
        [
            (1, "a b c d e"),     # shingles: {a b c, b c d, c d e}
            (2, "a b c d x"),     # shares {a b c, b c d} -> J = 2/4
            (3, "p q r s t"),     # disjoint
        ],
        ["doc_id", "text"],
    )
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3)], ["doc_a", "doc_b"]
    )
    got = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in verify_pairs_jaccard(docs, pairs, threshold=0.1).collect()
    }
    assert got == {(1, 2): 0.5}


def test_exact_dedup_idempotent_and_doubling(spark):
    from nessus_client_etl_scripts_spark.operators.dedup import exact_dedup

    rows = [(i, f"text {i % 10}") for i in range(1, 41)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    once = {
        r["keep_id"]: r["dup_count"] for r in exact_dedup(df).collect()
    }
    # 10 distinct texts, keeper = min id, 4 copies each
    assert len(once) == 10 and all(c == 4 for c in once.values())
    doubled = {
        r["keep_id"]: r["dup_count"]
        for r in exact_dedup(df.union(df)).collect()
    }
    # union with itself: same keepers, doubled counts
    assert doubled == {k: c * 2 for k, c in once.items()}


from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    edges=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=30),
            st.integers(min_value=0, max_value=30),
        ),
        min_size=1,
        max_size=40,
    )
)
def test_connected_components_star_equals_propagation(spark, edges):
    """Differential property: on ARBITRARY graphs (self-loops, dup
    edges, multiple components, any shape) the star-contraction and
    label-propagation algorithms must produce identical labelings, and
    both must agree with a driver-side union-find ground truth."""
    from nessus_client_etl_scripts_spark.operators.graph import _cc_with_rounds

    df = spark.createDataFrame(edges, ["src", "dst"])
    star = {
        r["id"]: r["cluster_id"]
        for r in _cc_with_rounds(df, "src", "dst", 40, "star")[0].collect()
    }
    prop = {
        r["id"]: r["cluster_id"]
        for r in _cc_with_rounds(df, "src", "dst", 40, "propagation")[0].collect()
    }

    # ground truth: union-find on the driver
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    truth_nodes = {v for e in edges for v in e if e[0] != e[1]} | {
        v for e in edges for v in e
    }
    truth = {}
    for v in truth_nodes:
        # canonical label = min node id in the component
        comp = [u for u in truth_nodes if find(u) == find(v)]
        truth[v] = min(comp)

    # both algorithms label EVERY vertex of the raw edge set, including
    # vertices that appear only in self-loop edges (they label
    # themselves) — exact key-set equality, no defaulting
    assert set(star) == set(prop) == truth_nodes, (
        set(star) ^ truth_nodes,
        set(prop) ^ truth_nodes,
    )
    for v in truth_nodes:
        assert star[v] == prop[v] == truth[v], (v, star[v], prop[v], truth[v])


def test_connected_components_materializes_upstream_once(spark):
    """The edge pipeline feeding CC (LSH candidates + verify — the
    dominant cost at scale) must execute exactly ONCE: the star
    algorithm canonicalizes-with-self-loops and checkpoints BEFORE
    deriving the working edge set and the node set, so neither derives
    from the raw (un-materialized) frame. Counted via an accumulator
    inside the upstream — a second execution would double it."""
    from nessus_client_etl_scripts_spark.operators.graph import (
        connected_components,
    )

    acc = spark.sparkContext.accumulator(0)

    def _count(it):
        for pdf in it:
            acc.add(len(pdf))
            yield pdf

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (4, 5), (6, 6)], ["src", "dst"]
    )
    slow_upstream = edges.mapInPandas(_count, schema=edges.schema)
    labels = {
        (r.id, r.cluster_id)
        for r in connected_components(slow_upstream, "src", "dst").collect()
    }
    assert labels == {(1, 1), (2, 1), (3, 1), (4, 4), (5, 4), (6, 6)}
    assert acc.value == 4  # one pass over the 4 edge rows, not two


def test_count_min_never_underestimates(spark):
    """CM guarantees cm_estimate >= true count for every queried item,
    and equals it when the item's cells are collision-free. Tiny width
    forces collisions over a 40-item universe."""
    from nessus_client_etl_scripts_spark.operators.sketches import (
        count_min_estimates,
    )

    rows = [(f"item{i % 40}",) for i in range(2000)]
    items = spark.createDataFrame(rows, ["v"])
    queries = items.select("v").distinct()
    est = {
        r["v"]: r["cm_estimate"]
        for r in count_min_estimates(
            items, "v", queries, depth=4, width=8
        ).collect()
    }
    exact = {f"item{i}": len([r for r in rows if r[0] == f"item{i}"]) for i in range(40)}
    assert set(est) == set(exact)
    assert all(est[k] >= exact[k] for k in exact), (est, exact)
    assert any(est[k] > exact[k] for k in exact)  # collisions happened


def test_connected_components_driver_finish_equals_distributed(spark):
    """Small edge sets take the driver union-find (0 rounds); labels
    must be identical to the distributed star contraction, including
    self-loop-only vertices."""
    from nessus_client_etl_scripts_spark.operators.graph import _cc_with_rounds

    edges = [(i, i + 1) for i in range(1, 20)] + [
        (100, 101),
        (30, 30),
        (500, 31),
    ]
    df = spark.createDataFrame(edges, ["src", "dst"])
    fast, fast_rounds = _cc_with_rounds(df, "src", "dst", 40, "star")
    slow, slow_rounds = _cc_with_rounds(
        df, "src", "dst", 40, "star", driver_finish=0
    )
    assert fast_rounds == 0 and slow_rounds > 0
    assert {(r.id, r.cluster_id) for r in fast.collect()} == {
        (r.id, r.cluster_id) for r in slow.collect()
    }
