"""Connected components — the cluster-formation step of near-dedup.

Pairwise similarity (q26/q28/q38) only yields EDGES; to actually drop
duplicates a pipeline needs components ("this group of documents is one
cluster; keep the canonical member"). Two algorithms, one contract —
every vertex labeled with the smallest vertex id in its component:

- ``algorithm="star"`` (default): alternating large-star/small-star
  contraction (Kiveris et al., "Connected Components in MapReduce and
  Beyond"). Each phase is one join (edges ⋈ per-node neighborhood min)
  + one distinct — hash-partitioned on vertex id. Round count is
  O(log diameter): a path of 2^k nodes needs ~k rounds, and the
  star-shaped dup clusters boilerplate-heavy corpora actually produce
  collapse in ~2 rounds REGARDLESS of cluster size.
- ``algorithm="propagation"``: min-label propagation
  (label(v) ← min(label(v), neighbors' labels) to fixpoint). One join
  + one groupBy-min per round, but round count equals the component
  DIAMETER — kept for its simplicity and as the differential-test twin.

Scale notes:
- Both phases/rounds shuffle only (vertex, vertex) pairs; the edge set
  never grows beyond the input size in the star algorithm (each phase
  emits at most one edge per input edge, then dedupes).
- State is ``localCheckpoint``ed EVERY round. This is not optional
  hygiene: the round's plan references its predecessor several times
  (phase join, convergence anti-join), so the un-truncated logical
  plan grows geometrically and Catalyst ANALYSIS — pure driver-side
  work — dominates by round 3 (measured 83 s/round at sf0.1 with
  truncation every 5 rounds; ~0.3 s/round truncating eagerly).
- Convergence checks are cheap jobs over (vertex, vertex) pairs only:
  the star variant stops when the canonical edge set is unchanged
  (count equality + one limit-1 anti-join probe), propagation when no
  label changed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..pins import pin as _pin, pin_lazy as _pin_lazy

# Edge sets at or below this size finish with a driver-side union-find
# instead of distributed contraction rounds. Each star round costs 4-6
# shuffle+checkpoint stages of pure scheduling; on the sparse verified
# similarity graphs that reach this operator (10²-10⁴ edges after LSH
# verify / density filtering) the driver finish replaces ~6 rounds ×
# ~0.9 s with one bounded collect (≤ 100k × 16 B = 1.6 MB — the same
# "bounded small state" class as partition stats). Above the bound the
# O(log d) contraction runs untouched — at 100 TB a billion-edge graph
# never collects.
DRIVER_FINISH_EDGES = 100_000


def connected_components(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    max_iter: int = 20,
    algorithm: str = "star",
    driver_finish: int = DRIVER_FINISH_EDGES,
) -> DataFrame:
    """(id, cluster_id) for every vertex of the undirected edge set;
    ``cluster_id`` is the minimum vertex id in the component."""
    labels, _rounds = _cc_with_rounds(
        edges, src_col, dst_col, max_iter, algorithm, driver_finish
    )
    return labels


def _cc_with_rounds(
    edges: DataFrame,
    src_col: str,
    dst_col: str,
    max_iter: int,
    algorithm: str,
    driver_finish: int = DRIVER_FINISH_EDGES,
) -> tuple[DataFrame, int]:
    """Internal: also returns the number of rounds run (the convergence
    anchor the planted-fixture tests assert on; the driver finish
    reports 0 rounds — pass ``driver_finish=0`` to force the
    distributed path)."""
    if algorithm == "star":
        return _cc_star(edges, src_col, dst_col, max_iter, driver_finish)
    if algorithm == "propagation":
        return _cc_propagation(edges, src_col, dst_col, max_iter)
    raise ValueError(f"algorithm must be 'star' or 'propagation': {algorithm}")


def _cc_driver_union_find(base: DataFrame) -> DataFrame:
    """Min-root union-find over a COLLECTED canonical edge frame —
    the small-graph finish. Labels match the distributed contract
    exactly: every vertex of the edge set, cluster_id = component
    min."""
    from pyspark.sql import types as T

    rows = base.collect()
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for r in rows:
        lo, hi = r["lo"], r["hi"]
        for v in (lo, hi):
            if v not in parent:
                parent[v] = v
        ra, rb = find(lo), find(hi)
        if ra != rb:
            # min root wins so the final label IS the component min
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra
    labels = [(v, find(v)) for v in parent]
    id_type = base.schema["lo"].dataType
    schema = T.StructType(
        [
            T.StructField("id", id_type),
            T.StructField("cluster_id", id_type),
        ]
    )
    return base.sparkSession.createDataFrame(labels, schema)


def _neighborhood_min(sym: DataFrame) -> DataFrame:
    """(node, m): m = min(node ∪ neighbors) from a symmetric edge
    frame with columns (node, nbr)."""
    return sym.groupBy("node").agg(
        F.least(F.col("node"), F.min("nbr")).alias("m")
    )


def _cc_star(
    edges: DataFrame,
    src_col: str,
    dst_col: str,
    max_iter: int,
    driver_finish: int = DRIVER_FINISH_EDGES,
) -> tuple[DataFrame, int]:
    # ONE materialization of the upstream edge pipeline: canonicalize
    # WITH self-loops kept, checkpoint, then derive both the working
    # edge set (self-loops filtered — cheap over the checkpointed rdd)
    # and the node set from it. The node set must see self-loop-only
    # vertices (a (v, v)-only vertex still gets its label row — the
    # "every vertex of the undirected edge set" contract, matching
    # _cc_propagation), but deriving nodes from the RAW frame would
    # re-execute the whole upstream pair generation a second time —
    # for the dedup pipelines that feed this operator (LSH candidates,
    # exact-Jaccard verify) that upstream is the dominant cost
    # (measured +2.3 s on q55 at sf0.1 when nodes re-ran it).
    a, b = F.col(src_col), F.col(dst_col)
    base = (
        edges.select(F.least(a, b).alias("lo"), F.greatest(a, b).alias("hi"))
        .distinct()
        # lazy: the n_edges count below is the materializing action —
        # a full scan, so the checkpoint completes in that same job
        # (one job instead of a dedicated materialize + a count)
        .transform(_pin_lazy)
    )
    n_edges = base.count()
    if n_edges <= driver_finish:
        return _cc_driver_union_find(base), 0
    return _cc_star_rounds(base, max_iter)


def _cc_star_rounds(base: DataFrame, max_iter: int) -> tuple[DataFrame, int]:
    # lazy checkpoints (the windows.py merge rule): cur materializes in
    # its n_cur count below; nodes is not consumed until the final
    # labels job after the loop, so its materialization folds into that
    # job — two fewer barrier jobs per CC call, same cached frames.
    cur = base.filter(F.col("lo") != F.col("hi")).transform(_pin_lazy)
    nodes = (
        base.select(F.col("lo").alias("id"))
        .union(base.select(F.col("hi").alias("id")))
        .distinct()
        .transform(_pin_lazy)
    )
    rounds = 0
    n_cur = cur.count()
    for _ in range(max_iter):
        rounds += 1
        # LARGE-STAR: center u, m = min(Γ(u) ∪ {u}); emit (v, m) for
        # every neighbor v > u. In canonical form each edge (lo, hi)
        # emits exactly (hi, m(lo)); m ≤ lo < hi so no self-loops.
        sym = cur.select(
            F.col("lo").alias("node"), F.col("hi").alias("nbr")
        ).union(cur.select(F.col("hi").alias("node"), F.col("lo").alias("nbr")))
        large = (
            cur.join(
                _neighborhood_min(sym).withColumnRenamed("node", "lo"), "lo"
            )
            .select(F.col("m").alias("lo"), F.col("hi").alias("hi"))
            .distinct()
            .transform(_pin)
        )
        # SMALL-STAR: center u over its SMALLER neighbors N⁻(u),
        # m = min(N⁻(u)); emit (v, m) for v ∈ N⁻(u) \ {m} and (u, m).
        # Directed larger→smaller is exactly (hi → lo) in canonical
        # form, so m(hi) = min of its lo-side neighbors.
        small_m = large.groupBy("hi").agg(F.min("lo").alias("m"))
        nxt = (
            large.join(small_m, "hi")
            .select(F.col("m").alias("lo"), F.col("lo").alias("hi"))
            .filter(F.col("lo") != F.col("hi"))
            .union(small_m.select(F.col("m").alias("lo"), F.col("hi")))
            .distinct()
            # lazy: the n_nxt count right below materializes it (full
            # scan) — one job per round instead of two. `large` stays
            # EAGER: it is consumed twice inside one job (small_m
            # aggregate + join probe side), and two concurrent AQE
            # stages over an uncached lazy checkpoint would each
            # compute it.
            .transform(_pin_lazy)
        )
        n_nxt = nxt.count()
        if n_nxt == n_cur:
            diff = (
                nxt.join(cur, ["lo", "hi"], "left_anti").limit(1).count()
            )
            if diff == 0:
                cur = nxt
                break
        cur, n_cur = nxt, n_nxt
    # At convergence edges are (component_min, v) stars; a vertex's
    # label is min(self ∪ neighbors). Isolated-from-contraction roots
    # are covered by the (id, id) union.
    neigh = cur.select(F.col("hi").alias("id"), F.col("lo").alias("lbl")).union(
        cur.select(F.col("lo").alias("id"), F.col("lo").alias("lbl"))
    )
    labels = (
        nodes.select("id", F.col("id").alias("lbl"))
        .union(neigh)
        .groupBy("id")
        .agg(F.min("lbl").alias("cluster_id"))
    )
    return labels, rounds


def _cc_propagation(
    edges: DataFrame, src_col: str, dst_col: str, max_iter: int
) -> tuple[DataFrame, int]:
    sym = (
        edges.select(F.col(src_col).alias("a"), F.col(dst_col).alias("b"))
        .union(edges.select(F.col(dst_col).alias("a"), F.col(src_col).alias("b")))
        .distinct()
        .persist()
    )
    labels = (
        sym.select(F.col("a").alias("id"))
        .distinct()
        .withColumn("label", F.col("id"))
        .transform(_pin)
    )
    rounds = 0
    for _ in range(max_iter):
        rounds += 1
        # neighbor messages: each edge forwards the source's current
        # label to the destination; min with own label per vertex
        msgs = sym.join(
            labels.withColumnRenamed("id", "a"), "a"
        ).select(F.col("b").alias("id"), "label")
        # eager localCheckpoint: materializes AND truncates lineage to a
        # LogicalRDD, keeping every round's analysis cost constant
        new_labels = (
            labels.union(msgs)
            .groupBy("id")
            .agg(F.min("label").alias("label"))
            .transform(_pin)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "id")
            .filter(F.col("n.label") != F.col("o.label"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    sym.unpersist()
    return labels.select("id", F.col("label").alias("cluster_id")), rounds


def pagerank_integer(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    iterations: int = 3,
    scale: int = 1_000_000,
    damping_pct: int = 85,
    broadcast_vertices: int = 5_000_000,
    edges_distinct: bool = False,
) -> DataFrame:
    """PageRank in EXACT int64 micro-units — (id, rank) after a fixed
    number of power iterations over the directed edge set.

    Floating-point PageRank is not value-portable across engines: each
    vertex's new rank is a SUM of per-edge double contributions, and
    IEEE addition is order-dependent, so a Spark hash-aggregate and a
    DuckDB aggregate legitimately disagree in the last ulps.  This
    variant keeps the whole recurrence in integers::

        r0(v)     = scale
        r_{k+1}(v) = floor(scale * (100 - damping_pct) / 100)
                     + SUM over u->v of
                       (damping_pct * r_k(u)) div (100 * outdeg(u))

    Integer sums are associative, so the result is bit-identical in
    any engine and any aggregation order — the same trick the
    engine's Gini/diversity queries use to avoid ln().  The ``div``
    must be INTEGER division (Spark ``div``, DuckDB ``//``): a double
    divide would lose exactness past 2^53, which real rank masses
    reach (85 * scale * |V| overflows the 53-bit mantissa at ~1e8
    vertices but stays well inside int64 up to ~1e12).

    Semantics notes (deliberate, documented):
    - Dangling vertices (outdeg 0) leak their damped mass instead of
      redistributing it — the per-iteration teleport term is constant.
      This keeps every iteration a single edges ⋈ ranks + groupBy-sum
      with NO global total (the redistribution variant needs a 1-row
      broadcast each round).
    - Fixed iteration count, no convergence probe: callers pick
      ``iterations`` (rank ORDER stabilizes in a handful of rounds on
      power-law graphs; the oracle unrolls the same count).

    Scale shape: the degree-annotated edge frame is materialized once
    (``localCheckpoint`` — same lineage hygiene as the CC rounds).
    Rank state is 16 bytes/vertex, so up to ``broadcast_vertices``
    vertices (default 5M ≈ 80 MB) the per-iteration edges ⋈ ranks
    join BROADCASTS the rank state and the edge table never crosses a
    shuffle — the explicit hint matters because checkpointed frames
    have unknown stats and neither Catalyst nor AQE will pick the
    broadcast on its own. Past the threshold the join falls back to
    hash-partitioned shuffle — the Pregel regime, where per-superstep
    |E| message traffic is the honest cost. Either way the combine is
    map-side partial (shuffle carries ≤ tasks × |V| partial sums, not
    |E| rows), and an |V|-row left join re-anchors vertices with no
    in-edges."""
    e = edges.select(
        F.col(src_col).cast("long").alias("src"),
        F.col(dst_col).cast("long").alias("dst"),
    )
    if not edges_distinct:
        # callers whose edge set is distinct by construction pass
        # edges_distinct=True and skip an |E| shuffle
        e = e.distinct()
    # the ONE |E|-sized materialization; everything per-iteration
    # reads this frame map-side
    # e stays EAGER (it is referenced by two arms of the nodes union
    # and by every iteration — concurrent stages over an uncached lazy
    # checkpoint would duplicate the |E| distinct); deg and nodes go
    # LAZY: nodes materializes in the mode-deciding count below, deg in
    # the first iteration's unit join — two fewer barrier jobs.
    e = e.transform(_pin)
    deg = (
        e.groupBy("src")
        .agg(F.count(F.lit(1)).alias("outdeg"))
        .transform(_pin_lazy)
    )
    nodes = (
        e.select(F.col("src").alias("id"))
        .union(e.select(F.col("dst").alias("id")))
        .distinct()
        .transform(_pin_lazy)
    )

    base = scale * (100 - damping_pct) // 100
    # nodes is already materialized (localCheckpoint) — the count is a
    # cheap metadata pass, and it decides the per-iteration join mode.
    small_state = nodes.count() <= broadcast_vertices
    hint = F.broadcast if small_state else (lambda df: df)
    ranks = nodes.withColumn("rank", F.lit(scale).cast("long"))
    for _ in range(iterations):
        # per-SOURCE outgoing unit: the damped-rank division happens on
        # the |V|-sized frame (ranks ⋈ deg, both vertex state), so the
        # edge scan only multiplies by a prejoined constant — the edge
        # table itself never carries through an aggregation upstream
        unit = ranks.join(deg.withColumnRenamed("src", "id"), "id").select(
            F.col("id").alias("src"),
            F.expr(f"({damping_pct} * rank) div (100 * outdeg)").alias("c"),
        )
        contribs = (
            e.join(hint(unit), "src")
            .groupBy(F.col("dst").alias("id"))
            .agg(F.sum("c").alias("in_mass"))
        )
        ranks = (
            nodes.join(hint(contribs), "id", "left")
            .select(
                "id",
                (F.lit(base) + F.coalesce(F.col("in_mass"), F.lit(0))).alias(
                    "rank"
                ),
            )
            # lazy: each round's rank state is referenced exactly once
            # (next round's unit join, or the caller's final consumer),
            # so it materializes inside that consumer's job — one job
            # per iteration saved; lineage still truncates per round.
            .transform(_pin_lazy)
        )
    return ranks


def triangle_counts(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Per-vertex triangle participation counts — the standard graph
    clustering-coefficient / community-structure primitive next to
    PageRank (centrality) and connected components (clustering).

    Algorithm: canonicalize every edge to (a < b), build wedges by
    joining edges on the shared middle vertex with the a < b < c
    orientation, then close each wedge against the edge set. The
    orientation counts every triangle EXACTLY once (its vertices
    admit a single increasing ordering), so no /3 correction or
    dedup of permutations is needed.

    Scale shape: two hash equi-joins over (long, long) edge pairs —
    16 B shuffle keys, map-side combinable final count. Id-ordered
    orientation keeps the oracle trivially expressible; production
    deployments at extreme skew orient by (degree, id) instead —
    same plan, different ordering column — which bounds wedge
    fan-out per vertex by O(sqrt(|E|)) (Suri & Vassilvitskii's MR
    triangle counting). The wedge join is the plan's cost center and
    is exactly the candidate-pair pattern elsewhere in this engine:
    skew on a hub vertex is AQE-splittable because the join is a
    plain equi-join."""
    # pinned: the canonical edge frame feeds THREE join sides (both
    # wedge sides + the closing probe) — unpinned, the caller's whole
    # edge-construction subtree and the distinct exchange ran once per
    # side. Eager, because the sides build concurrently in one action.
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .filter(F.col("a") < F.col("b"))
        .distinct()
        .transform(_pin)
    )
    wedges = (
        e.alias("e1")
        .join(
            e.alias("e2"),
            F.col("e1.b") == F.col("e2.a"),
        )
        .select(
            F.col("e1.a").alias("a"),
            F.col("e1.b").alias("b"),
            F.col("e2.b").alias("c"),
        )
    )
    tri = wedges.alias("w").join(
        e.alias("e3"),
        (F.col("w.a") == F.col("e3.a")) & (F.col("w.c") == F.col("e3.b")),
    ).select("w.a", "w.b", "w.c")
    return (
        tri.select(F.explode(F.array("a", "b", "c")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))
    )
