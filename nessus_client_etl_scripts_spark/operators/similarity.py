"""Similarity search over embedding columns (SURVEY.md §7 Phase 4).

Two tiers:
- Brute-force cosine top-k — the exact baseline. Query side broadcast,
  corpus side streamed: no shuffle of the corpus at all, so it scales
  to any corpus size as long as the query set stays broadcast-able.
- LSH-bucketed (random hyperplane / SimHash-for-vectors) — the scale
  path: sign-bit sketch → bucket equi-join, probing only same-bucket
  corpus vectors. Trades recall for a candidate set ~1/2^bits the size.

All vector math is within-row array algebra on ``array<float>`` cast to
double (zip_with product + left-fold sum — sequential, deterministic,
matching DuckDB's list_dot_product semantics for the oracle).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from ..pins import pin as _pin, pin_lazy as _pin_lazy


# Hard ceiling on rows a kernel may pull to the driver to build a
# closed-over scoring matrix (q177/q196/q197-style directional matmul
# passes).  2^18 rows × 64-dim float64 ≈ 128 MB — comfortably inside
# driver memory, far outside "accidentally collected the corpus".
# At 100 TB the side MUST arrive pre-bucketed (LSH bands — q95's
# multiprobe path — or IVF cells) so each collected slice is bounded;
# this guard turns a forgotten bucketing step into a loud error
# instead of a driver OOM three hours into a cluster run.
MAX_DRIVER_SIDE_ROWS = 262_144


def collect_bounded_side(df: DataFrame, max_rows: int = MAX_DRIVER_SIDE_ROWS):
    """Collect a *bounded* side table for a driver-built scoring matrix.

    ``limit(max_rows + 1)`` bounds what the driver can ever receive
    (the JVM stops producing past the limit — this is not a
    count-then-collect race), and seeing the sentinel extra row means
    the side exceeded the bound → raise with the fix spelled out.
    """
    rows = df.limit(max_rows + 1).collect()
    if len(rows) > max_rows:
        raise ValueError(
            f"side table exceeds the {max_rows}-row driver-collect bound; "
            "feed per-bucket slices (LSH bands / IVF cells, see "
            "multiprobe_buckets / ivf_topk) instead of the full corpus"
        )
    return rows


def round_half_away(x):
    """Round half AWAY from zero, elementwise, like SQL ``round()``.

    numpy's ``np.round`` is banker's rounding (half-to-EVEN), but the
    DuckDB/Spark SQL ``round()`` both kernels are twinned against round
    half-away-from-zero.  A cos_pico value landing exactly on ``.5``
    (reproduced at sf0.1 in the q177 matmul chain: ±1 in ``sa_pico``)
    diverges under np.round — every quantize-to-integer kernel must use
    this helper instead.

    Implementation note (r11 hardening): NOT ``floor(abs+0.5)`` — for
    a value one ulp BELOW a half (0.49999999999999994) the ``+0.5``
    addition itself rounds up across the boundary and floor then
    misrounds vs std::round.  The fractional-part comparison uses only
    exact FP ops (``a − floor(a)`` is exact for every double)."""
    a = np.abs(x)
    f = np.floor(a)
    return np.copysign(np.where(a - f >= 0.5, f + 1.0, f), x)


def _as_double(vec: Column | str) -> Column:
    v = F.col(vec) if isinstance(vec, str) else vec
    return F.transform(v, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Sequential left-fold dot product — deterministic float order."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    metric: str = "cosine",
) -> DataFrame:
    """Exact top-k: broadcast the query set against the corpus and rank
    per query. Output: (query_id, neighbor_id, score, rank).

    The corpus never shuffles — each task scans its partition once per
    plan, scoring |queries| vectors per row. The per-query rank window
    shuffles only (query_id, neighbor_id, score) triples.

    ``metric``: ``"cosine"`` scores dot(q, c) / (|q|·|c|); ``"l2"``
    scores -||q − c|| through the identity ||q − c||² = q·q + c·c −
    2·q·c — dot folds only, so the float expression is
    engine-portable (DuckDB ``list_dot_product``).

    The per-vector terms (the norms, or q·q and c·c) are precomputed
    PER ROW before the join (|C| + |Q| folds instead of |C| x |Q|):
    per candidate pair only the cross dot product remains — the
    per-pair fold count drops 3x. The values are bit-identical to
    folding them inline (the same IEEE ops in the same order), so the
    oracle hash is unchanged.
    """
    from ..catalog import spread_for_compute

    q = queries.select(
        F.col("vec_id").alias("query_id"), _as_double("embedding").alias("qv")
    )
    c = spread_for_compute(corpus).select(
        F.col("vec_id").alias("neighbor_id"), _as_double("embedding").alias("cv")
    )
    if metric == "cosine":
        q = q.withColumn("_qn", l2_norm(F.col("qv")))
        c = c.withColumn("_cn", l2_norm(F.col("cv")))
        score = dot(F.col("qv"), F.col("cv")) / (F.col("_qn") * F.col("_cn"))
    else:
        q = q.withColumn("_qq", dot(F.col("qv"), F.col("qv")))
        c = c.withColumn("_cc", dot(F.col("cv"), F.col("cv")))
        score = -F.sqrt(
            F.col("_qq") + F.col("_cc") - F.lit(2) * dot(F.col("qv"), F.col("cv"))
        )
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", score.alias("score"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "score", "rank")
    )


def _hyperplanes(bits: int, dim: int, seed: int = 0x5EED) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes, generated ONCE on the
    driver. Components ship to executors as folded literal arrays —
    they are row-independent, so computing them inside a row expression
    (the earlier form hashed (j·dim+i) per row per bit per component)
    was pure waste."""
    import random

    rng = random.Random(seed)
    return [[rng.uniform(-1.0, 1.0) for _ in range(dim)] for _ in range(bits)]


def _bit_dots(vec: Column | str, bits: int = 8, dim: int = 64) -> Column:
    """array<double> of the per-hyperplane dot products v · h_j —
    the shared primitive under the sign sketch AND multi-probe bucket
    generation (the |dot| is exactly the confidence of bit j: small
    magnitude = the vector sits near that hyperplane, so flipping that
    bit probes the most promising neighbor bucket).

    Pass an ALREADY-MATERIALIZED double-array column attribute: lambda
    bodies re-evaluate non-attribute expressions per element × per bit
    (see dedup.shingles_from_tokens for the rule)."""
    v = _as_double(vec)
    return F.array(
        *[
            F.aggregate(
                F.zip_with(
                    v,
                    F.array(*[F.lit(x) for x in plane]),  # constant-folded
                    lambda x, y: F.coalesce(x * y, F.lit(0.0)),
                ),
                F.lit(0.0),
                lambda a, x: a + x,
            )
            for plane in _hyperplanes(bits, dim)
        ]
    )


def _bucket_from_dots(dots: Column) -> Column:
    """Sign-bit bucket id from the per-bit dot array: bit j set iff
    dots[j] >= 0."""
    # 2^i via pow (exact in double for i <= 52; bits is <= 32 here) —
    # F.shiftleft needs a Python-int shift, but i is a lambda Column
    return F.aggregate(
        F.transform(
            dots,
            lambda d, i: F.when(
                d >= 0, F.pow(F.lit(2.0), i).cast("long")
            ).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda a, x: a.bitwiseOR(x),
    )


def multiprobe_buckets(dots: Column, bucket: Column, probes: int) -> Column:
    """array<long> of 1 + ``probes`` bucket ids: the exact bucket plus
    the buckets reached by flipping each of the ``probes``
    least-confident bits (smallest |v · h_j| — the standard multi-probe
    LSH recall lever when 2^bits buckets over-prune; Lv et al.,
    "Multi-Probe LSH", VLDB'07). All ids are distinct (each flip XORs a
    different bit), so downstream candidate pairs never duplicate."""
    flips = F.transform(
        F.slice(
            F.array_sort(
                F.transform(
                    dots, lambda d, i: F.struct(F.abs(d).alias("a"), i.alias("i"))
                )
            ),
            1,
            probes,
        ),
        lambda s: bucket.bitwiseXOR(F.pow(F.lit(2.0), s["i"]).cast("long")),
    )
    return F.concat(F.array(bucket), flips)


def hyperplane_sketch(vec: Column | str, bits: int = 8, dim: int = 64) -> Column:
    """Random-hyperplane sign sketch: bit j = sign(v · h_j), h_j a
    deterministic literal array (reproducible across runs/executors,
    no per-row hyperplane recomputation).

    Pass an ALREADY-MATERIALIZED double-array column attribute (see
    :func:`_bit_dots`)."""
    return _bucket_from_dots(_bit_dots(vec, bits, dim))


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    bits: int = 8,
    probes: int = 0,
) -> DataFrame:
    """Approximate top-k: equi-join on the hyperplane bucket, exact
    cosine within the bucket. At 100 TB the bucket key shrinks the
    candidate pair space by ~2^bits; ``probes`` > 0 additionally probes
    the buckets one bit-flip away on the query's least-confident bits
    (multi-probe LSH) — the standard recall lever when 2^bits buckets
    over-prune, at (1 + probes)× the candidate volume. Corpus vectors
    still index into exactly ONE bucket, so the corpus-side layout (and
    a persisted corpus index) is probe-count-independent."""
    from ..catalog import spread_for_compute

    # stage the double-cast vector first; the sketch reads the staged
    # attribute so the cast-transform runs once, not per bit×component
    # per-row norms computed once before the bucket join (not per
    # candidate pair) — see brute_force_topk; values bit-identical
    q_staged = queries.select(
        F.col("vec_id").alias("query_id"), _as_double("embedding").alias("qv")
    ).withColumn("_qn", l2_norm(F.col("qv")))
    if probes > 0:
        q = (
            q_staged.select(
                "query_id", "qv", "_qn", _bit_dots(F.col("qv"), bits).alias("dots")
            )
            .select(
                "query_id",
                "qv",
                "_qn",
                "dots",
                _bucket_from_dots(F.col("dots")).alias("b0"),
            )
            .select(
                "query_id",
                "qv",
                "_qn",
                F.explode(
                    multiprobe_buckets(F.col("dots"), F.col("b0"), probes)
                ).alias("bucket"),
            )
        )
    else:
        q = q_staged.select(
            "query_id", "qv", "_qn",
            hyperplane_sketch(F.col("qv"), bits).alias("bucket"),
        )
    c = spread_for_compute(corpus).select(
        F.col("vec_id").alias("neighbor_id"), _as_double("embedding").alias("cv")
    ).select(
        "neighbor_id",
        "cv",
        l2_norm(F.col("cv")).alias("_cn"),
        hyperplane_sketch(F.col("cv"), bits).alias("bucket"),
    )
    scored = (
        c.join(F.broadcast(q), "bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            (
                dot(F.col("qv"), F.col("cv")) / (F.col("_qn") * F.col("_cn"))
            ).alias("score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "score", "rank")
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN — coarse k-means quantizer + probed search
# ---------------------------------------------------------------------------


def _probe_udf(cents: list[list[float]], nprobe: int):
    """Vectorized Pandas UDF: vec → array of the nprobe nearest
    centroid ids, ties broken on the lower centroid_id (stable argsort
    over (n, k) distances).

    This is the scale-critical shape: centroid assignment needs NO
    join and NO shuffle — each Arrow batch scores against the closed-
    over (k × dim) centroid matrix with one matmul. Two earlier
    formulations lose at scale: a broadcast join + ranking window
    shuffles |corpus| × k rows per iteration for what is a per-row
    argmin, and inlining the centroids as literal column expressions
    makes the plan (and its codegen) grow O(k × dim) — fine for k=16,
    unplannable for the k in the thousands a 100 TB IVF index wants.
    """
    C = np.asarray(cents, dtype=np.float64)  # (k, dim)
    cn = np.einsum("kd,kd->k", C, C)

    @F.pandas_udf("array<int>")
    def probe(batch: pd.Series) -> pd.Series:
        if batch.empty:
            return pd.Series([], dtype=object)
        M = np.stack(batch.to_numpy()).astype(np.float64, copy=False)
        # ||x-c||^2 expanded; only the ranking matters, so the expansion's
        # float rounding is irrelevant to the returned ids except on
        # exact ties, which the stable sort settles by centroid_id
        d = np.einsum("nd,nd->n", M, M)[:, None] - 2.0 * (M @ C.T) + cn[None, :]
        idx = np.argsort(d, axis=1, kind="stable")[:, :nprobe].astype(np.int32)
        return pd.Series([r.tolist() for r in idx])

    return probe


def _kmeans_py(
    corpus: DataFrame,
    n_centroids: int = 16,
    iters: int = 3,
) -> list[list[float]]:
    """Deterministic Lloyd iterations → driver-side centroid list.

    - init: the n_centroids rows with the smallest xxhash64(id) — a
      deterministic pseudo-random sample, no driver-side RNG state;
    - assign: per-row vectorized argmin (_probe_udf — narrow, no
      shuffle, one matmul per Arrow batch);
    - update: element-wise mean via posexplode → groupBy(centroid,
      dim) → avg. At 100 TB the shuffle carries (centroid, dim,
      partial sum/count) — dim×k cells per map partition, independent
      of corpus size.

    Centroids live on the driver between iterations (k×dim doubles —
    bytes at any corpus scale; the same state-handling as spark.ml's
    KMeans). Keeping them lazy instead would embed every previous
    iteration's lineage into the next plan and re-execute the whole
    history each time the centroid table is referenced.
    """
    # deliberately NOT spread_for_compute'd: the per-iteration work is
    # an Arrow-batched matmul (bandwidth-bound), and the persist below
    # already amortizes the scan — a repartition shuffle of the raw
    # vectors costs more than the extra task parallelism returns
    # (measured on q39: spread here + at the assignment scan took the
    # query 2.7 s → 7.7 s at sf0.1)
    v = corpus.select(
        F.col("vec_id").alias("_vid"), _as_double("embedding").alias("v")
    ).persist()  # scanned iters+1 times; same caching spark.ml KMeans does
    init = (
        v.withColumn("_h", F.xxhash64("_vid"))
        .orderBy("_h", "_vid")
        .limit(n_centroids)
        .select("v")
        .collect()
    )
    cents = [list(r["v"]) for r in init]
    for _ in range(iters):
        # assignment staged BEFORE the generator (same staging rule as
        # the lambda-body materialization in dedup.py)
        assigned = v.select(
            F.element_at(_probe_udf(cents, 1)("v"), 1).alias("centroid_id"),
            "v",
        ).select("centroid_id", F.posexplode("v").alias("dim", "x"))
        rows = (
            assigned.groupBy("centroid_id", "dim")
            .agg(F.avg("x").alias("m"))
            .collect()
        )
        by_cent: dict[int, dict[int, float]] = {}
        for r in rows:
            by_cent.setdefault(r["centroid_id"], {})[r["dim"]] = r["m"]
        # empty clusters keep their previous centroid
        cents = [
            [by_cent[i][d] for d in range(len(cents[i]))]
            if i in by_cent
            else cents[i]
            for i in range(len(cents))
        ]
    v.unpersist()
    return cents


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 4,
    iters: int = 3,
) -> DataFrame:
    """IVF approximate top-k: corpus vectors are bucketed under their
    nearest coarse centroid (the inverted file); each query probes its
    nprobe nearest centroids and scores exact cosine only within those
    buckets. nprobe = n_centroids degrades gracefully to brute force
    (the recall/test anchor); small nprobe prunes the candidate space
    to ~nprobe/n_centroids of the corpus.
    """
    cents = _kmeans_py(corpus, n_centroids, iters)
    # deliberately NOT spread: the Arrow-batched matmul assignment is
    # memory-bandwidth-bound, so a full-row repartition of the corpus
    # costs more than the extra parallelism returns (measured +60% on
    # q39); the kmeans path spreads because its shuffle amortizes over
    # the persisted iterations
    c = corpus.select(
        F.col("vec_id").alias("neighbor_id"), _as_double("embedding").alias("cv")
    ).withColumn("_cn", l2_norm(F.col("cv")))
    q = queries.select(
        F.col("vec_id").alias("query_id"), _as_double("embedding").alias("qv")
    ).withColumn("_qn", l2_norm(F.col("qv")))
    c_assign = c.select(
        "neighbor_id",
        F.element_at(_probe_udf(cents, 1)("cv"), 1).alias("centroid_id"),
    )
    q_probe = q.select(
        "query_id",
        F.explode(_probe_udf(cents, nprobe)("qv")).alias("centroid_id"),
    )
    candidates = (
        c_assign.join(q_probe, "centroid_id")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    # per-row norms ride the (id, vec) projections; each candidate
    # pair costs one cross-dot fold, not three (see brute_force_topk)
    scored = (
        candidates.join(c, "neighbor_id")
        .join(F.broadcast(q), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            (
                dot(F.col("qv"), F.col("cv")) / (F.col("_qn") * F.col("_cn"))
            ).alias("score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "score", "rank")
    )


def codebook_ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: list[list[float]],
    k: int = 5,
    nprobe: int = 2,
    assignment: str = "arrow",
) -> DataFrame:
    """IVF top-k against a FIXED codebook: the search half of the IVF
    pipeline with the trainer factored out — which is the production
    shape anyway (codebooks are trained rarely and shipped as
    artifacts; searches run constantly against them).

    Cell assignment has two implementations selected by ``assignment``:

    - ``"arrow"`` (default, the scale path): each Arrow batch scores
      against the closed-over (|cells| × dim) centroid matrix with one
      matmul (:func:`_probe_udf`). The plan size is CONSTANT in the
      codebook size — a thousands-of-cells codebook (the ~√N sizing a
      100 TB IVF index wants) plans exactly like a 16-cell one.
    - ``"literal"`` (oracle twin, small codebooks only): per-centroid
      sequential-fold dot products inlined as column expressions with
      an ``array_sort`` over (distance, index) structs. Every
      arithmetic step has an exact DuckDB twin, but the expression
      tree grows O(|cells| × dim) — it exists to value-anchor the
      arrow path in tests, not to serve queries.

    Both paths rank cells by expanded squared distance
    ``-2·(v·c) + c·c`` (the ``v·v`` term is constant per row) with
    ties broken on the lower cell index, and both score candidates
    with the same sequential-fold cosine, so they return identical
    rows whenever no two centroids are within float-rounding distance
    of a vector — the planted-fixture test asserts exact agreement.

    Scale note: the cell-join key space equals |centroids|; each
    posting list stays executor-sized and AQE skew-join covers hot
    cells. The probe side is broadcast — queries never shuffle the
    corpus.
    """
    c = corpus.select(
        F.col("vec_id").alias("neighbor_id"), _as_double("embedding").alias("cv")
    ).withColumn("_cn", l2_norm(F.col("cv")))
    q = queries.select(
        F.col("vec_id").alias("query_id"), _as_double("embedding").alias("qv")
    ).withColumn("_qn", l2_norm(F.col("qv")))
    if assignment == "arrow":
        c_assign = c.select(
            "neighbor_id",
            "cv",
            "_cn",
            F.element_at(_probe_udf(centroids, 1)("cv"), 1).alias("cell"),
        )
        q_probe = q.select(
            "query_id",
            "qv",
            "_qn",
            F.explode(_probe_udf(centroids, nprobe)("qv")).alias("cell"),
        )
    elif assignment == "literal":
        cell_ranking = _literal_cell_ranking(centroids)
        c_assign = c.select(
            "neighbor_id",
            "cv",
            "_cn",
            cell_ranking(F.col("cv"))[0]["i"].alias("cell"),
        )
        q_probe = q.select(
            "query_id",
            "qv",
            "_qn",
            F.explode(
                F.transform(
                    F.slice(cell_ranking(F.col("qv")), 1, nprobe),
                    lambda s: s["i"],
                )
            ).alias("cell"),
        )
    else:  # pragma: no cover - guard
        raise ValueError(f"assignment must be 'arrow' or 'literal': {assignment}")
    # per-pair cost: one cross-dot fold (norms precomputed per row)
    scored = (
        c_assign.join(F.broadcast(q_probe), "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            (
                dot(F.col("qv"), F.col("cv")) / (F.col("_qn") * F.col("_cn"))
            ).alias("score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


def _cell_ranking_expr(centroids: list[list[float]], vec_attr: str) -> Column:
    """array_sort of (d, i) structs ranking every centroid by
    ``-2·(v·c) + c·c`` — the engine-exact cell ranking, built for BOTH
    low plan-compile cost and zero shuffle:

    - the codebook ships as ONE SQL-parsed literal
      ``array<struct<c,c2,ci>>`` (a single ``F.expr`` round-trip —
      building k×dim literals through the Python Column API costs
      ~0.5 s of py4j chatter per plan, and k separate fold expressions
      make Catalyst resolve k×dim nested lambda scopes);
    - ONE transform lambda computes all k distances per row, so lambda
      count is constant in k and assignment needs no join and no
      shuffle (the corpus never moves — same posture as q79's arrow
      path, which remains the many-thousand-cell tier).

    ``repr(x)`` emits the shortest round-trip decimal and Spark's
    ``D``-suffixed literal parses it back to the identical double; the
    fold inside ``dot`` is the same IEEE sequence as DuckDB's
    ``list_dot_product``, and c2 is the driver-side sequential Σc²
    (the q79-proven pairing). Ties rank on the lower ci, matching
    ``row_number() OVER (ORDER BY d, ci)``."""
    items = []
    for j, cent in enumerate(centroids):
        c2 = sum(x * x for x in cent)
        arr = ",".join(f"{x!r}D" for x in cent)
        items.append(
            f"named_struct('c', array({arr}), 'c2', {float(c2)!r}D, 'ci', {j})"
        )
    cells = F.expr("array(" + ",".join(items) + ")")
    v = F.col(vec_attr)
    return F.array_sort(
        F.transform(
            cells,
            lambda s: F.struct(
                (F.lit(-2.0) * dot(v, s["c"]) + s["c2"]).alias("d"),
                s["ci"].alias("i"),
            ),
        )
    )


def _quantize_long(vec: Column, scale: float) -> Column:
    """array<long> ``floor(x·scale)`` — floor, not round: round's
    half-way tie direction is the one rescaling step engines disagree
    on, while floor of a correctly-rounded product is unambiguous."""
    return F.transform(vec, lambda x: F.floor(x * F.lit(scale)))


def kmeans_exact_quantized(
    corpus: DataFrame,
    n_centroids: int = 16,
    iters: int = 3,
) -> list[list[float]]:
    """Deterministic, ENGINE-EXACT Lloyd k-means over integer-quantized
    vectors: every arithmetic step is reproducible bit-for-bit in plain
    SQL, which makes the TRAINER itself value-oracle-checkable (q39's
    twin unrolls these exact iterations in DuckDB).

    Exactness design (cross-engine float rules, PLANS.md):

    - quantize up front: ``vq = floor(v·4096)`` per component — all
      centroid-update sums become exact long arithmetic (training on
      quantized vectors is standard IVF practice anyway; serving still
      scores exact cosine on the original doubles).
    - init: the ``n_centroids`` rows with the smallest 48-bit md5
      prefix of ``'ivf:'||id`` (portable hash — xxhash64 has no DuckDB
      twin), id tie-break; centroid_id = position in that order.
    - assign: within-row ranking over the literal codebook
      (:func:`_cell_ranking_expr` — one transform lambda, the same
      sequential fold DuckDB's ``list_dot_product`` runs, ties on the
      lower ci). Identical op sequence on both engines → identical
      doubles → identical cells. Zero Python, zero join, zero shuffle
      in assignment.
    - update: groupBy(cell) with dim per-component exact long sums +
      count (one aggregation, k groups); mean = ONE correctly-rounded
      long/long double division — the only float op, identical
      everywhere. The shuffle carries k×(dim+1) partial cells per map
      partition, independent of corpus size. Empty cells keep their
      previous centroid.

    Centroids live on the driver between iterations (k×dim doubles —
    same state posture as spark.ml KMeans and :func:`_kmeans_py`); the
    literal-expression assignment bounds this variant to codebooks of
    hundreds of cells (plan grows O(k×dim)) — the arrow-matmul trainer
    (:func:`_kmeans_py`) is the many-thousand-cell path.
    """
    v = (
        corpus.select(
            F.col("vec_id").alias("_vid"), _as_double("embedding").alias("_v")
        )
        .select("_vid", _quantize_long(F.col("_v"), 4096.0).alias("vq"))
        .withColumn("vqd", _as_double(F.col("vq")))
        .persist()  # scanned iters+1 times
    )
    init = (
        v.withColumn(
            "_h",
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit("ivf:"), F.col("_vid").cast("string"))),
                    1,
                    12,
                ),
                16,
                10,
            ).cast("long"),
        )
        .orderBy("_h", "_vid")
        .limit(n_centroids)
        .select("vqd")
        .collect()
    )
    cents = [list(r["vqd"]) for r in init]
    dim = len(cents[0])
    for _ in range(iters):
        assigned = v.select(
            _cell_ranking_expr(cents, "vqd")[0]["i"].alias("ci"), "vq"
        )
        # update: per-(cell, dim) exact long sums + counts; mean = ONE
        # correctly-rounded long/long division, matching the oracle's
        # CAST(SUM(vq[i]) AS DOUBLE)/COUNT(*) bit for bit. The shuffle
        # carries k×dim partial cells per map partition.
        rows = (
            assigned.select("ci", F.posexplode("vq").alias("dim", "x"))
            .groupBy("ci", "dim")
            .agg(F.sum("x").alias("s"), F.count(F.lit(1)).alias("n"))
            .collect()
        )
        by_cent: dict[int, dict[int, float]] = {}
        for r in rows:
            by_cent.setdefault(r["ci"], {})[r["dim"]] = r["s"] / r["n"]
        cents = [
            [by_cent[i][d] for d in range(dim)] if i in by_cent else cents[i]
            for i in range(len(cents))
        ]
    v.unpersist()
    return cents


def ivf_exact_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: list[list[float]],
    k: int = 5,
    nprobe: int = 4,
) -> DataFrame:
    """IVF serve stage paired with :func:`kmeans_exact_quantized`:
    cells assigned on the QUANTIZED vectors (the space the codebook was
    trained in — literal fold ranking, value-exact cross-engine),
    candidates scored with exact sequential-fold cosine on the ORIGINAL
    doubles. Same probe/score/rank shape as :func:`codebook_ivf_topk`;
    per-row norms precomputed before the cell join; cell assignment is
    the within-row literal-codebook ranking (:func:`_cell_ranking_expr`)
    — the corpus never shuffles for assignment."""
    c = (
        corpus.select(
            F.col("vec_id").alias("neighbor_id"), _as_double("embedding").alias("cv")
        )
        .withColumn("_cn", l2_norm(F.col("cv")))
        .withColumn("vqd", _as_double(_quantize_long(F.col("cv"), 4096.0)))
        .select(
            "neighbor_id",
            "cv",
            "_cn",
            _cell_ranking_expr(centroids, "vqd")[0]["i"].alias("cell"),
        )
    )
    q = (
        queries.select(
            F.col("vec_id").alias("query_id"), _as_double("embedding").alias("qv")
        )
        .withColumn("_qn", l2_norm(F.col("qv")))
        .withColumn("vqd", _as_double(_quantize_long(F.col("qv"), 4096.0)))
        .select(
            "query_id",
            "qv",
            "_qn",
            F.explode(
                F.transform(
                    F.slice(_cell_ranking_expr(centroids, "vqd"), 1, nprobe),
                    lambda s: s["i"],
                )
            ).alias("cell"),
        )
    )
    scored = (
        c.join(F.broadcast(q), "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            (
                dot(F.col("qv"), F.col("cv")) / (F.col("_qn") * F.col("_cn"))
            ).alias("score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "score", "rank")
    )


def _literal_cell_ranking(centroids: list[list[float]]):
    """Column-expression cell ranking for the oracle twin: (distance,
    index) structs sorted ascending — total order, index tie-break.
    O(|cells| × dim) expression nodes; keep codebooks small here."""
    c2 = [
        sum(x * x for x in cent)  # exact python double sum, driver-side
        for cent in centroids
    ]

    def cell_ranking(v: Column) -> Column:
        pairs = F.array(
            *[
                F.struct(
                    (
                        F.lit(-2.0) * dot(v, F.array(*[F.lit(x) for x in cent]))
                        + F.lit(float(norm2))
                    ).alias("d"),
                    F.lit(i).alias("i"),
                )
                for i, (cent, norm2) in enumerate(zip(centroids, c2))
            ]
        )
        return F.array_sort(pairs)

    return cell_ranking


def semantic_dedup(
    vecs: DataFrame,
    centroids: list[list[float]],
    threshold: float,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023 shape):
    assign every vector to its nearest codebook cell, then inside each
    cell drop any vector that has a same-cell neighbor with a SMALLER
    id and cosine >= ``threshold``. Returns every input row as
    ``(id, cell, keep)`` — the keep/drop verdict, not just the pairs —
    so a training pipeline filters its corpus with one semi-join.

    Scale shape: the quadratic step is confined to single cells — the
    same bound IVF search relies on (cell sizes ~N/|cells| with a
    ~sqrt(N)-cell codebook; AQE skew-join covers hot cells). Cell
    assignment is the Arrow-matmul scale path (:func:`_probe_udf`,
    plan size constant in |cells|); the pair score is the
    sequential-fold cosine with an exact DuckDB twin, so the whole
    verdict column is value-oracle-checkable. The dropped-id set
    re-enters through a self left-semi join on ``id`` — ids only, no
    vectors shuffle twice.
    """
    # The assignment frame feeds the per-cell scorer and the verdict
    # base; without pinning, each would rerun the Arrow matmul and the
    # source scan. Same scoped persist → eager small result →
    # unpersist shape as dedup.verify_pairs: nothing leaks past the
    # call, the matmul runs once.
    assigned = (
        vecs.select(
            F.col("vec_id"), _as_double("embedding").alias("v")
        )
        .withColumn("_n", l2_norm(F.col("v")))
        .withColumn(
            "cell", F.element_at(_probe_udf(centroids, 1)("v"), 1)
        )
        .persist()
    )

    # Per-cell blocked matmul instead of a cell self-join with a
    # per-pair sequential fold (measured 3.4 s → ~1.5 s at sf0.1 for
    # q114). Reordering the dot's summation moves the cosine by
    # O(dim) ulps (~1e-14 relative); the corpus's minimum |cos − τ|
    # boundary margin is 3.4e-5 at sf0.1 (2.7e-3 at sf0.01) — eleven
    # orders of magnitude wider, so the verdict cannot flip vs the
    # oracle's sequential list_dot_product (pinned by
    # test_semantic_dedup_threshold_margin). 1024-row slabs bound a
    # hot cell's in-memory pair block.
    thr = float(threshold)

    def cell_dropped(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) < 2:
            return pd.DataFrame({"vec_id": []}, dtype="int64")
        order = np.argsort(pdf["vec_id"].to_numpy())
        ids = pdf["vec_id"].to_numpy(dtype=np.int64)[order]
        M = np.stack(pdf["v"].to_numpy()[order]).astype(
            np.float64, copy=False
        )
        nn = pdf["_n"].to_numpy(dtype=np.float64)[order]
        n_rows = len(ids)
        hit = np.zeros(n_rows, dtype=bool)
        for lo_i in range(0, n_rows, 1024):
            hi_i = min(lo_i + 1024, n_rows)
            cos = (M[lo_i:hi_i] @ M.T) / (nn[lo_i:hi_i, None] * nn[None, :])
            ii, jj = np.nonzero(cos >= thr)
            keep = (ii + lo_i) < jj  # smaller-id neighbor drops the larger
            hit[jj[keep]] = True
        return pd.DataFrame({"vec_id": ids[hit]})

    dropped = (
        assigned.groupBy("cell")
        .applyInPandas(cell_dropped, schema="vec_id long")
        .transform(_pin)
    )
    out = (
        assigned.join(
            dropped.withColumn("_dup", F.lit(True)), "vec_id", "left"
        )
        .select(
            "vec_id",
            F.col("cell").cast("int").alias("cell"),
            F.coalesce(~F.col("_dup"), F.lit(True)).alias("keep"),
        )
        .transform(_pin)  # verdict rows only — 13 B/vector, no vectors
    )
    assigned.unpersist()
    return out

def embedding_standardize_checksum(df: DataFrame) -> DataFrame:
    """Per-dimension z-score standardization (the feature-scaling pass
    before clustering / ANN indexing), emitted as per-vector integer
    checksums so the fit+transform verifies value-exactly cross-engine.

    Float portability (PLANS.md float rule #2): per-dim mean/variance
    over raw doubles would be an order-dependent double sum. Instead
    every element is quantized ONCE to integer micro-units
    (round(x·1e6)), all moments are EXACT integer sums (variance
    numerator n·Σx² − (Σx)² in DECIMAL(38,0) — BIGINT would overflow
    at corpus scale), and the only doubles are single IEEE ops on
    identical inputs: mean = Σ/(n·1e6), var = num/(n²·1e12),
    std = sqrt(var), z = (x−mean)/std. The emitted per-vector
    ``z_sum_milli``/``z_min_milli``/``z_max_milli`` are rounded-integer
    reductions of those identical doubles — exact in any engine.

    Scale shape: posexplode fans each vector into its dims (row-local,
    bounded ×d); the stats frame aggregates to d rows (map-side
    partial) and BROADCASTS back into the transform — the corpus side
    never shuffles for the join; the final per-vector reduce is one
    hash agg keyed on ``vec_id``. The 2^53 exactness ceiling on
    CAST(Σx AS DOUBLE) allows ~1.8e9 rows per dim at |x|≤5.
    """
    exploded = df.select(
        F.col("vec_id"),
        F.posexplode(_as_double("embedding")).alias("dim", "x"),
    ).withColumn("e_int", F.round(F.col("x") * 1_000_000).cast("long"))
    stats = (
        exploded.groupBy("dim")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("e_int").alias("s1"),
            F.sum(F.col("e_int").cast("decimal(38,0)") * F.col("e_int")).alias(
                "s2"
            ),
        )
        .select(
            "dim",
            "n",
            (
                F.col("s1").cast("double")
                / (F.col("n").cast("double") * F.lit(1e6))
            ).alias("mean"),
            F.sqrt(
                (
                    F.col("n").cast("decimal(38,0)") * F.col("s2")
                    - F.col("s1").cast("decimal(38,0)")
                    * F.col("s1").cast("decimal(38,0)")
                ).cast("double")
                / (
                    F.col("n").cast("double")
                    * F.col("n").cast("double")
                    * F.lit(1e12)
                )
            ).alias("std"),
        )
    )
    z = (F.col("x") - F.col("mean")) / F.col("std")
    zmilli = F.round(z * 1000).cast("long")
    return (
        exploded.join(F.broadcast(stats), "dim")
        .select("vec_id", zmilli.alias("zm"))
        .groupBy("vec_id")
        .agg(
            F.sum("zm").cast("long").alias("z_sum_milli"),
            F.min("zm").cast("long").alias("z_min_milli"),
            F.max("zm").cast("long").alias("z_max_milli"),
        )
    )


def _codebook_cells_expr(centroids: list[list[float]]) -> Column:
    """The literal ``array<struct<c,c2,ci>>`` codebook expression —
    the single-``F.expr`` shipping trick of :func:`_cell_ranking_expr`
    factored for reuse (PQ ships one per subspace)."""
    items = []
    for j, cent in enumerate(centroids):
        c2 = sum(x * x for x in cent)
        arr = ",".join(f"{x!r}D" for x in cent)
        items.append(
            f"named_struct('c', array({arr}), 'c2', {float(c2)!r}D, 'ci', {j})"
        )
    return F.expr("array(" + ",".join(items) + ")")


def _pq_sub_cols(m: int, subdim: int) -> list[Column]:
    """``_sv0.._sv{m-1}``: the ``m`` subvectors of the staged ``_v``."""
    return [
        F.slice(F.col("_v"), s * subdim + 1, subdim).alias(f"_sv{s}")
        for s in range(m)
    ]


# NB: the lambdas must stay single-parameter — a two-parameter
# lambda makes Spark's transform() bind (element, index), so a
# `_s=s` default-capture trick would receive the index Column
def _pq_code_col(cells: list[Column], s: int) -> Column:
    """``code_{s}``: the nearest subspace-``s`` codeword of ``_sv{s}``."""

    def rank_item(st: Column) -> Column:
        return F.struct(
            (F.lit(-2.0) * dot(F.col(f"_sv{s}"), st["c"]) + st["c2"]).alias("d"),
            st["ci"].alias("i"),
        )

    return F.array_sort(F.transform(cells[s], rank_item))[0]["i"].alias(f"code_{s}")


def _pq_dtab_col(cells: list[Column], s: int) -> Column:
    """``_dt{s}``: the distance of ``_sv{s}`` to every subspace-``s`` codeword."""

    def dist_item(st: Column) -> Column:
        return F.lit(-2.0) * dot(F.col(f"_sv{s}"), st["c"]) + st["c2"]

    return F.transform(cells[s], dist_item).alias(f"_dt{s}")


def _pq_adc_top_k(pairs: DataFrame, m: int, k: int) -> DataFrame:
    """Rank (query, neighbor) pairs carrying ``code_*``/``_dt*`` columns
    by their ADC distance and keep each query's top ``k``."""
    adc = F.element_at(F.col("_dt0"), F.col("code_0") + 1)
    for s in range(1, m):
        adc = adc + F.element_at(F.col(f"_dt{s}"), F.col(f"code_{s}") + 1)
    # micro-quantized: `-2·dot+c²` is an a·b+c polynomial that C++
    # engines FMA-contract and the JVM does not (1-ulp, data-dependent
    # — the PLANS.md quantization rule), so the raw double can't be
    # emitted or ranked on
    scored = pairs.select(
        "query_id",
        "neighbor_id",
        F.round(adc * F.lit(1e6)).cast("long").alias("adc_micro"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.asc("adc_micro"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "adc_micro", "rank")
    )


def pq_codebooks(
    m: int = 4, subdim: int = 16, k: int = 8
) -> list[list[list[float]]]:
    """Deterministic per-subspace PQ codebooks (the q79 posture:
    codebooks are rarely-retrained ARTIFACTS; a production system
    trains them with the q39 quantized-Lloyd trainer per subspace)."""
    return [_hyperplanes(k, subdim, seed=0x9900 + s) for s in range(m)]


def pq_adc_topk(
    corpus: DataFrame,
    queries: DataFrame,
    codebooks: list[list[list[float]]],
    k: int = 5,
) -> DataFrame:
    """Product-quantization ANN with asymmetric distance computation
    (Jégou et al. 2011) — the COMPRESSED-DOMAIN scan tier of the ANN
    suite (brute q27 / LSH q32 / IVF q39+q79): corpus vectors are
    encoded ONCE into m small codes (here 4 bytes replacing 64
    doubles, a 128× memory cut), and each query scans codes with a
    per-subspace distance TABLE — never touching raw corpus vectors.

    Scale shape:

    - encoding is row-local literal-fold ranking per subspace (the
      q39 assignment machinery on sliced attributes): zero shuffle,
      zero join — at 100 TB the code table is the only thing that
      persists, 4 B/vector;
    - the ADC scan broadcasts the query frame (queries carry their
      m×k distance tables as plain array columns, built row-locally
      against the same literal codebooks); the corpus side streams
      codes through one whole-stage-codegen'd projection — the
      corpus never shuffles, exactly the q27 exhaustive-scan posture
      but over codes instead of vectors;
    - every ADC distance is a FIXED-ORDER m-term sum of doubles each
      produced by the same -2·dot+c² fold both engines run — the
      whole pipeline is value-exact cross-engine with no rounding.

    IVF-PQ composition (cell-bucketed candidate generation + ADC
    rerank) is q79's bucketing joined to this scan; kept separate so
    each tier stays independently oracle-checkable."""
    m = len(codebooks)
    subdim = len(codebooks[0][0])
    cells = [_codebook_cells_expr(cb) for cb in codebooks]

    def slices(frame: DataFrame, out_id: str) -> DataFrame:
        staged = frame.select(
            F.col("vec_id").alias(out_id), _as_double("embedding").alias("_v")
        )
        return staged.select(out_id, *_pq_sub_cols(m, subdim))

    enc = slices(corpus, "neighbor_id").select(
        "neighbor_id", *[_pq_code_col(cells, s) for s in range(m)]
    )
    qt = slices(queries, "query_id").select(
        "query_id", *[_pq_dtab_col(cells, s) for s in range(m)]
    )
    pairs = enc.crossJoin(F.broadcast(qt)).filter(
        F.col("query_id") != F.col("neighbor_id")
    )
    return _pq_adc_top_k(pairs, m, k)


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    coarse_cents: list[list[float]],
    codebooks: list[list[list[float]]],
    k: int = 5,
    nprobe: int = 4,
) -> DataFrame:
    """IVF-PQ — the composed production ANN index (Jégou et al. 2011;
    the FAISS `IVFx,PQy` shape): the coarse IVF codebook bounds the
    CANDIDATE SET (only nprobe cells join), and PQ codes bound the
    BYTES per candidate (4-byte codes + per-query distance tables
    instead of raw vectors). q79 proves the bucketing tier and q140
    the compressed-scan tier in isolation; this composes them —
    corpus rows carry (cell, code_0..m) only, queries explode into
    nprobe probes carrying their ADC tables, and the join is one
    hash equi-join on the cell key. ADC distances are micro-quantized
    (the q140 FMA rule) and ranked per query."""
    m = len(codebooks)
    subdim = len(codebooks[0][0])
    cells = [_codebook_cells_expr(cb) for cb in codebooks]

    c = (
        corpus.select(
            F.col("vec_id").alias("neighbor_id"), _as_double("embedding").alias("_v")
        )
        .select(
            "neighbor_id",
            _cell_ranking_expr(coarse_cents, "_v")[0]["i"].alias("cell"),
            *_pq_sub_cols(m, subdim),
        )
        .select("neighbor_id", "cell", *[_pq_code_col(cells, s) for s in range(m)])
    )
    q = (
        queries.select(
            F.col("vec_id").alias("query_id"), _as_double("embedding").alias("_v")
        )
        .select(
            "query_id",
            F.explode(
                F.transform(
                    F.slice(_cell_ranking_expr(coarse_cents, "_v"), 1, nprobe),
                    lambda s: s["i"],
                )
            ).alias("cell"),
            *_pq_sub_cols(m, subdim),
        )
        .select("query_id", "cell", *[_pq_dtab_col(cells, s) for s in range(m)])
    )
    pairs = c.join(F.broadcast(q), "cell").filter(
        F.col("query_id") != F.col("neighbor_id")
    )
    return _pq_adc_top_k(pairs, m, k)


def kcenter_greedy(
    df: DataFrame,
    k: int,
    scale: float = 4096.0,
) -> DataFrame:
    """Greedy k-center (Gonzalez 1985) coreset selection — the
    diversity-sampling verb of data curation: pick the point farthest
    from every center chosen so far, k times, then assign each point
    to its nearest center. The selected centers are a 2-approximation
    of the optimal k-center cover; the per-point distance column is
    the coverage radius a curator thresholds on.

    Engine-exact by the q39 quantization rule: vectors quantize to
    floor(x·scale) integers, so every squared L2 distance
    |v|² − 2·v·c + |c|² is arithmetic on EXACT integer-valued
    doubles (all < 2⁵³) — bit-identical in any engine, in any
    evaluation order, so the argmax/argmin tie-breaks (distance,
    then id) are portable and the whole selection is
    value-oracle-checkable.

    Scale shape: k driver rounds, each ONE TakeOrdered(1) argmax job
    over the pinned (vec_id, vq, |v|²) frame; the running
    min-distance is an EXPRESSION-CHAINED least(…, d2_new) — no
    per-round materialization job, so a round costs one job launch
    plus r folds per row. Every ``ckpt_every`` rounds the chain is
    collapsed into a localCheckpointed dm column (20 B/row), which
    bounds both the expression depth and the per-round fold count at
    large k — at k ≤ ckpt_every the loop runs materialization-free
    (measured 5.0 s → 2.6 s at sf0.1, job launches being the cost at
    small N), while at k ≫ ckpt_every the work stays O(k·dim·N·
    ckpt_every) instead of O(k²·dim·N). Centers travel as literals
    (the q79 codebook pattern — bounded driver state, no join, no
    shuffle). The final assignment is one more scan against the k
    literal centers. Never a pairwise matrix.
    """
    q = F.transform(
        _as_double("embedding"), lambda x: F.floor(x * F.lit(scale)).cast("long")
    )
    sn_fold = F.aggregate(
        F.zip_with(F.col("vq"), F.col("vq"), lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    eq = (
        df.select(F.col("vec_id"), q.alias("vq"))
        .withColumn("_sn", sn_fold)
        # quantization + self-norm run once; lazy — the seed argmin
        # (TakeOrderedAndProject, full scan) materializes it
        .transform(_pin_lazy)
    )

    def d2(center: list[int]) -> Column:
        c = F.array(*[F.lit(int(x)).cast("long") for x in center])
        prod = F.aggregate(
            F.zip_with(F.col("vq"), c, lambda x, y: x * y),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        )
        cn = sum(int(x) * int(x) for x in center)
        return (
            F.col("_sn")
            - F.lit(2).cast("long") * prod
            + F.lit(cn).cast("long")
        )

    ckpt_every = 8
    seed = eq.orderBy("vec_id").limit(1).collect()[0]
    centers = [(int(seed["vec_id"]), [int(x) for x in seed["vq"]])]
    base, dm = eq, d2(centers[0][1])
    for r in range(k - 1):
        far = (
            base.withColumn("_dm", dm)
            .orderBy(F.desc("_dm"), F.asc("vec_id"))
            .limit(1)
            .collect()[0]
        )
        centers.append((int(far["vec_id"]), [int(x) for x in far["vq"]]))
        dm = F.least(dm, d2(centers[-1][1]))
        if (r + 1) % ckpt_every == 0:
            base = base.withColumn("_dmc", dm).transform(_pin)
            dm = F.col("_dmc")

    # final assignment: argmin over the k literal centers, tie → the
    # earlier-chosen center (selection order = struct second field)
    cand = F.array(
        *[
            F.struct(
                d2(c).alias("d2"),
                F.lit(i).alias("ci"),
                F.lit(cid).cast("long").alias("center_id"),
            )
            for i, (cid, c) in enumerate(centers)
        ]
    )
    best = F.array_min(cand)
    return eq.select(
        "vec_id",
        best["center_id"].alias("center_id"),
        best["d2"].cast("long").alias("d2"),
    )
