"""Round-6 second wave — q132…q151: the retrieval/graph/sketch
extensions of the LLM-data-pipeline surface (SURVEY.md §7 Phase 4).

- q132 BM25 keyword retrieval; q133 lexical⊕dense hybrid via
  reciprocal-rank fusion; q143 positional phrase search — the
  search tier (candidate mining before dedup/selection).
- q134 sorted-neighborhood blocking — the third candidate family
  next to LSH banding (q28) and posting self-joins (q26/q127):
  linear, data-independent candidate counts.
- q135 triangle counting (graph suite: components q55, PageRank
  q124); q136 PMI co-occurrence lift; q144 Markov transition
  matrix.
- q137 time-series gap-fill interpolation; q139 U-shaped
  multi-touch attribution (q42's as-of is the single-match case).
- q138 HLL audience overlap by inclusion–exclusion over register
  frames (q104's merge machinery, applied pairwise).
- q140 product-quantization ANN (compressed-domain tier of brute
  q27 / LSH q32 / IVF q39+q79); q147 IVF-PQ, their composition;
  q141 deterministic negative sampling; q142 one corpus-wide BPE
  merge iteration; q148 MinHash estimator calibration.
- q145 quantile normalization; q146 trailing-window distinct via
  rolling HLL merges; q149 count-min join-size estimation; q150
  incremental rollup maintenance; q151 zone-map pruning
  effectiveness (Z-order vs linear, the q119 layout's payoff).

Float portability per PLANS.md: no logs/exps anywhere (RSJ
odds-ratio idf, lift-not-PMI); contributions micro-round before
exact BIGINT sums; emitted doubles are single IEEE ops (or
fixed-order short sums) on exact integers; the one FMA-contractible
polynomial (PQ's −2·dot+c²) is micro-quantized on both sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..operators.dedup import sorted_neighborhood_pairs
from ..operators.ranking import bm25_scores, bm25_topk, rrf_fuse
from ..operators.similarity import cosine
from .corpus_queries import _NORM_SQL
from .testdata_queries import register
from ..pins import pin as _pin

_BM25_TERMS = ("vector", "merge", "scan")
_BM25_TERMS_SQL = "['vector', 'merge', 'scan']"

# ---------------------------------------------------------------------------
# q132 — BM25 keyword top-k
# ---------------------------------------------------------------------------

_BM25_CORE_SQL = f"""
  t AS (
    SELECT doc_id, string_split({_NORM_SQL}, ' ') AS l FROM documents
  ), lens AS (
    SELECT doc_id, len(l) AS dl, l FROM t
  ), stats AS (
    SELECT count(*) AS n_docs, sum(dl) AS sum_dl FROM lens
  ), tf AS (
    SELECT doc_id, dl, term,
           len(list_filter(l, x -> x = term)) AS tf
    FROM lens, unnest({_BM25_TERMS_SQL}) AS u(term)
  ), hits AS (
    SELECT * FROM tf WHERE tf > 0
  ), dfc AS (
    SELECT term, count(*) AS df_t FROM hits GROUP BY term
  ), contrib AS (
    SELECT h.doc_id,
           CAST(round(
             ((CAST(s.n_docs AS DOUBLE) - CAST(d.df_t AS DOUBLE) + 0.5)
              / (CAST(d.df_t AS DOUBLE) + 0.5))
             * ((CAST(h.tf AS DOUBLE) * 2.2)
                / (CAST(h.tf AS DOUBLE)
                   + 1.2 * (0.25 + 0.75 * (CAST(h.dl AS DOUBLE)
                       / (CAST(s.sum_dl AS DOUBLE)
                          / CAST(s.n_docs AS DOUBLE))))))
             * 1000000.0) AS BIGINT) AS contrib_micro
    FROM hits h JOIN dfc d USING (term) CROSS JOIN stats s
  ), scores AS (
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_terms,
           CAST(sum(contrib_micro) AS BIGINT) AS score_micro
    FROM contrib GROUP BY doc_id
  )
"""

_Q132_ORACLE = f"""
WITH {_BM25_CORE_SQL},
ranked AS (
  SELECT doc_id, n_terms, score_micro,
         row_number() OVER (ORDER BY score_micro DESC, doc_id ASC) AS rank
  FROM scores
)
SELECT doc_id, n_terms, score_micro, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= 20
"""


@register("q132_bm25_topk", _Q132_ORACLE)
def q132(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 keyword retrieval (operators/ranking.bm25_topk):
    term frequencies computed ROW-LOCALLY against a |Q|-element
    literal term array (no corpus posting explode), corpus stats two
    tiny broadcast aggregates, idf the libm-free RSJ odds ratio,
    per-term contributions micro-rounded into an exact BIGINT sum.
    The global top-20 cut is a TakeOrderedAndProject; the rank
    window runs on 20 rows. The corpus is scanned once and never
    shuffled."""
    docs = load_table(spark, sf_dir, "documents")
    return bm25_topk(docs, _BM25_TERMS, k=20)


# ---------------------------------------------------------------------------
# q133 — hybrid retrieval: BM25 ⊕ embedding-cosine via RRF
# ---------------------------------------------------------------------------

_Q133_ORACLE = f"""
WITH {_BM25_CORE_SQL},
bm25_full AS (
  SELECT doc_id, score_micro,
         row_number() OVER (ORDER BY score_micro DESC, doc_id ASC) AS rank
  FROM scores
), bm25_top AS (
  SELECT doc_id, rank AS rank_a FROM bm25_full WHERE rank <= 100
), q AS (
  SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0
), cos AS (
  SELECT vec_id AS doc_id,
         list_dot_product(embedding::DOUBLE[], qv)
           / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
              * sqrt(list_dot_product(qv, qv))) AS score
  FROM embeddings CROSS JOIN q WHERE vec_id != 0
), cos_full AS (
  SELECT doc_id,
         row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rank
  FROM cos
), cos_top AS (
  SELECT doc_id, rank AS rank_b FROM cos_full WHERE rank <= 100
), fused AS (
  SELECT a.doc_id,
         CAST(rank_a AS BIGINT) AS rank_a,
         CAST(rank_b AS BIGINT) AS rank_b,
         (CAST(1 AS DOUBLE) / CAST(60 + rank_a AS DOUBLE))
         + (CAST(1 AS DOUBLE) / CAST(60 + rank_b AS DOUBLE)) AS rrf_score
  FROM bm25_top a JOIN cos_top b USING (doc_id)
), cut AS (
  SELECT *,
         row_number() OVER (ORDER BY rrf_score DESC, doc_id ASC)
           AS fused_rank
  FROM fused
)
SELECT doc_id, rank_a, rank_b, rrf_score, CAST(fused_rank AS BIGINT)
         AS fused_rank
FROM cut WHERE fused_rank <= 20
"""


@register("q133_rrf_hybrid", _Q133_ORACLE)
def q133(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval — fuse the BM25 lexical ranking with a dense
    embedding-cosine ranking by reciprocal-rank fusion (Cormack et
    al. 2009), the standard hybrid-search combiner. Each retriever
    produces its own top-100 scale-safely (TakeOrderedAndProject
    heaps); fusion is then a broadcast join of two 100-row frames —
    the corpus never shuffles for the fusion step. The RRF terms are
    single IEEE divisions of exact integers summed in fixed order,
    bit-identical cross-engine with no rounding."""
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")

    # lexical side: full BM25 score frame, top-100 cut + dense rank
    from pyspark.sql import Window

    bm = (
        bm25_scores(docs, _BM25_TERMS)
        .orderBy(F.desc("score_micro"), F.asc("doc_id"))
        .limit(100)
    )
    wa = Window.orderBy(F.desc("score_micro"), F.asc("doc_id"))
    bm_ranked = bm.withColumn("rank", F.row_number().over(wa)).select(
        "doc_id", "rank"
    )

    # dense side: cosine to query vec 0, top-100 cut + dense rank
    qv = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").cast("array<double>").alias("qv")
    )
    cos = (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(qv))
        .select(
            F.col("vec_id").alias("doc_id"),
            cosine(
                F.col("embedding").cast("array<double>"), F.col("qv")
            ).alias("score"),
        )
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(100)
    )
    wb = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    cos_ranked = cos.withColumn("rank", F.row_number().over(wb)).select(
        "doc_id", "rank"
    )
    return rrf_fuse(bm_ranked, cos_ranked, id_col="doc_id", top=20)


# ---------------------------------------------------------------------------
# q134 — sorted-neighborhood candidate pairs
# ---------------------------------------------------------------------------

_Q134_ORACLE = f"""
WITH base AS (
  SELECT doc_id, lang,
         {_NORM_SQL} AS norm,
         list_distinct(list_transform(
           generate_series(1, greatest(len(string_split({_NORM_SQL}, ' ')) - 2, 1)),
           i -> array_to_string(string_split({_NORM_SQL}, ' ')[i:i+2], ' ')
         )) AS sh
  FROM documents
), rn AS (
  SELECT doc_id, lang, sh, len(sh) AS n_sh,
         row_number() OVER (PARTITION BY lang ORDER BY norm, doc_id) AS rn
  FROM base
), pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(b.rn - a.rn AS BIGINT) AS dist,
         len(list_intersect(a.sh, b.sh)) AS inter,
         a.n_sh AS n_a, b.n_sh AS n_b
  FROM rn a JOIN rn b
    ON a.lang = b.lang AND b.rn - a.rn BETWEEN 1 AND 4
)
SELECT doc_a, doc_b, dist,
       CAST(inter AS BIGINT) AS inter,
       CAST(inter AS DOUBLE) / (n_a + n_b - inter) AS jaccard
FROM pairs
"""


@register("q134_sorted_neighborhood", _Q134_ORACLE)
def q134(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood blocking (Hernández & Stolfo 1995) — the
    third candidate-generation family next to LSH banding and the
    shingle-posting self-join: sort each language block by the
    normalized text, compare each doc only with its 4 successors.
    Candidate count is exactly n·4 per block — linear and
    data-independent, immune to hot-shingle skew. One shuffle+sort
    serves the single window; successors arrive row-locally via
    lead() structs and pairing is an in-row explode, never a
    self-join (operators/dedup.sorted_neighborhood_pairs)."""
    docs = load_table(spark, sf_dir, "documents")
    return sorted_neighborhood_pairs(
        docs, block_cols=("lang",), k=3, window=5
    )


# ---------------------------------------------------------------------------
# q135 — triangle counting on the item co-interaction graph
# ---------------------------------------------------------------------------

_Q135_ORACLE = """
WITH ui AS (
  SELECT DISTINCT user_id, CAST(props->>'$.k' AS BIGINT) AS item FROM events
), co AS (
  SELECT a.item AS ia, b.item AS ib, count(*) AS nu
  FROM ui a JOIN ui b ON a.user_id = b.user_id AND a.item < b.item
  GROUP BY 1, 2
), e AS (
  SELECT ia AS a, ib AS b FROM co WHERE nu >= 40
), w AS (
  SELECT e1.a AS a, e1.b AS b, e2.b AS c
  FROM e e1 JOIN e e2 ON e1.b = e2.a
)
SELECT node, CAST(count(*) AS BIGINT) AS n_triangles
FROM (
  SELECT unnest([w.a, w.b, w.c]) AS node
  FROM w JOIN e e3 ON w.a = e3.a AND w.c = e3.b
)
GROUP BY node
"""


@register("q135_triangle_count", _Q135_ORACLE)
def q135(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vertex triangle counts on the item co-interaction graph
    (items linked when ≥ 40 users touched both) — the clustering-
    coefficient primitive completing the graph suite (components
    q55, PageRank q124). Edge construction is the per-user pair
    explode bounded by per-user activity (never a global item×item
    product); counting is two (long, long) hash equi-joins with the
    a<b<c orientation so each triangle counts exactly once
    (operators/graph.triangle_counts — see docstring for the
    degree-ordered variant at skew)."""
    ev = load_table(spark, sf_dir, "events")
    # pinned: ui feeds both sides of the co-interaction self-join —
    # unpinned, the events scan + JSON extract + distinct ran twice
    ui = ev.select(
        "user_id",
        F.get_json_object("props", "$.k").cast("long").alias("item"),
    ).distinct().transform(_pin)
    co = (
        ui.alias("l")
        .join(
            ui.alias("r"),
            (F.col("l.user_id") == F.col("r.user_id"))
            & (F.col("l.item") < F.col("r.item")),
        )
        .groupBy(F.col("l.item").alias("src"), F.col("r.item").alias("dst"))
        .agg(F.count(F.lit(1)).alias("nu"))
        .filter(F.col("nu") >= 40)
        .select("src", "dst")
    )
    from ..operators.graph import triangle_counts

    # co itself is single-consumer here: triangle_counts pins its
    # canonical edge frame before fanning it out to three join sides
    return triangle_counts(co)


# ---------------------------------------------------------------------------
# q136 — PMI co-occurrence lift over the top-vocabulary
# ---------------------------------------------------------------------------

_Q136_ORACLE = f"""
WITH t AS (
  SELECT doc_id, list_distinct(string_split({_NORM_SQL}, ' ')) AS dt
  FROM documents
), p AS (
  SELECT doc_id, unnest(dt) AS tok FROM t
), dfc AS (
  SELECT tok, count(*) AS df_t FROM p GROUP BY tok
), vocab AS (
  SELECT tok, df_t FROM dfc ORDER BY df_t DESC, tok ASC LIMIT 50
), hits AS (
  SELECT p.doc_id, p.tok FROM p JOIN vocab USING (tok)
), pairs AS (
  SELECT a.tok AS tok_a, b.tok AS tok_b, count(*) AS n_ab
  FROM hits a JOIN hits b ON a.doc_id = b.doc_id AND a.tok < b.tok
  GROUP BY 1, 2
), nd AS (
  SELECT count(*) AS n FROM t
)
SELECT tok_a, tok_b,
       CAST(n_ab AS BIGINT) AS n_ab,
       CAST(va.df_t AS BIGINT) AS n_a,
       CAST(vb.df_t AS BIGINT) AS n_b,
       CAST(n_ab * nd.n AS DOUBLE) / CAST(va.df_t * vb.df_t AS DOUBLE)
         AS lift
FROM pairs
JOIN vocab va ON tok_a = va.tok
JOIN vocab vb ON tok_b = vb.tok
CROSS JOIN nd
"""


@register("q136_pmi_cooccurrence", _Q136_ORACLE)
def q136(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-level co-occurrence lift (exp-PMI) for all top-50
    vocabulary pairs — collocation mining / association statistics
    (operators/lm.pmi_pairs). The pair space is vocab²-bounded, not
    corpus-bounded: the vocabulary cut is a TakeOrderedAndProject
    collected to the driver (50 strings, the q79 codebook pattern)
    and inlined sorted, so per-doc pair generation is an in-row
    combination explode — the corpus never self-joins. Lift is one
    exact-integer division (rank-equivalent to PMI, libm-free)."""
    docs = load_table(spark, sf_dir, "documents")
    from ..operators.lm import pmi_pairs

    return pmi_pairs(docs, vocab_size=50)


# ---------------------------------------------------------------------------
# q137 — time-series gap-fill with linear interpolation
# ---------------------------------------------------------------------------

_Q137_ORACLE = """
WITH e AS (
  SELECT user_id,
         (epoch_us(CAST(ts AS TIMESTAMP)) // 1000000) // 3600 AS bk,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events
), hourly AS (
  SELECT user_id, bk,
         CAST(sum(cents) AS BIGINT) AS v,
         CAST(count(*) AS BIGINT) AS n_obs
  FROM e GROUP BY 1, 2
), led AS (
  SELECT user_id, bk, v, n_obs,
         lead(bk) OVER w AS nbk,
         lead(v) OVER w AS nv
  FROM hourly WINDOW w AS (PARTITION BY user_id ORDER BY bk)
), g AS (
  SELECT *, coalesce(nbk - bk, 1) AS gap FROM led
), f AS (
  SELECT user_id, bk, v, nv, gap, n_obs,
         unnest(generate_series(0, gap - 1)) AS i
  FROM g
)
SELECT user_id,
       CAST((bk + i) * 3600 AS BIGINT) AS bucket_epoch,
       CASE WHEN i = 0 THEN v
            ELSE CAST(round(CAST(v AS DOUBLE)
                 + (CAST((nv - v) * i AS DOUBLE) / CAST(gap AS DOUBLE)))
                 AS BIGINT) END AS value_cents,
       (i = 0) AS observed,
       CASE WHEN i = 0 THEN n_obs ELSE CAST(0 AS BIGINT) END AS n_obs
FROM f
"""


@register("q137_gap_fill_interpolate", _Q137_ORACLE)
def q137(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly gap-fill with linear interpolation of per-user value
    series (operators/temporal.gap_fill_interpolate) — the
    time-series regularization verb. NOT a spine join: each observed
    bucket emits its forward gap row-locally via lead()+sequence
    (fan-out = real gap length), so one shuffle serves the hourly
    aggregate, the window, and the fill. Hourly values are exact
    integer cents; each interpolated point is one double chain on
    exact ints, rounded back to cents."""
    ev = load_table(spark, sf_dir, "events")
    from ..operators.temporal import gap_fill_interpolate

    return gap_fill_interpolate(
        ev, ["user_id"], "ts", "value", bucket_sec=3600, cents_scale=100
    )


# ---------------------------------------------------------------------------
# q138 — HLL audience overlap (inclusion–exclusion over register frames)
# ---------------------------------------------------------------------------


def _q138_oracle() -> str:
    from ..operators.sketches import (
        EST_NUMERATOR,
        HASH_BITS,
        M,
        R,
        RMAX,
        _SUFFIX_MASK,
    )

    rho_branches = "\n         ".join(
        f"WHEN (h & {_SUFFIX_MASK}) >= {1 << (R - j)} THEN {j}"
        for j in range(1, R + 1)
    )

    def est(prefix: str) -> str:
        return (
            f"{EST_NUMERATOR!r} / (coalesce(sum(CASE WHEN {prefix}b IS NOT"
            f" NULL THEN 1::BIGINT << ({RMAX} - {prefix}m) END), 0)"
            f" + ({M} - count({prefix}b)) * {1 << RMAX}::BIGINT)::DOUBLE"
        )

    return f"""
WITH h AS (
  SELECT event_type AS key,
         ('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, {HASH_BITS // 4}))::BIGINT
           AS h
  FROM events
), k AS (
  SELECT key, h >> {R} AS b,
         CASE {rho_branches} ELSE {RMAX} END AS rho
  FROM h
), regs AS (
  SELECT key, b, max(rho) AS m FROM k GROUP BY 1, 2
), singles AS (
  SELECT key, {est("")} AS est FROM regs GROUP BY key
), keys AS (
  SELECT DISTINCT key FROM regs
), pairs AS (
  SELECT a.key AS key_a, b.key AS key_b
  FROM keys a JOIN keys b ON a.key < b.key
), union_regs AS (
  SELECT key_a, key_b, b, max(m) AS m FROM (
    SELECT p.key_a, p.key_b, r.b, r.m
    FROM pairs p JOIN regs r ON r.key = p.key_a
    UNION ALL
    SELECT p.key_a, p.key_b, r.b, r.m
    FROM pairs p JOIN regs r ON r.key = p.key_b
  ) GROUP BY 1, 2, 3
), union_est AS (
  SELECT key_a, key_b, {est("")} AS approx_union
  FROM union_regs GROUP BY key_a, key_b
)
SELECT u.key_a, u.key_b,
       sa.est AS approx_a,
       sb.est AS approx_b,
       u.approx_union,
       (sa.est + sb.est) - u.approx_union AS approx_inter
FROM union_est u
JOIN singles sa ON u.key_a = sa.key
JOIN singles sb ON u.key_b = sb.key
"""


@register("q138_hll_overlap", _q138_oracle())
def q138(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience overlap between every pair of event types by HLL
    inclusion–exclusion (operators/sketches.hll_pairwise_overlap):
    |A∩B| ≈ est(A) + est(B) − est(A∪B), the union estimate finalized
    from the max-merged register frames — overlap WITHOUT rescanning
    raw data, the companion to q104's merge proof. The corpus is
    scanned once to build |keys|·m register rows; all pairwise work
    is register algebra bounded by |keys|²·m. All three estimates
    (and the fixed-order 2-term inclusion–exclusion) are the raw-HLL
    single-division doubles, bit-identical cross-engine."""
    from ..operators.sketches import hll_pairwise_overlap

    ev = load_table(spark, sf_dir, "events").select(
        F.col("event_type").alias("key"),
        F.col("user_id").cast("string").alias("uid"),
    )
    return hll_pairwise_overlap(ev, "key", "uid")


# ---------------------------------------------------------------------------
# q139 — U-shaped multi-touch attribution
# ---------------------------------------------------------------------------

_Q139_ORACLE = """
WITH t AS (
  SELECT user_id, ts, event_id, event_type FROM events
  WHERE event_type IN ('click', 'view')
), c AS (
  SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase'
), j AS (
  SELECT t.user_id, c.event_id AS cid, t.event_id AS tid, t.event_type,
         t.ts AS tts
  FROM t JOIN c ON t.user_id = c.user_id
   AND epoch_us(CAST(t.ts AS TIMESTAMP)) // 1000000
       < epoch_us(CAST(c.ts AS TIMESTAMP)) // 1000000
   AND epoch_us(CAST(c.ts AS TIMESTAMP)) // 1000000
       - epoch_us(CAST(t.ts AS TIMESTAMP)) // 1000000 <= 604800
), ranked AS (
  SELECT user_id, cid, tid, event_type,
         row_number() OVER (PARTITION BY user_id, cid
                            ORDER BY tts, tid) AS rn,
         count(*) OVER (PARTITION BY user_id, cid) AS n_t
  FROM j
), credited AS (
  SELECT event_type AS touch_type, user_id, cid,
         CASE WHEN n_t = 1 THEN 10000
              WHEN n_t = 2 THEN 5000
              WHEN rn = 1 THEN 4000
              WHEN rn = n_t
                THEN 4000 + (2000 - (2000 // (n_t - 2)) * (n_t - 2))
              ELSE 2000 // (n_t - 2) END AS credit_bp
  FROM ranked
)
SELECT touch_type,
       CAST(sum(credit_bp) AS BIGINT) AS credited_bp,
       CAST(count(*) AS BIGINT) AS n_touches,
       CAST(count(DISTINCT (user_id, cid)) AS BIGINT) AS n_conversions
FROM credited GROUP BY touch_type
"""


@register("q139_position_attribution", _Q139_ORACLE)
def q139(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U-shaped multi-touch attribution: every purchase credits ALL
    its click/view touches in the prior 7 days — 40/20/40 first/
    middles/last in exact integer basis points summing to 10000 per
    conversion (operators/temporal.position_attribution; q42's as-of
    join is the single-match special case). One user-keyed equi-join
    bounded by per-user activity, one window serving both position
    rank and touch count, integer-only aggregates."""
    ev = load_table(spark, sf_dir, "events")
    touches = ev.filter(F.col("event_type").isin("click", "view"))
    conversions = ev.filter(F.col("event_type") == "purchase")
    from ..operators.temporal import position_attribution

    return position_attribution(
        touches, conversions, "user_id", "ts", "event_id"
    )


# ---------------------------------------------------------------------------
# q140 — product-quantization ANN (asymmetric distance computation)
# ---------------------------------------------------------------------------


def _q140_oracle(m: int = 4, subdim: int = 16, kk: int = 8, k: int = 5) -> str:
    from ..operators.similarity import pq_codebooks

    cbs = pq_codebooks(m=m, subdim=subdim, k=kk)
    values = ",\n    ".join(
        f"({s}, {ci}, [{', '.join(repr(x) for x in c)}]::DOUBLE[])"
        for s, cb in enumerate(cbs)
        for ci, c in enumerate(cb)
    )
    adc_terms = " + ".join(
        f"max(CASE WHEN s = {s} THEN d END)" for s in range(m)
    )
    return f"""
WITH cents(s, ci, c) AS (VALUES
    {values}
), e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
), sub AS (
  SELECT vec_id, t.s,
         list_slice(v, t.s * {subdim} + 1, t.s * {subdim} + {subdim}) AS sv
  FROM e CROSS JOIN range(0, {m}) t(s)
), dist AS (
  SELECT sub.vec_id, sub.s, cents.ci,
         -2.0 * list_dot_product(sv, c) + list_dot_product(c, c) AS d
  FROM sub JOIN cents ON cents.s = sub.s
), codes AS (
  SELECT vec_id, s, ci FROM (
    SELECT vec_id, s, ci,
           row_number() OVER (PARTITION BY vec_id, s ORDER BY d, ci) AS rn
    FROM dist)
  WHERE rn = 1
), pairt AS (
  SELECT qd.vec_id AS query_id, c.vec_id AS neighbor_id, qd.s, qd.d
  FROM codes c JOIN dist qd ON qd.s = c.s AND qd.ci = c.ci
  WHERE qd.vec_id < 10 AND qd.vec_id != c.vec_id
), wide AS (
  SELECT query_id, neighbor_id,
         CAST(round(({adc_terms}) * 1000000.0) AS BIGINT) AS adc_micro
  FROM pairt GROUP BY 1, 2
), final AS (
  SELECT query_id, neighbor_id, adc_micro,
         row_number() OVER (
           PARTITION BY query_id
           ORDER BY adc_micro ASC, neighbor_id ASC) AS rank
  FROM wide)
SELECT query_id, neighbor_id, adc_micro, CAST(rank AS BIGINT) AS rank
FROM final WHERE rank <= {k}
"""


@register("q140_pq_adc_topk", _q140_oracle())
def q140(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (Jégou et al. 2011) — the compressed-
    domain tier of the ANN suite: corpus encoded once into 4
    subspace codes (4 B/vector for 64 doubles), queries scan codes
    via per-subspace asymmetric distance tables
    (operators/similarity.pq_adc_topk). Encoding is row-local
    literal-fold ranking (zero shuffle); the ADC scan broadcasts
    queries and streams codes through one codegen projection; every
    distance is a fixed-order 4-term sum of fold-exact doubles, so
    the whole pipeline value-verifies against the literal-codebook
    oracle twin. Codebooks are deterministic artifacts (the q79
    posture; per-subspace training is q39's trainer applied to
    slices)."""
    from ..operators.similarity import pq_adc_topk, pq_codebooks

    emb = load_table(spark, sf_dir, "embeddings")
    return pq_adc_topk(
        emb, emb.filter(F.col("vec_id") < 10), pq_codebooks(), k=5
    )


# ---------------------------------------------------------------------------
# q141 — deterministic negative sampling for contrastive training
# ---------------------------------------------------------------------------

_Q141_ORACLE = """
WITH q AS (
  SELECT doc_id AS query_id FROM documents WHERE doc_id < 20
), pairs AS (
  SELECT q.query_id, c.doc_id AS neg_id,
         ('0x' || substring(md5('neg-v1:' || CAST(q.query_id AS VARCHAR)
                                || ':' || CAST(c.doc_id AS VARCHAR)), 1, 12))::BIGINT
           AS draw_key
  FROM documents c CROSS JOIN q
  WHERE c.doc_id != q.query_id
), ranked AS (
  SELECT query_id, neg_id, draw_key,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY draw_key ASC, neg_id ASC) AS rank
  FROM pairs
)
SELECT query_id, neg_id, draw_key, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= 5
"""


@register("q141_negative_sampling", _Q141_ORACLE)
def q141(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic uniform negative sampling
    (operators/sampling.negative_samples): 5 negatives per query doc
    drawn by salted-md5 ranking — a reproducible per-query
    pseudo-random permutation, stable across runs, engines, and
    repartitioning (the training-data contract hash_split
    established, applied to contrastive pairs). Query ids broadcast;
    the corpus never shuffles; per-query top-k is one rank window on
    the query key."""
    docs = load_table(spark, sf_dir, "documents")
    from ..operators.sampling import negative_samples

    return negative_samples(docs, docs.filter(F.col("doc_id") < 20), k=5)


# ---------------------------------------------------------------------------
# q142 — one BPE merge iteration, corpus-wide
# ---------------------------------------------------------------------------

_Q142_ORACLE = f"""
WITH t AS (
  SELECT doc_id, {_NORM_SQL} AS norm FROM documents
), tok AS (
  SELECT doc_id, norm, string_split(norm, ' ') AS l FROM t
), bg AS (
  SELECT unnest(list_transform(generate_series(1, len(l) - 1),
                               i -> l[i] || ' ' || l[i + 1])) AS bigram
  FROM tok WHERE len(l) >= 2
), top AS (
  SELECT bigram, count(*) AS c FROM bg GROUP BY 1
  ORDER BY c DESC, bigram ASC LIMIT 1
), s AS (
  SELECT doc_id,
         CAST(len(l) AS BIGINT) AS n_tokens_before,
         ' ' || replace(norm, ' ', '  ') || ' ' AS s2
  FROM tok
)
SELECT s.doc_id,
       top.bigram AS merged_pair,
       s.n_tokens_before,
       CAST(length(s2) - length(replace(s2,
            ' ' || replace(top.bigram, ' ', '  ') || ' ',
            ' ' || replace(top.bigram, ' ', '~') || ' ')) AS BIGINT)
         AS n_merges,
       s.n_tokens_before
         - CAST(length(s2) - length(replace(s2,
              ' ' || replace(top.bigram, ' ', '  ') || ' ',
              ' ' || replace(top.bigram, ' ', '~') || ' ')) AS BIGINT)
         AS n_tokens_after
FROM s CROSS JOIN top
"""


@register("q142_bpe_merge_step", _Q142_ORACLE)
def q142(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One corpus-wide BPE training iteration (Sennrich et al. 2016):
    select the most frequent adjacent token pair (map-side-combined
    count + TakeOrdered(1) — operators/lm.top_bigram), then apply
    the merge greedily non-overlapping to every document and report
    per-doc merge effects (operators/lm.bpe_merge_step). The greedy
    scan is pure row-local string algebra — separator doubling makes
    a single literal replace() perform exactly the non-overlapping
    BPE pass, with the merge count falling out of the length delta —
    zero shuffle after the pair-selection aggregate, no sequential
    fold, no UDF. The driver loop (select→merge→recount per round)
    is this query iterated."""
    docs = load_table(spark, sf_dir, "documents")
    from ..operators.lm import bpe_merge_step, top_bigram

    pair = top_bigram(docs)
    return bpe_merge_step(docs, pair)


# ---------------------------------------------------------------------------
# q143 — positional-index phrase search
# ---------------------------------------------------------------------------

_Q143_ORACLE = f"""
WITH t AS (
  SELECT doc_id, string_split({_NORM_SQL}, ' ') AS l FROM documents
), posting AS (
  SELECT doc_id, i AS pos, l[i] AS tok
  FROM t CROSS JOIN LATERAL unnest(generate_series(1, len(l))) AS u(i)
  WHERE l[i] IN ('hash', 'join')
), a AS (
  SELECT doc_id, pos FROM posting WHERE tok = 'hash'
), b AS (
  SELECT doc_id, pos FROM posting WHERE tok = 'join'
), matches AS (
  SELECT a.doc_id, a.pos
  FROM a JOIN b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_matches,
       CAST(min(pos) AS BIGINT) AS first_pos
FROM matches GROUP BY doc_id
"""


@register("q143_phrase_search", _Q143_ORACLE)
def q143(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact phrase search ("hash join") over a POSITIONAL inverted
    index — the search-engine primitive BM25 (q132) cannot express:
    term adjacency. The posting explodes (doc, pos, tok) but filters
    to the phrase's terms BEFORE the join (posting lists, not the
    corpus), then adjacency is one equi-join on (doc, pos+1) — the
    k-term phrase generalizes to k−1 chained equi-joins, each keyed
    on 16-B (doc, pos) pairs. The row-local bigram trick (q142)
    only handles adjacency of 2; this is the index-shaped path a
    100 TB search tier actually runs."""
    docs = load_table(spark, sf_dir, "documents")
    from ..operators.text import normalize_text as _norm, tokens as _toks

    staged = docs.select(
        "doc_id", _toks(_norm("text")).alias("toks")
    )
    posting = (
        staged.select(
            "doc_id", F.posexplode("toks").alias("pos0", "tok")
        )
        .filter(F.col("tok").isin("hash", "join"))
        .select("doc_id", (F.col("pos0") + 1).alias("pos"), "tok")
    )
    a = posting.filter(F.col("tok") == "hash").select("doc_id", "pos")
    b = posting.filter(F.col("tok") == "join").select(
        "doc_id", (F.col("pos") - 1).alias("pos")
    )
    matches = a.join(b, ["doc_id", "pos"])
    return matches.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_matches"),
        F.min("pos").cast("long").alias("first_pos"),
    )


# ---------------------------------------------------------------------------
# q144 — event-type transition matrix (first-order Markov)
# ---------------------------------------------------------------------------

_Q144_ORACLE = """
WITH seq AS (
  SELECT user_id, event_type,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev_type
  FROM events
), trans AS (
  SELECT prev_type AS from_type, event_type AS to_type, count(*) AS n
  FROM seq WHERE prev_type IS NOT NULL
  GROUP BY 1, 2
), totals AS (
  SELECT from_type, sum(n) AS n_from FROM trans GROUP BY 1
)
SELECT t.from_type, t.to_type,
       CAST(t.n AS BIGINT) AS n,
       CAST(tt.n_from AS BIGINT) AS n_from,
       CAST(t.n AS DOUBLE) / CAST(tt.n_from AS DOUBLE) AS p
FROM trans t JOIN totals tt USING (from_type)
"""


@register("q144_transition_matrix", _Q144_ORACLE)
def q144(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences — the path-analysis aggregate behind funnel mining and
    next-event prediction features. One shuffle (the user window)
    produces all transitions row-locally via lag; the |types|²
    matrix and its row totals are tiny broadcast aggregates;
    probabilities are single divisions of exact counts."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    ).filter(F.col("prev_type").isNotNull())
    trans = seq.groupBy(
        F.col("prev_type").alias("from_type"),
        F.col("event_type").alias("to_type"),
    ).agg(F.count(F.lit(1)).alias("n"))
    # row totals via a window over the |types|²-row matrix — a
    # totals-groupBy + re-join would re-execute the event-window
    # subtree (Catalyst has no CSE across self-references)
    wt = Window.partitionBy("from_type")
    return trans.select(
        "from_type",
        "to_type",
        F.col("n").cast("long").alias("n"),
        F.sum("n").over(wt).cast("long").alias("n_from"),
        (
            F.col("n").cast("double")
            / F.sum("n").over(wt).cast("double")
        ).alias("p"),
    )


# ---------------------------------------------------------------------------
# q145 — cross-source quantile normalization
# ---------------------------------------------------------------------------

_Q145_ORACLE = """
WITH e AS (
  SELECT event_id, event_type, value FROM events
), g AS (
  SELECT value, row_number() OVER (ORDER BY value, event_id) AS gpos FROM e
), n AS (
  SELECT count(*) AS n_total FROM e
), s AS (
  SELECT event_id, event_type, value,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY value, event_id) AS rn,
         count(*) OVER (PARTITION BY event_type) AS n_grp
  FROM e
), m AS (
  SELECT event_id, event_type, value,
         CASE WHEN n_grp = 1 THEN (n_total + 1) // 2
              ELSE 1 + ((rn - 1) * (n_total - 1)) // (n_grp - 1)
         END AS pos
  FROM s CROSS JOIN n
)
SELECT m.event_id, m.event_type, m.value, g.value AS q_value
FROM m JOIN g ON m.pos = g.gpos
"""


@register("q145_quantile_normalize", _Q145_ORACLE)
def q145(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile normalization of per-type value distributions onto
    the GLOBAL empirical distribution — the batch-effect correction
    that makes heterogeneous sources comparable (microarray-style
    quantile mapping): each row's within-type rank is mapped to the
    global value at the proportional position (exact integer
    position arithmetic, no interpolation — the value passes through
    verbatim, so no float divergence is possible).

    Both rankings are POSITION reads (row_number, never rank/pct),
    so they ride scalable_row_number — the 100 TB-safe replacement
    for a low-cardinality window partition that also skips
    two_phase_rank's tie-group groupBy+join (rank semantics would
    double the shuffle for nothing here; the q153 lesson applied
    back): the global ranking directly, the per-type ranking as one
    global row_number over (type, value, id) minus broadcast
    per-type offsets. The position join is a fine-grained equi-join
    on a long key."""
    from ..operators.windows import grouped_row_number, scalable_row_number

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    # n_total rides the global kernel's driver stats as a PYTHON int
    # (total_out → a literal in the pos expression) and n_grp rides
    # the grouped kernel's offsets pass (count_col) — the two
    # standalone count aggregates each re-ran a full events scan per
    # consuming execution, plus their broadcast joins; all gone
    tot: dict = {}
    g = scalable_row_number(
        ev.select("value", "event_id"), ("value", "event_id"),
        out_col="pos",
        total_out=tot,
    ).select("pos", F.col("value").alias("q_value"))
    s = grouped_row_number(
        ev, "event_type", ("value", "event_id"), out_col="rn",
        count_col="n_grp",
    ).select("event_id", "event_type", "value", "rn", "n_grp")
    n_total = F.lit(tot["n"]).cast("long")
    m = (
        s.select(
            "event_id",
            "event_type",
            "value",
            F.when(
                F.col("n_grp") == 1,
                F.floor((n_total + 1) / 2).cast("long"),
            )
            .otherwise(
                1
                + F.floor(
                    ((F.col("rn") - 1) * (n_total - 1))
                    / (F.col("n_grp") - 1)
                ).cast("long")
            )
            .alias("pos"),
        )
    )
    return m.join(g, "pos").select(
        "event_id", "event_type", "value", "q_value"
    )


# ---------------------------------------------------------------------------
# q146 — trailing-window distinct users per day (rolling HLL merge)
# ---------------------------------------------------------------------------


def _q146_oracle(window_days: int = 7) -> str:
    from ..operators.sketches import (
        EST_NUMERATOR,
        HASH_BITS,
        M,
        R,
        RMAX,
        _SUFFIX_MASK,
    )

    rho_branches = "\n         ".join(
        f"WHEN (h & {_SUFFIX_MASK}) >= {1 << (R - j)} THEN {j}"
        for j in range(1, R + 1)
    )
    est = (
        f"{EST_NUMERATOR!r} / (coalesce(sum(CASE WHEN b IS NOT NULL"
        f" THEN 1::BIGINT << ({RMAX} - m) END), 0)"
        f" + ({M} - count(b)) * {1 << RMAX}::BIGINT)::DOUBLE"
    )
    return f"""
WITH h AS (
  SELECT (epoch_us(CAST(ts AS TIMESTAMP)) // 1000000) // 86400 AS d,
         ('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, {HASH_BITS // 4}))::BIGINT
           AS h
  FROM events
), k AS (
  SELECT d, h >> {R} AS b,
         CASE {rho_branches} ELSE {RMAX} END AS rho
  FROM h
), daily AS (
  SELECT d, b, max(rho) AS m FROM k GROUP BY 1, 2
), span AS (
  SELECT min(d) AS lo, max(d) AS hi FROM daily
), targets AS (
  SELECT t.day, daily.b, daily.m
  FROM daily
  CROSS JOIN LATERAL unnest(generate_series(d, d + {window_days - 1}))
    AS t(day)
  CROSS JOIN span
  WHERE t.day >= span.lo AND t.day <= span.hi
), merged AS (
  SELECT day, b, max(m) AS m FROM targets GROUP BY 1, 2
)
SELECT CAST(day * 86400 AS BIGINT) AS day_epoch,
       {est} AS approx_distinct
FROM merged GROUP BY day
"""


@register("q146_rolling_hll_users", _q146_oracle())
def q146(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day distinct users, daily — the rolling-retention
    metric — via HLL REGISTER ALGEBRA
    (operators/sketches.hll_rolling_distinct): raw events are
    scanned once into per-day register frames; each trailing window
    is the bucket-wise max merge of its ≤7 daily frames, produced by
    a row-local explode of register rows into the days they serve
    (the q128 bucket idea applied to sketch state). Rolling state is
    |days|·m rows regardless of event volume — the exact-distinct
    form re-scans 7 days of raw data PER DAY. Estimates are the raw
    single-division HLL doubles, bit-identical cross-engine."""
    from ..operators.sketches import hll_rolling_distinct

    ev = load_table(spark, sf_dir, "events").select(
        "ts", F.col("user_id").cast("string").alias("uid")
    )
    return hll_rolling_distinct(ev, "ts", "uid", window_days=7)


# ---------------------------------------------------------------------------
# q147 — IVF-PQ composed ANN (coarse cells + compressed-domain rerank)
# ---------------------------------------------------------------------------


def _q147_oracle(
    n_coarse: int = 16,
    dim: int = 64,
    m: int = 4,
    subdim: int = 16,
    kk: int = 8,
    nprobe: int = 4,
    k: int = 5,
) -> str:
    from ..operators.similarity import _hyperplanes, pq_codebooks

    coarse = _hyperplanes(n_coarse, dim, seed=0xC0DE)
    coarse_values = ",\n    ".join(
        f"({i}, [{', '.join(repr(x) for x in c)}]::DOUBLE[])"
        for i, c in enumerate(coarse)
    )
    cbs = pq_codebooks(m=m, subdim=subdim, k=kk)
    pq_values = ",\n    ".join(
        f"({s}, {ci}, [{', '.join(repr(x) for x in c)}]::DOUBLE[])"
        for s, cb in enumerate(cbs)
        for ci, c in enumerate(cb)
    )
    adc_terms = " + ".join(
        f"max(CASE WHEN s = {s} THEN d END)" for s in range(m)
    )
    return f"""
WITH coarse(ci, c) AS (VALUES
    {coarse_values}
), cents(s, ci, c) AS (VALUES
    {pq_values}
), e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
), cdists AS (
  SELECT vec_id, ci,
         -2.0 * list_dot_product(v, c) + list_dot_product(c, c) AS d
  FROM e CROSS JOIN coarse
), cranked AS (
  SELECT vec_id, ci,
         row_number() OVER (PARTITION BY vec_id ORDER BY d, ci) AS rn
  FROM cdists
), sub AS (
  SELECT vec_id, t.s,
         list_slice(v, t.s * {subdim} + 1, t.s * {subdim} + {subdim}) AS sv
  FROM e CROSS JOIN range(0, {m}) t(s)
), dist AS (
  SELECT sub.vec_id, sub.s, cents.ci,
         -2.0 * list_dot_product(sv, c) + list_dot_product(c, c) AS d
  FROM sub JOIN cents ON cents.s = sub.s
), codes AS (
  SELECT vec_id, s, ci FROM (
    SELECT vec_id, s, ci,
           row_number() OVER (PARTITION BY vec_id, s ORDER BY d, ci) AS rn
    FROM dist)
  WHERE rn = 1
), corpus_cell AS (
  SELECT vec_id AS neighbor_id, ci AS cell FROM cranked WHERE rn = 1
), probes AS (
  SELECT vec_id AS query_id, ci AS cell FROM cranked
  WHERE rn <= {nprobe} AND vec_id < 10
), pairt AS (
  SELECT p.query_id, cc.neighbor_id, qd.s, qd.d
  FROM corpus_cell cc
  JOIN probes p USING (cell)
  JOIN codes c2 ON c2.vec_id = cc.neighbor_id
  JOIN dist qd ON qd.vec_id = p.query_id
              AND qd.s = c2.s AND qd.ci = c2.ci
  WHERE p.query_id != cc.neighbor_id
), wide AS (
  SELECT query_id, neighbor_id,
         CAST(round(({adc_terms}) * 1000000.0) AS BIGINT) AS adc_micro
  FROM pairt GROUP BY 1, 2
), final AS (
  SELECT query_id, neighbor_id, adc_micro,
         row_number() OVER (
           PARTITION BY query_id
           ORDER BY adc_micro ASC, neighbor_id ASC) AS rank
  FROM wide)
SELECT query_id, neighbor_id, adc_micro, CAST(rank AS BIGINT) AS rank
FROM final WHERE rank <= {k}
"""


@register("q147_ivfpq_topk", _q147_oracle())
def q147(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ — the composed production ANN index (the FAISS
    `IVF16,PQ4` shape): q79's coarse cells bound the CANDIDATE SET
    (nprobe=4 cells join), q140's PQ codes bound the BYTES per
    candidate (operators/similarity.ivfpq_topk). Corpus rows carry
    (cell, 4 codes); queries explode into probes carrying their ADC
    tables; one hash equi-join on the cell key; ADC micro-quantized
    per the FMA rule. Completes the ANN ladder: brute q27 → LSH
    q32/q95 → IVF q39/q79 → PQ q140 → IVF-PQ q147."""
    from ..operators.similarity import (
        _hyperplanes,
        ivfpq_topk,
        pq_codebooks,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    return ivfpq_topk(
        emb,
        emb.filter(F.col("vec_id") < 10),
        _hyperplanes(16, 64, seed=0xC0DE),
        pq_codebooks(),
        k=5,
        nprobe=4,
    )


# ---------------------------------------------------------------------------
# q148 — MinHash estimator calibration (estimate vs exact Jaccard)
# ---------------------------------------------------------------------------


def _q148_oracle(num_hashes: int = 64) -> str:
    from .corpus_queries import _minhash_cte

    agree_terms = " + ".join(
        f"CAST(a._h{s} = b._h{s} AS INT)" for s in range(num_hashes)
    )
    return f"""
{_minhash_cte()},
agree AS (
  SELECT c.doc_a, c.doc_b, ({agree_terms}) AS est_matches
  FROM cand c
  JOIN sig a ON c.doc_a = a.doc_id
  JOIN sig b ON c.doc_b = b.doc_id
), verified AS (
  SELECT c.doc_a, c.doc_b,
         CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
           / CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))
                  AS DOUBLE) AS jaccard
  FROM cand c
  JOIN base a ON c.doc_a = a.doc_id
  JOIN base b ON c.doc_b = b.doc_id
)
SELECT g.doc_a, g.doc_b,
       CAST(g.est_matches AS BIGINT) AS est_matches,
       CAST(g.est_matches AS DOUBLE) / CAST({num_hashes} AS DOUBLE)
         AS est_jaccard,
       v.jaccard
FROM agree g JOIN verified v ON g.doc_a = v.doc_a AND g.doc_b = v.doc_b
"""


@register("q148_minhash_calibration", _q148_oracle())
def q148(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash estimator calibration: every LSH candidate pair with
    BOTH its signature-agreement estimate (matching positions / 64 —
    whose expectation IS the true Jaccard) and the exact shingle-set
    value (operators/dedup.minhash_estimate_pairs +
    verify_pairs_jaccard at threshold 0). Production pipelines use
    the estimate to skip exact verification when decisive; this
    query is the monitoring view that keeps the estimator honest.
    Signatures compute once (persisted for the call, the q65
    lesson); agreement is a row-local zip_with; both emitted doubles
    are single exact-integer divisions."""
    from ..operators.dedup import minhash_estimate_pairs, verify_pairs_jaccard

    docs = load_table(spark, sf_dir, "documents")
    # NOTE (r12 opt round): minhash_estimate_pairs already returns an
    # eagerly checkpointed frame (its "released after an eager cut"
    # contract), so both consumers below (verify's candidate list and
    # the calibration join) read ONE materialization — a second pin
    # here measured as pure overhead (+1 job) and was dropped.
    est = minhash_estimate_pairs(docs)
    exact = verify_pairs_jaccard(
        docs, est.select("doc_a", "doc_b"), k=3, threshold=0.0
    )
    return est.join(exact, ["doc_a", "doc_b"])


# ---------------------------------------------------------------------------
# q149 — join-cardinality estimation from count-min sketches
# ---------------------------------------------------------------------------


def _q149_oracle(depth: int = 4, width: int = 256) -> str:
    def cm_cell(expr: str, j: str) -> str:
        return (
            f"('0x' || substring(md5('cm' || CAST({j} AS VARCHAR) || ':'"
            f" || {expr}), 1, 8))::BIGINT % {width}"
        )

    return f"""
WITH ja AS (
  SELECT t.j AS j, {cm_cell("CAST(user_id AS VARCHAR)", "t.j")} AS cell,
         CAST(count(*) AS BIGINT) AS cnt
  FROM events CROSS JOIN range(0, {depth}) t(j)
  GROUP BY 1, 2
), jb AS (
  SELECT t.j AS j, {cm_cell("CAST(o_custkey AS VARCHAR)", "t.j")} AS cell,
         CAST(count(*) AS BIGINT) AS cnt
  FROM orders CROSS JOIN range(0, {depth}) t(j)
  GROUP BY 1, 2
), ip AS (
  SELECT x.j, sum(x.cnt * y.cnt) AS ip
  FROM ja x JOIN jb y ON x.j = y.j AND x.cell = y.cell
  GROUP BY x.j
), est AS (
  SELECT CAST(coalesce(min(ip), 0) AS BIGINT) AS cm_estimate FROM ip
), fa AS (
  SELECT CAST(user_id AS VARCHAR) AS k, count(*) AS na
  FROM events GROUP BY 1
), fb AS (
  SELECT CAST(o_custkey AS VARCHAR) AS k, count(*) AS nb
  FROM orders GROUP BY 1
), exact AS (
  SELECT CAST(sum(na * nb) AS BIGINT) AS exact_size
  FROM fa JOIN fb USING (k)
)
SELECT exact.exact_size, est.cm_estimate,
       CAST(est.cm_estimate - exact.exact_size AS BIGINT) AS overcount
FROM exact CROSS JOIN est
"""


@register("q149_join_size_estimate", _q149_oracle())
def q149(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-cardinality estimation WITHOUT running the join — the
    optimizer statistic: count-min sketches of events.user_id and
    orders.o_custkey, estimate = min over sketch rows of the cell
    inner product (an upper bound for every row — Cormode &
    Muthukrishnan §4.2), emitted next to the exact size for
    calibration (operators/sketches.cm_join_size_estimate). Each
    table is scanned once into a constant-size cell aggregate;
    sketches merge by addition (store-per-partition, estimate
    later). Width 256 is deliberately small so hash collisions make
    the overcount VISIBLE at test scale."""
    from ..operators.sketches import cm_join_size_estimate

    ev = load_table(spark, sf_dir, "events")
    orders = load_table(spark, sf_dir, "orders")
    return cm_join_size_estimate(ev, "user_id", orders, "o_custkey")
# (coalesce mirrors the operator's empty-join guard; with this data
# the join is never empty, but oracle and engine must agree on the
# degenerate case too)


# ---------------------------------------------------------------------------
# q150 — incremental rollup maintenance (partial-aggregate merge proof)
# ---------------------------------------------------------------------------

_Q150_ORACLE = """
WITH split AS (
  SELECT min(ts) + (max(ts) - min(ts)) / 2 AS cut FROM events
), base AS (
  SELECT user_id, count(*) AS n, sum(CAST(round(value * 100) AS BIGINT)) AS s
  FROM events CROSS JOIN split WHERE ts < cut GROUP BY user_id
), delta AS (
  SELECT user_id, count(*) AS n, sum(CAST(round(value * 100) AS BIGINT)) AS s
  FROM events CROSS JOIN split WHERE ts >= cut GROUP BY user_id
), merged AS (
  SELECT user_id,
         CAST(sum(n) AS BIGINT) AS n_merged,
         CAST(sum(s) AS BIGINT) AS s_merged
  FROM (SELECT * FROM base UNION ALL SELECT * FROM delta)
  GROUP BY user_id
), direct AS (
  SELECT user_id,
         CAST(count(*) AS BIGINT) AS n_direct,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS s_direct
  FROM events GROUP BY user_id
)
SELECT m.user_id, m.n_merged, m.s_merged, d.n_direct, d.s_direct,
       (m.n_merged = d.n_direct AND m.s_merged = d.s_direct)
         AS maintenance_exact
FROM merged m JOIN direct d USING (user_id)
"""


@register("q150_incremental_rollup", _Q150_ORACLE)
def q150(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance proof — the batch
    analogue of q104's sketch-merge: a per-user rollup kept as
    PARTIAL aggregates (count + exact integer-cent sum) over a base
    segment is refreshed by MERGING the delta segment's partials —
    never rescanning the base — and emitted NEXT TO the
    direct-from-raw rollup with an equality flag, so the driver hash
    breaks if merge semantics ever drift. count/sum are the
    decomposable-aggregate class (AVG = merged s/n downstream); at
    100 TB this is the nightly-refresh shape: the base scan happens
    once in history, every refresh touches only the delta."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.col("ts").cast("timestamp").alias("ts"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    span = ev.agg(
        (
            F.min("ts").cast("long")
            + (F.max("ts").cast("long") - F.min("ts").cast("long")) / 2
        ).alias("cut_epoch")
    )
    e = ev.crossJoin(F.broadcast(span))
    base = (
        e.filter(F.col("ts").cast("long") < F.col("cut_epoch"))
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("cents").alias("s"))
    )
    delta = (
        e.filter(F.col("ts").cast("long") >= F.col("cut_epoch"))
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("cents").alias("s"))
    )
    merged = (
        base.unionByName(delta)
        .groupBy("user_id")
        .agg(
            F.sum("n").cast("long").alias("n_merged"),
            F.sum("s").cast("long").alias("s_merged"),
        )
    )
    direct = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_direct"),
        F.sum("cents").cast("long").alias("s_direct"),
    )
    return merged.join(direct, "user_id").select(
        "user_id",
        "n_merged",
        "s_merged",
        "n_direct",
        "s_direct",
        (
            (F.col("n_merged") == F.col("n_direct"))
            & (F.col("s_merged") == F.col("s_direct"))
        ).alias("maintenance_exact"),
    )


# ---------------------------------------------------------------------------
# q151 — zone-map pruning effectiveness: Z-order vs linear layout
# ---------------------------------------------------------------------------

_Q151_FILE_ROWS = 4096
_Q151_PREDS = ((1, 5), (6, 10), (1, 50))


def _q151_oracle() -> str:
    from ..operators.layout import zorder_key_sql

    z = zorder_key_sql("l_partkey", "l_suppkey")
    preds = ",\n    ".join(f"({lo}, {hi})" for lo, hi in _Q151_PREDS)
    return f"""
WITH keyed AS (
  SELECT l_partkey, l_suppkey,
         {z} AS zval,
         l_orderkey * 8 + l_linenumber AS rk
  FROM lineitem
), rz AS (
  SELECT 'zorder' AS layout, l_suppkey,
         row_number() OVER (ORDER BY zval, rk) AS rn
  FROM keyed
), rl AS (
  SELECT 'linear' AS layout, l_suppkey,
         row_number() OVER (ORDER BY l_partkey, rk) AS rn
  FROM keyed
), files AS (
  SELECT layout, (rn - 1) // {_Q151_FILE_ROWS} AS file_id,
         count(*) AS n_rows,
         min(l_suppkey) AS mn, max(l_suppkey) AS mx
  FROM (SELECT * FROM rz UNION ALL SELECT * FROM rl)
  GROUP BY 1, 2
), preds(pred_lo, pred_hi) AS (VALUES
    {preds}
)
SELECT layout,
       CAST(pred_lo AS BIGINT) AS pred_lo,
       CAST(pred_hi AS BIGINT) AS pred_hi,
       CAST(count(*) AS BIGINT) AS n_files,
       CAST(sum(CASE WHEN NOT (mx < pred_lo OR mn > pred_hi)
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_scanned,
       CAST(sum(CASE WHEN NOT (mx < pred_lo OR mn > pred_hi)
                     THEN n_rows ELSE 0 END) AS BIGINT) AS rows_scanned,
       CAST(sum(CASE WHEN NOT (mx < pred_lo OR mn > pred_hi)
                     THEN 1 ELSE 0 END) AS DOUBLE)
         / CAST(count(*) AS DOUBLE) AS scan_fraction
FROM files CROSS JOIN preds
GROUP BY 1, 2, 3
"""


@register("q151_zone_map_pruning", _q151_oracle())
def q151(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-skipping effectiveness — the metric that justifies q119's
    layout pass: build zone maps for the SAME table under the
    Z-order layout and a naive primary-key-sorted layout, replay
    range predicates on the SECONDARY key (l_suppkey) against each,
    and emit files/rows scanned per (layout, predicate). Z-order
    keeps both dimensions locally contiguous so its secondary-key
    zone maps prune; the linear layout's suppkey ranges each span
    the whole domain and scan everything — the emitted table is that
    argument as data. All planning math runs on the |files|-row
    metadata frame; file assignment is scalable_row_number (range
    exchange, never a single-task window)."""
    from ..operators.layout import zone_maps, zorder_key
    from ..operators.windows import scalable_row_number

    li = load_table(spark, sf_dir, "lineitem")
    keyed = li.select(
        "l_partkey",
        "l_suppkey",
        zorder_key(F.col("l_partkey"), F.col("l_suppkey")).alias("zval"),
        (F.col("l_orderkey") * 8 + F.col("l_linenumber")).alias("rk"),
    ).transform(_pin)  # both layout passes range-exchange this frame:
    # unpinned, each would rescan parquet and re-interleave the Z bits
    layouts = []
    for tag, order in (("zorder", ("zval", "rk")), ("linear", ("l_partkey", "rk"))):
        rn = scalable_row_number(keyed, order, out_col="rn")
        files = zone_maps(
            rn.select(
                "l_suppkey",
                F.floor((F.col("rn") - 1) / _Q151_FILE_ROWS).alias("file_id"),
            ),
            "file_id",
            ("l_suppkey",),
        )
        layouts.append(files.select(F.lit(tag).alias("layout"), "*"))
    zm = layouts[0].unionByName(layouts[1])
    preds = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(lo).cast("long").alias("pred_lo"),
                    F.lit(hi).cast("long").alias("pred_hi"),
                )
                for lo, hi in _Q151_PREDS
            ]
        )
    ).alias("p")
    crossed = zm.select("*", preds).select(
        "layout",
        "n_rows",
        F.col("min_l_suppkey").alias("mn"),
        F.col("max_l_suppkey").alias("mx"),
        F.col("p.pred_lo").alias("pred_lo"),
        F.col("p.pred_hi").alias("pred_hi"),
    )
    scanned = ~((F.col("mx") < F.col("pred_lo")) | (F.col("mn") > F.col("pred_hi")))
    return crossed.groupBy("layout", "pred_lo", "pred_hi").agg(
        F.count(F.lit(1)).cast("long").alias("n_files"),
        F.sum(scanned.cast("int")).cast("long").alias("n_scanned"),
        F.sum(F.when(scanned, F.col("n_rows")).otherwise(0))
        .cast("long")
        .alias("rows_scanned"),
        (
            F.sum(scanned.cast("int")).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("scan_fraction"),
    )


# ---------------------------------------------------------------------------
# q152 — per-group trend: least-squares slope from exact integer moments
# ---------------------------------------------------------------------------

_Q152_ORACLE = """
WITH ref AS (
  SELECT min((epoch_us(CAST(ts AS TIMESTAMP)) // 1000000) // 3600) AS h0
  FROM events
), pts AS (
  SELECT event_type,
         (epoch_us(CAST(ts AS TIMESTAMP)) // 1000000) // 3600
           - (SELECT h0 FROM ref) AS x,
         CAST(round(value * 100) AS BIGINT) AS y
  FROM events
), m AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx,
         CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * y) AS BIGINT) AS sxy,
         CAST(sum(x * x) AS BIGINT) AS sxx
  FROM pts GROUP BY event_type
)
SELECT event_type, n, sx, sy,
       CAST(n * sxy - sx * sy AS DOUBLE)
         / CAST(n * sxx - sx * sx AS DOUBLE) AS slope_cents_per_hour,
       CAST(round(((CAST(sy AS DOUBLE)
              - (CAST(n * sxy - sx * sy AS DOUBLE)
                 / CAST(n * sxx - sx * sx AS DOUBLE))
                * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE)) * 1000000.0)
            AS BIGINT) AS intercept_micro
FROM m
"""


@register("q152_trend_slope", _Q152_ORACLE)
def q152(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group least-squares trend — is each event type's value
    drifting? — computed ENTIRELY from exact integer moments (n, Σx,
    Σy, Σxy, Σx² in BIGINT over hour offsets × integer cents): one
    map-side-combined aggregate per group, slope = ONE division of
    exact integers (bit-portable, the q64 correlation trick applied
    to regression), intercept micro-rounded because slope·Σx is an
    FMA-contractible polynomial (the q140 rule). The reference
    timestamp is a 1-row broadcast min — no window, no second scan
    funnel."""
    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        "event_type",
        F.floor(F.col("ts").cast("long") / 3600).alias("h"),
        F.round(F.col("value") * 100).cast("long").alias("y"),
    )
    ref = base.agg(F.min("h").alias("h0"))
    pts = base.crossJoin(F.broadcast(ref)).select(
        "event_type", (F.col("h") - F.col("h0")).alias("x"), "y"
    )
    m = pts.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
        "double"
    )
    den = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
        "double"
    )
    slope = num / den
    intercept = (
        (
            F.col("sy").cast("double")
            - slope * F.col("sx").cast("double")
        )
        / F.col("n").cast("double")
    )
    return m.select(
        "event_type",
        "n",
        "sx",
        "sy",
        slope.alias("slope_cents_per_hour"),
        F.round(intercept * F.lit(1e6)).cast("long").alias("intercept_micro"),
    )
