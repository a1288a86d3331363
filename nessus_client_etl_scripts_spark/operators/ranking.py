"""Lexical ranking + hybrid-retrieval fusion operators.

BM25 keyword scoring and reciprocal-rank fusion — the retrieval
side of a training-data pipeline (mining docs for a topic, hybrid
lexical+dense candidate generation before dedup/selection).

Reference parity note: the reference engine (a cron ETL around a
vulnerability-scanner REST API) has no search surface; these extend
the LLM-data-pipeline layer (SURVEY.md §7 Phase 4) the brief asks
for. Float portability follows PLANS.md: all corpus statistics are
exact integers, each per-(doc, term) contribution is one
deterministic IEEE double chain on identical inputs, and the only
cross-row float reduction is an exact BIGINT sum of micro-rounded
contributions — no log/exp (the Robertson-Sparck-Jones idf is used
in its raw odds-ratio form, not its log), no order-dependent double
sums.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..catalog import spread_for_compute
from .text import normalize_text, tokens
from ..pins import pin_lazy as _pin_lazy

__all__ = ["bm25_scores", "bm25_topk", "rrf_fuse"]


def bm25_scores(
    df: DataFrame,
    terms: tuple[str, ...],
) -> DataFrame:
    """Okapi BM25 (k1 = 1.2, b = 0.75) scores for a literal keyword set
    over a document corpus, returned per matching document as an exact
    ``score_micro`` BIGINT (round(score · 1e6)).

    Shape, built for the 100 TB corpus rather than the 500-doc test
    slice:

    - term frequencies are |Q| ROW-LOCAL columns over the staged
      token array (one array filter per term — no posting explode,
      no (doc, term) pair frame at all);
    - ALL corpus statistics — N, Σdl, and every per-term document
      frequency — come from ONE tiny aggregate (a single 1-row frame
      of conditional sums), broadcast back via a cross join: the
      corpus is traversed exactly twice (stats + scoring) and never
      shuffles;
    - idf uses the raw RSJ odds ratio (N − df + 0.5)/(df + 0.5)
      rather than its log: rank-equivalent per term, and libm-free
      so the doubles are bit-identical cross-engine (PLANS.md
      rule #2);
    - each per-term contribution is a single double chain on exact
      integer inputs, micro-rounded to BIGINT, and the per-doc score
      is their ROW-LOCAL fixed-order integer sum — associative, so
      it equals the oracle's unordered SUM over (doc, term) rows
      exactly, with no groupBy(doc) shuffle in the plan (a tf=0
      term contributes a clean 0).
    """
    staged = spread_for_compute(df).select(
        F.col("doc_id"),
        tokens(normalize_text("text")).alias("toks"),
    )
    nt = len(terms)

    # arity matters: a 2-param lambda makes filter() bind (elem, idx)
    def _tf_col(i: int, t: str) -> Column:
        def eq(x: Column) -> Column:
            return x == F.lit(t)

        return F.size(F.filter(F.col("toks"), eq)).alias(f"tf_{i}")

    # Pin the tokenized projection: `lens` feeds BOTH the stats
    # aggregate and the scoring pass, and unpinned each consumer
    # re-ran normalize+tokenize over the corpus (the expensive text
    # work — everything downstream is integer algebra on 2+|Q| narrow
    # columns). Lazy: the stats aggregate is always a full scan, so
    # it materializes the checkpoint inside its own job; the pin sits
    # on the spread (or raw-scan) partitioning, never on an
    # AQE-coalesced exchange, so downstream parallelism is preserved
    # (the q161 counter-case does not apply).
    lens = staged.select(
        "doc_id",
        F.size("toks").alias("dl"),
        *[_tf_col(i, t) for i, t in enumerate(terms)],
    ).transform(_pin_lazy)
    stats = lens.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").cast("long").alias("sum_dl"),
        *[
            F.sum((F.col(f"tf_{i}") > 0).cast("long")).alias(f"df_{i}")
            for i in range(nt)
        ],
    )
    scored = lens.crossJoin(F.broadcast(stats))

    nd = F.col("n_docs").cast("double")
    dld = F.col("dl").cast("double")
    avgdl = F.col("sum_dl").cast("double") / nd

    def contrib_micro(i: int) -> Column:
        dft = F.col(f"df_{i}").cast("double")
        tfd = F.col(f"tf_{i}").cast("double")
        # raw RSJ odds-ratio idf — mirrored token-for-token in oracles
        idf = (nd - dft + F.lit(0.5)) / (dft + F.lit(0.5))
        c = idf * (
            (tfd * F.lit(2.2))
            / (tfd + F.lit(1.2) * (F.lit(0.25) + F.lit(0.75) * (dld / avgdl)))
        )
        return F.round(c * F.lit(1e6)).cast("long")

    score = contrib_micro(0)
    n_hit = (F.col("tf_0") > 0).cast("long")
    for i in range(1, nt):
        score = score + contrib_micro(i)
        n_hit = n_hit + (F.col(f"tf_{i}") > 0).cast("long")
    return scored.select(
        "doc_id",
        n_hit.alias("n_terms"),
        score.alias("score_micro"),
    ).filter(F.col("n_terms") > 0)


def bm25_topk(
    df: DataFrame,
    terms: tuple[str, ...],
    k: int = 20,
) -> DataFrame:
    """Global BM25 top-k with a dense 1..k rank. The cut happens in
    a TakeOrderedAndProject (per-partition heaps + one k-row merge —
    never a global sort), and the row_number window then runs on the
    k-row result only, so the single-partition ranking funnel is
    bounded by k, not the corpus."""
    top = (
        bm25_scores(df, terms)
        .orderBy(F.desc("score_micro"), F.asc("doc_id"))
        .limit(k)
    )
    w = Window.orderBy(F.desc("score_micro"), F.asc("doc_id"))
    return top.withColumn("rank", F.row_number().over(w).cast("long"))


def _rrf_term(rank_col: Column) -> Column:
    """1/(60 + rank) with the addition exact-integer and the division
    the single double op — identical IEEE result in any engine."""
    return F.lit(1).cast("double") / (
        (F.lit(60) + rank_col).cast("double")
    )


def rrf_fuse(
    ranked_a: DataFrame,
    ranked_b: DataFrame,
    id_col: str = "doc_id",
    top: int = 20,
) -> DataFrame:
    """Reciprocal-rank fusion of two candidate rankings (Cormack et
    al. 2009): score = 1/(60+rank_a) + 1/(60+rank_b) over the ids both
    retrievers returned.

    Candidate-set semantics: both inputs are TOP-N frames (each
    produced scale-safely by its retriever's own TakeOrdered cut),
    so this join is a broadcast of two k-row frames — fusion never
    touches the corpus. The two divisions are each a single IEEE op
    on exact integers and their sum has a fixed two-term order, so
    the fused score is bit-identical cross-engine without rounding."""
    a = ranked_a.select(
        F.col(id_col), F.col("rank").alias("rank_a")
    )
    b = ranked_b.select(
        F.col(id_col), F.col("rank").alias("rank_b")
    )
    fused = a.join(b, id_col).select(
        id_col,
        F.col("rank_a").cast("long").alias("rank_a"),
        F.col("rank_b").cast("long").alias("rank_b"),
        (
            _rrf_term(F.col("rank_a"))
            + _rrf_term(F.col("rank_b"))
        ).alias("rrf_score"),
    )
    cut = fused.orderBy(F.desc("rrf_score"), F.asc(id_col)).limit(top)
    w = Window.orderBy(F.desc("rrf_score"), F.asc(id_col))
    return cut.withColumn("fused_rank", F.row_number().over(w).cast("long"))
