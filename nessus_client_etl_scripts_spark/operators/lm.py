"""Corpus n-gram language-model statistics — the "train global stats,
score every document against them" two-pass shape that backs
perplexity-style quality filtering in LLM data pipelines (CCNet/Dolma
run a KenLM here; this is the engine-native integer-exact analogue).

Scale posture: the model side is an aggregation (map-side partial
combine, shuffle carries (bigram, count) longs, never documents); the
scoring side is one equi-join on the bigram key. At 100 TB the stats
frame is corpus-vocabulary-bounded, orders of magnitude smaller than
the corpus — AQE broadcasts it when it fits, falls back to a shuffle
join keyed on short strings when it doesn't. All emitted doubles are
single IEEE divisions of exact integers, so scores verify value-exactly
cross-engine (PLANS.md float rule #2: no logs/exps in the hot path —
portable across libm implementations by construction).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .text import normalize_text, tokens
from ..pins import pin as _pin, pin_lazy as _pin_lazy


def bigrams_from_tokens(toks: Column) -> Column:
    """Adjacent token pairs of a token array as space-joined strings;
    empty array below 2 tokens (the sequence(1,0) descending trap —
    see text.ngrams).

    Built as zip_with over the array and its own 1-shifted slice, NOT
    a transform over an index sequence: an index lambda must reference
    the array per element (element_at(toks, i)), and when Catalyst's
    CollapseProject inlines the tokenizer expression into the
    consuming projection that reference re-tokenizes the document per
    position — O(L²) per doc; q168's posting build measured 15.4 s →
    1.1 s at sf0.1 from this rewrite alone. The slide references the
    array only in whole-array ops (size/slice), so a collapsed
    tokenizer runs a bounded ~5 times per ROW, never per element."""
    n = F.size(toks)
    slide = F.zip_with(
        F.slice(toks, 1, n - 1),
        F.slice(toks, 2, n - 1),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    return F.when(n >= 2, slide).otherwise(
        F.array().cast("array<string>")
    )


def doc_bigrams(df: DataFrame) -> DataFrame:
    """(doc_id, bigram) posting — tokenization and the bigram build are
    staged in separate projections so each runs once per document
    (the q58 expression-staging rule), then exploded. The input is
    spread across cores first (shingling-class per-row work)."""
    from ..catalog import spread_for_compute

    staged = spread_for_compute(df).select(
        F.col("doc_id"),
        tokens(normalize_text("text")).alias("toks"),
    )
    bg = staged.select(
        "doc_id", bigrams_from_tokens(F.col("toks")).alias("bg")
    )
    return bg.select("doc_id", F.explode_outer("bg").alias("bigram"))


def bigram_counts(posting: DataFrame) -> DataFrame:
    """Corpus bigram frequency table from a (doc_id, bigram) posting —
    one hash aggregation, partial-combined map-side."""
    return (
        posting.filter(F.col("bigram").isNotNull())
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("bg_count"))
    )


def bigram_novelty(
    df: DataFrame,
    rare_max_count: int = 2,
) -> DataFrame:
    """Per-document novelty score against the corpus bigram LM: the
    fraction of a document's bigrams that are corpus-rare (global
    count ≤ ``rare_max_count``), plus the mean corpus frequency of its
    bigrams. High rare-ratio flags out-of-distribution / noisy text;
    near-zero flags boilerplate — the integer-exact stand-in for the
    KenLM perplexity band filter (CCNet's head/middle/tail split).

    The posting feeds BOTH the model aggregation and the scoring join —
    two subtrees of one action, so the tokenize+bigram pipeline
    executes twice. Deliberately NOT persisted: an A/B at sf0.1
    measured recompute == cache (1.03 s vs 1.05 s warm) — the pipeline
    is a projection chain over a small columnar scan, cheaper to re-run
    than to write through the columnar cache (same finding as
    dedup.containment_pairs; the CC iterative case differs because its
    upstream is a multi-join). Every output is an exact integer or a
    single division of exact integers.
    """
    posting = doc_bigrams(df)
    counts = bigram_counts(posting)
    scored = posting.filter(F.col("bigram").isNotNull()).join(
        counts, "bigram"
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_bigrams"),
        F.sum("bg_count").cast("long").alias("sum_count"),
        F.sum(
            F.when(F.col("bg_count") <= rare_max_count, 1).otherwise(0)
        ).cast("long").alias("n_rare"),
    ).select(
        "doc_id",
        "n_bigrams",
        "sum_count",
        "n_rare",
        (F.col("n_rare") / F.col("n_bigrams")).alias("rare_ratio"),
        (F.col("sum_count") / F.col("n_bigrams")).alias("mean_count"),
    )


def pmi_pairs(
    df: DataFrame,
    vocab_size: int = 50,
) -> DataFrame:
    """Pointwise-mutual-information-style co-occurrence lift for every
    pair of the top-``vocab_size`` tokens: lift(a,b) =
    P(a,b)/(P(a)·P(b)) = (n_ab · N)/(n_a · n_b) over document-level
    presence — collocation mining / embedding-free association, the
    corpus statistic under phrase detectors (word2vec's phrase pass)
    and topic drift monitors. The LOG of lift is classic PMI; the
    raw odds ratio is emitted instead because it is rank-equivalent
    per pair and libm-free (PLANS.md float rule — one exact-integer
    division, value-portable cross-engine).

    Scale shape: the pair space is bounded by vocab_size², NOT the
    corpus — the only corpus-sized work is one token explode for
    document frequencies (map-side combined) and one row-local
    intersection per doc. The vocabulary is cut by a
    TakeOrderedAndProject over the df aggregate and collected to the
    driver (vocab_size strings — bounded small state, the q79
    codebook pattern), then inlined as a SORTED literal array so
    per-doc pair generation is an in-row combination explode of an
    array no longer than the vocab — never a posting self-join."""
    staged = df.select(
        F.col("doc_id"),
        F.array_distinct(tokens(normalize_text("text"))).alias("dtoks"),
    )
    presence = staged.select(
        "doc_id", F.explode("dtoks").alias("tok")
    )
    dfc = presence.groupBy("tok").agg(
        F.count(F.lit(1)).cast("long").alias("df_t")
    )
    vocab_rows = (
        dfc.orderBy(F.desc("df_t"), F.asc("tok")).limit(vocab_size).collect()
    )
    vocab = sorted(r["tok"] for r in vocab_rows)
    vocab_df = {r["tok"]: r["df_t"] for r in vocab_rows}
    vlit = F.array(*[F.lit(t) for t in vocab])

    # array_intersect preserves the FIRST argument's order, so the
    # pre-sorted literal vocabulary makes every per-doc hit array
    # sorted — pair generation emits (a < b) by construction.
    hits = staged.select(
        "doc_id", F.array_intersect(vlit, F.col("dtoks")).alias("hv")
    )
    n = F.size("hv")
    combos = hits.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.col("hv"),
                    lambda x, i: F.transform(
                        F.slice(F.col("hv"), i + F.lit(2), n),
                        lambda y: F.struct(x.alias("a"), y.alias("b")),
                    ),
                )
            )
        ).alias("p")
    ).select(F.col("p.a").alias("tok_a"), F.col("p.b").alias("tok_b"))
    pair_counts = combos.groupBy("tok_a", "tok_b").agg(
        F.count(F.lit(1)).cast("long").alias("n_ab")
    )
    n_docs = staged.count()
    dfa = F.create_map(
        *[x for t in vocab for x in (F.lit(t), F.lit(vocab_df[t]))]
    )
    return pair_counts.select(
        "tok_a",
        "tok_b",
        "n_ab",
        dfa[F.col("tok_a")].cast("long").alias("n_a"),
        dfa[F.col("tok_b")].cast("long").alias("n_b"),
        (
            (F.col("n_ab") * F.lit(n_docs)).cast("double")
            / (dfa[F.col("tok_a")] * dfa[F.col("tok_b")]).cast("double")
        ).alias("lift"),
    )


def top_bigram(df: DataFrame) -> str:
    """The corpus's most frequent adjacent token pair (count desc,
    lexical asc tie-break) — the merge-candidate selection of one BPE
    training iteration. One map-side-combined aggregation + a
    TakeOrdered(1); the single winning row is driver state (the
    watermark-collect pattern)."""
    row = (
        bigram_counts(doc_bigrams(df))
        .orderBy(F.desc("bg_count"), F.asc("bigram"))
        .limit(1)
        .collect()
    )
    return row[0]["bigram"]


def bpe_merge_step(
    df: DataFrame,
    pair: str,
) -> DataFrame:
    """Apply ONE BPE merge (Sennrich et al. 2016) corpus-wide and
    report the per-document effect — the inner loop of tokenizer
    training at corpus scale (select top pair → merge → recount),
    here as a single declarative step so the driver can iterate.

    Non-overlapping greedy left-to-right pair merging — the BPE rule
    ("a a a" merges once under pair (a,a), not twice) — is expressed
    WITHOUT any sequential fold: double every token separator, so
    each token owns its boundary spaces, then a single literal
    ``replace`` of " a  b " → " a~b " performs exactly the greedy
    non-overlapping scan (string replace resumes AFTER each
    replacement); the merge count falls out of the length difference
    (the replacement is one char shorter). Pure string algebra —
    row-local, zero shuffle, identical semantics in any engine.

    The '~' merge marker must not occur in the normalized text
    (asserted against the pair itself; corpus-wide absence is the
    caller's contract, trivially true for whitespace-tokenized
    lowercase corpora)."""
    a, b = pair.split(" ")
    assert "~" not in pair
    staged = df.select(
        F.col("doc_id"),
        normalize_text("text").alias("norm"),
    )
    s2 = F.concat(
        F.lit(" "), F.regexp_replace(F.col("norm"), " ", "  "), F.lit(" ")
    )
    target = f" {a}  {b} "
    repl = f" {a}~{b} "
    exp = staged.select(
        "doc_id",
        F.size(tokens(F.col("norm"))).alias("n_tokens_before"),
        s2.alias("_s2"),
    ).select(
        "doc_id",
        "n_tokens_before",
        (
            F.length("_s2") - F.length(F.replace(F.col("_s2"), F.lit(target), F.lit(repl)))
        ).cast("long").alias("n_merges"),
    )
    return exp.select(
        "doc_id",
        F.lit(pair).alias("merged_pair"),
        F.col("n_tokens_before").cast("long").alias("n_tokens_before"),
        "n_merges",
        (F.col("n_tokens_before") - F.col("n_merges"))
        .cast("long")
        .alias("n_tokens_after"),
    )


def bpe_train(
    df: DataFrame,
    n_merges: int = 6,
    return_state: bool = False,
):
    """Full BPE vocabulary training (Sennrich et al. 2016): iterate
    :func:`top_bigram`-select → greedy-merge ``n_merges`` times and
    emit the MERGE TABLE — rank, winning pair, its corpus frequency at
    selection time, the number of merges actually applied (≤ frequency
    because greedy merging is non-overlapping), and the corpus token
    count after the round. This is the artifact a tokenizer ships; the
    per-round kernel is exactly :func:`bpe_merge_step`'s string
    algebra, and the driver loop is the accepted unroll pattern (q39's
    Lloyd iterations): each round's heavy work — one map-side-combined
    bigram count and one row-local merge rewrite — is a Spark job, the
    driver holds only the single winning pair per round.

    The evolving corpus state is ``localCheckpoint``ed per round:
    round r's plan would otherwise replay rounds 1..r-1's string
    rewrites from parquet (O(K²) total work and an O(K)-deep
    expression tree for Catalyst to chew).

    The '~' marker joins merged tokens ("a b" → "a~b") so merged units
    stay single whitespace-tokens for the next round's bigram count —
    the caller's contract is that it never occurs in the normalized
    corpus (same contract as :func:`bpe_merge_step`)."""
    spark = df.sparkSession
    # NULL-text contract (r7 ADVICE): a null document adds +1 per round
    # to the T = Σc + n_docs token ledger (n_docs counts every row)
    # while contributing nothing to the bigram counts or to the final
    # token scan (size(split(null)) is null under F.sum) — so nulls
    # are dropped up front and n below counts non-null documents only.
    state = (
        df.select(
            F.col("doc_id"),
            normalize_text("text").alias("s"),
        )
        .filter(F.col("s").isNotNull())
        .transform(_pin_lazy)
    )
    # ONE job per round: the (count desc, pair asc) winner is
    # min(struct(-c, bigram)) and the corpus token count falls out of
    # the same frame via per-doc tokens = bigrams + 1 (split never
    # yields an empty array): T = Σc + n_docs. No separate top-1 sort
    # job, no separate token-count scan.
    n_docs = state.count()
    meta: list[tuple[str, int]] = []  # (pair, frequency-at-selection)
    tok: list[int] = []  # tok[r] = corpus tokens after r merges
    for _ in range(n_merges):
        stats = (
            state.select(F.split("s", " ").alias("toks"))
            .select(
                F.explode(bigrams_from_tokens(F.col("toks"))).alias("bigram")
            )
            .groupBy("bigram")
            .agg(F.count(F.lit(1)).alias("c"))
            .agg(
                F.min(
                    F.struct((-F.col("c")).alias("nc"), F.col("bigram"))
                ).alias("w"),
                F.sum("c").alias("total"),
            )
            .collect()[0]
        )
        if stats["w"] is None:
            break
        tok.append(int(stats["total"]) + n_docs)  # tokens BEFORE this merge
        pair = stats["w"]["bigram"]
        meta.append((pair, -int(stats["w"]["nc"])))
        # later-round pairs legitimately contain the marker (merged
        # units are single tokens); only the RAW corpus must lack it
        a, b = pair.split(" ")
        s2 = F.concat(
            F.lit(" "),
            F.replace(F.col("s"), F.lit(" "), F.lit("  ")),
            F.lit(" "),
        )
        merged = F.replace(
            s2, F.lit(f" {a}  {b} "), F.lit(f" {a}~{b} ")
        )
        state = state.select(
            "doc_id",
            F.trim(F.replace(merged, F.lit("  "), F.lit(" "))).alias("s"),
        ).transform(_pin_lazy)
    # one final scan closes the ledger: tokens after the last merge
    tok.append(
        int(
            state.agg(F.sum(F.size(F.split("s", " ")))).collect()[0][0]
            or 0
        )
    )
    out = [
        (r, pair, c, tok[r - 1] - tok[r], tok[r])
        for r, (pair, c) in enumerate(meta, 1)
    ]
    table = spark.createDataFrame(
        out,
        "merge_rank long, merged_pair string, pair_count long,"
        " n_merges long, n_tokens_after long",
    )
    if return_state:
        # The final localCheckpoint'ed state IS the training corpus
        # with every merge applied — consumers that need it (vocab
        # extraction for byte-fallback encoding) take it here instead
        # of re-running a K-deep merge_chain rewrite over the corpus.
        return table, state
    return table


def bigram_lm_score(df: DataFrame) -> DataFrame:
    """Laplace-smoothed bigram conditional-likelihood score per
    document — the engine-native analogue of the KenLM perplexity
    filter (CCNet/Gopher quality tier): train p(w2|w1) =
    (c(w1,w2)+1)/(c(w1·)+V) on the corpus itself, then score each
    document by its mean per-bigram probability. Where
    :func:`bigram_novelty` reads the JOINT frequency (how rare is
    this pair), this reads the CONDITIONAL model (how predictable is
    the next token given the previous one) — the two are the
    frequency- and model-based halves of the same filter family.

    Float portability (PLANS.md): the geometric mean (true
    perplexity) needs log sums whose accumulation order differs
    across engines, so the ARITHMETIC mean of probabilities is
    emitted instead — rank-equivalent for the band-filter use and
    exactly portable: each per-bigram probability is one IEEE
    division of exact integers, micro-rounded to a BIGINT BEFORE the
    order-independent integer sum; the mean is one integer floor
    division.

    Scale: the model is two map-side-combined aggregations bounded by
    the observed-bigram vocabulary (≪ corpus); scoring is one
    equi-join of the posting against the model — AQE broadcasts the
    model when it fits (real-text bigram tables are ~10⁷ rows /
    ~100 MB, broadcastable), else a shuffle join on short string
    keys. The posting is pinned: it feeds THREE subtrees here (model,
    vocab, scoring join), and each unpinned scan re-runs the
    tokenize+explode pipeline (the two-consumer recompute==cache
    finding from bigram_novelty does not extend to three)."""
    # staged is pinned EAGERLY: it feeds the posting (below) and the
    # vocab aggregate, which build as concurrent stages of the final
    # action — a lazy pin could be materialized twice under that
    # concurrency (the graph.py `large`-frame rule), and eager keeps
    # normalize+tokenize to exactly ONE corpus pass.
    staged = df.select(
        F.col("doc_id"),
        tokens(normalize_text("text")).alias("toks"),
    ).transform(_pin)
    posting = (
        staged.select(
            "doc_id", bigrams_from_tokens(F.col("toks")).alias("bg")
        )
        .select("doc_id", F.explode("bg").alias("bigram"))
        .transform(_pin_lazy)
    )
    model = posting.groupBy("bigram").agg(
        F.count(F.lit(1)).cast("long").alias("c12")
    )
    # context count c(w1·) = sum of c12 over the first token; vocab V
    # over all tokens (unigrams, so the last token of each doc counts)
    ctx = model.groupBy(
        F.split_part(F.col("bigram"), F.lit(" "), F.lit(1)).alias("w1")
    ).agg(F.sum("c12").cast("long").alias("c1"))
    vocab = staged.select(F.explode("toks").alias("w")).agg(
        F.countDistinct("w").cast("long").alias("v")
    )
    contrib = (
        model.withColumn(
            "w1", F.split_part(F.col("bigram"), F.lit(" "), F.lit(1))
        )
        .join(ctx, "w1")
        .crossJoin(F.broadcast(vocab))
        .select(
            "bigram",
            F.round(
                F.lit(1000000.0)
                * (
                    (F.col("c12") + F.lit(1)).cast("double")
                    / (F.col("c1") + F.col("v")).cast("double")
                )
            )
            .cast("long")
            .alias("p_micro"),
        )
    )
    scored = posting.join(contrib, "bigram").groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_bigrams"),
        F.sum("p_micro").cast("long").alias("sum_prob_micro"),
    )
    base = df.select(F.col("doc_id"))
    return (
        base.join(scored, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_bigrams", F.lit(0).cast("long")).alias("n_bigrams"),
            F.coalesce("sum_prob_micro", F.lit(0).cast("long")).alias(
                "sum_prob_micro"
            ),
            F.coalesce(
                F.expr("sum_prob_micro div n_bigrams"), F.lit(0).cast("long")
            ).alias("mean_prob_micro"),
        )
    )


def dsir_importance(
    df: DataFrame,
    target_pred: Column,
    buckets: int = 64,
    salt: str = "dsir-v1",
) -> DataFrame:
    """Hashed-n-gram importance weighting (DSIR, Xie et al. 2023):
    score every document by how much more likely its tokens are under
    a TARGET distribution (rows matching ``target_pred``) than under
    the full SOURCE corpus, over ``buckets`` hashed unigram features.
    High scorers are "target-like" — the data-selection verb that
    upsamples in-domain text when curating a pretraining mix.

    DSIR sums log-likelihood ratios; the portable variant emitted
    here weight-sums the MICRO-ROUNDED probability ratios instead
    (rank-preserving for the select-top-fraction use): each bucket's
    ratio (cnt_T+1)(n_S+B) / (cnt_S+1)(n_T+B) is one IEEE division
    of two exact BIGINT products (both < 2⁵³ through sf10, so the
    doubles are exact), micro-rounded once, then combined per
    document as Σ c_b·r_b over exact integers — order-independent,
    log-free (PLANS.md float rule).

    Scale: the ratio table is B rows (driver-chosen constant) —
    broadcast by construction; the per-document bucket histogram is
    one map-side-combined aggregation on (doc_id, bucket); nothing
    corpus-sized ever shuffles except that histogram's 16-byte keys."""
    from .sampling import _u48

    staged = df.select(
        F.col("doc_id"),
        target_pred.alias("is_target"),
        tokens(normalize_text("text")).alias("toks"),
    )
    words = staged.select(
        "doc_id", "is_target", F.explode("toks").alias("w")
    ).select(
        "doc_id",
        "is_target",
        (_u48(F.col("w"), salt) % F.lit(buckets)).alias("b"),
    )
    # r12 opt round: src/tgt/totals each re-ran the tokenize + explode
    # + hash pipeline (`words` had FOUR consumers).  The per-document
    # histogram — keyed (doc_id, is_target, b); is_target is
    # functionally dependent on doc_id so the groups are unchanged —
    # is now the ONLY corpus-sized pass, pinned eagerly (its two
    # consumers build as concurrent stages), and every corpus
    # statistic is a marginal of it: the per-bucket source/target
    # counts sum `c` (conditionally for the target side — a bucket
    # with no target tokens yields 0 where the old left join yielded
    # NULL, identical after the +1 smoothing's coalesce), and n_s/n_t
    # are the bucket table's own sums, so the ratio table costs two
    # ≤B-row aggregates instead of two more corpus scans.
    hist = (
        words.groupBy("doc_id", "is_target", "b")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .transform(_pin)
    )
    bucket = hist.groupBy("b").agg(
        F.sum("c").cast("long").alias("cnt_s"),
        F.sum(F.when(F.col("is_target"), F.col("c")).otherwise(0))
        .cast("long")
        .alias("cnt_t"),
    )
    totals = bucket.agg(
        F.sum("cnt_s").cast("long").alias("n_s"),
        F.sum("cnt_t").cast("long").alias("n_t"),
    )
    ratio = bucket.crossJoin(F.broadcast(totals)).select(
        "b",
        F.round(
            F.lit(1000000.0)
            * (
                (
                    (F.col("cnt_t") + F.lit(1))
                    * (F.col("n_s") + F.lit(buckets))
                ).cast("double")
                / (
                    (F.col("cnt_s") + F.lit(1))
                    * (F.col("n_t") + F.lit(buckets))
                ).cast("double")
            )
        )
        .cast("long")
        .alias("r_micro"),
    )
    return (
        hist.join(F.broadcast(ratio), "b")
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("long").alias("n_tokens"),
            F.sum(F.col("c") * F.col("r_micro")).cast("long").alias("imp_micro"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "imp_micro",
            F.expr("imp_micro div n_tokens").alias("mean_ratio_micro"),
            (F.expr("imp_micro div n_tokens") >= F.lit(1000000)).alias(
                "selected"
            ),
        )
    )


def merge_chain(norm: Column, merges: list[str]) -> Column:
    """The trained merge table applied as ONE nested row-local string
    expression: each rank unrolls to q142's doubled-separator greedy
    replace.  Zero aggregations, zero shuffles — this is the column
    every encode-time consumer (:func:`bpe_encode`, byte-fallback
    accounting, vocab extraction) composes over."""
    enc = norm
    for pair in merges:
        a, b = pair.split(" ")
        s2 = F.concat(
            F.lit(" "),
            F.replace(enc, F.lit(" "), F.lit("  ")),
            F.lit(" "),
        )
        enc = F.trim(
            F.replace(
                F.replace(
                    s2, F.lit(f" {a}  {b} "), F.lit(f" {a}~{b} ")
                ),
                F.lit("  "),
                F.lit(" "),
            )
        )
    return enc


def bpe_apply(
    df: DataFrame,
    merges: list[str],
) -> DataFrame:
    """(doc_id, s): every document's post-merge token state — the
    normalized text with all K trained merges applied.  One row-local
    projection; downstream consumers explode ``split(s, ' ')`` for
    token-level work (vocab extraction, byte-fallback accounting)."""
    return df.select(
        F.col("doc_id"),
        merge_chain(normalize_text("text"), merges).alias("s"),
    )


def bpe_encode(
    df: DataFrame,
    merges: list[str],
) -> DataFrame:
    """Apply a TRAINED merge table (rank-ordered pairs from
    :func:`bpe_train`) to every document — the tokenizer's encode
    step. Unlike training, encoding needs NO aggregation at all: the
    K merges unroll into one nested row-local string expression (each
    layer is the q142 doubled-separator greedy replace), so the whole
    encode is a single projection pass — the shape you want when
    tokenizing 100 TB with a vocabulary trained on a sample.

    Output per document: raw and encoded whitespace-token counts, the
    tokens saved, and saved_micro = round-half-up(1e6·saved/raw)
    (integer tie rule — the q197 pattern)."""
    norm = normalize_text("text")
    enc = merge_chain(norm, merges)
    staged = df.select(
        F.col("doc_id"),
        F.size(tokens(norm)).cast("long").alias("n_tokens_raw"),
        F.size(tokens(enc)).cast("long").alias("n_tokens_bpe"),
    )
    return staged.select(
        "doc_id",
        "n_tokens_raw",
        "n_tokens_bpe",
        (F.col("n_tokens_raw") - F.col("n_tokens_bpe"))
        .cast("long")
        .alias("n_saved"),
        F.expr(
            "(2000000 * (n_tokens_raw - n_tokens_bpe) + n_tokens_raw)"
            " div (2 * n_tokens_raw)"
        )
        .cast("long")
        .alias("saved_micro"),
    )
