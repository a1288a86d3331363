"""Deduplication operators for training-data pipelines (SURVEY.md §7
Phase 4): exact, MinHash+LSH near-dup, SimHash, and n-gram Jaccard.

Scale posture: every variant is a groupBy/join pipeline whose shuffle
keys are short hashes, never raw documents. At 100 TB the text column
stays columnar in parquet until the final candidate-pair verification;
signatures (a few hundred bytes/doc) are what moves through shuffles.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .text import normalize_text, tokens
from ..pins import pin as _pin

# 2^31 - 1 (Mersenne prime) — modulus of the universal MinHash family.
# Chosen so a·x + b stays under 2^59: the whole family runs in plain
# 64-bit LONG arithmetic (whole-stage-codegen'd in Spark, native BIGINT
# in DuckDB) — a 2^61−1 variant needs 128-bit products, which Spark can
# only do via BigDecimal (measured 5× slower end to end). 31-bit hash
# values are the classic MinHash width (datasketch's default family);
# min-value ties from the narrower range are identical on both engines,
# so cross-engine parity is unaffected.
MERSENNE_31 = (1 << 31) - 1


def minhash_affine_coeffs(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) coefficients for the universal-hash MinHash
    family h_s(x) = (a_s·x + b_s) mod (2^31−1) — the standard MinHash
    construction (one base hash per element, n affine transforms).
    Driver-generated constants, so any engine can reproduce them as
    literals."""
    import random

    rng = random.Random(0xC0FFEE)
    return [
        (rng.randrange(1, MERSENNE_31), rng.randrange(0, MERSENNE_31))
        for _ in range(num_hashes)
    ]


def exact_dedup(df: DataFrame) -> DataFrame:
    """Exact dedup via hash-groupBy on the normalized text: one
    representative (min id) per group plus the duplicate count.

    Map-side partial agg means the shuffle carries (hash(text) → min id,
    count) pairs, not documents. Deterministic keeper choice (min id)
    instead of dropDuplicates' arbitrary first-row.
    """
    return (
        df.groupBy(normalize_text("text").alias("norm_text"))
        .agg(
            F.min("doc_id").alias("keep_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
        .select("keep_id", "dup_count")
    )


def shingles_from_tokens(toks: Column, k: int = 3) -> Column:
    """Distinct word k-shingles from an ALREADY-MATERIALIZED token
    array column.

    Expression-blowup rule (learned the hard way): a lambda body in a
    higher-order function re-evaluates any non-attribute expression it
    references ONCE PER ELEMENT, and Catalyst's CollapseProject will
    happily inline an aliased expensive expression back into every use
    site only when it deems it cheap. Passing tokenization in as a
    materialized column attribute keeps the per-element work to a
    slice+concat instead of regex+split of the whole document.
    """
    n = F.size(toks)
    idx = F.sequence(F.lit(0), F.greatest(n - F.lit(k), F.lit(0)))
    return F.array_distinct(
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, k)))
    )


def shingles(text: Column | str, k: int = 3) -> Column:
    """Distinct word k-shingles of the normalized text. Convenience
    form for small inputs/tests; hot paths must stage tokens first
    (see shingles_from_tokens) or the tokenizer re-runs per shingle."""
    return shingles_from_tokens(tokens(normalize_text(text)), k)


def shingle_posting(
    df: DataFrame, block_cols: tuple[str, ...] = (), k: int = 3,
    with_size: bool = False,
) -> DataFrame:
    """(doc_id[, blocks], shingle) posting list — the staged explode all
    shingle-based operators build on. Tokenization and shingling are
    materialized in separate projections so each runs once per doc.
    The input is spread across cores first when the source is
    under-split (catalog.spread_for_compute) — shingling is the
    per-row-heavy stage of every dedup pipeline.

    ``with_size=True`` additionally carries ``n_sh`` = size(sh) (the
    per-doc DISTINCT shingle-set size, identical to the posting's
    per-doc row count) on every exploded row: one long per row through
    downstream exchanges buys consumers their set sizes WITHOUT a
    second pass over the shingle pipeline + a doc-keyed join back
    (guide §2.3 — shuffle a few extra bytes instead of re-joining)."""
    from ..catalog import spread_for_compute

    df = spread_for_compute(df)
    toks = df.select(
        F.col("doc_id"),
        *[F.col(c) for c in block_cols],
        tokens(normalize_text("text")).alias("toks"),
    )
    sh = toks.select(
        "doc_id", *block_cols, shingles_from_tokens(F.col("toks"), k).alias("sh")
    )
    size_cols = [F.size("sh").alias("n_sh")] if with_size else []
    # explode_outer, deliberately: plain explode triggers Catalyst's
    # InferFiltersFromGenerate, which inserts a `size(sh) > 0` filter
    # with the ENTIRE shingle expression re-inlined below the staged
    # projections (re-running the tokenizer per row, with the
    # per-element blowup). Shingle arrays are never empty (the index
    # sequence always has >=1 element), so outer semantics are
    # identical and the inferred filter never appears.
    return sh.select(
        "doc_id", *block_cols, *size_cols,
        F.explode_outer("sh").alias("shingle"),
    )


def minhash_signatures(
    df: DataFrame,
    num_hashes: int = 64,
    k: int = 3,
) -> DataFrame:
    """(doc_id, sig) MinHash signatures — ROW-LOCAL formulation: the
    base hash of every shingle is staged ONCE as an array attribute
    (``h0s``), then sig[s] = array_min of the s-th family member over
    that attribute. Zero shuffle, zero explode: the whole signature is
    a projection chain at parquet-scan speed, and the first exchange
    in any consumer is LSH banding on the finished signatures.

    This replaced an explode→groupBy(64 partial mins) aggregation
    formulation: with the base hash staged as an attribute both forms
    hash each shingle exactly once (the lambda-re-evaluation rule —
    ``h0s`` is a materialized column, so the 64 ``transform`` bodies
    reference it without recomputing md5), but the row-local form
    drops the 8-byte-per-shingle posting shuffle and the 64-column
    aggregation machinery entirely — measured 2× faster at sf0.1
    (1.36 s → 0.72 s) with bit-identical signatures, and strictly
    better at 100 TB (one less wide exchange; per-row arrays are
    bounded by document length).

    Hashing (engine-portable, so every value has a DuckDB twin): ONE
    md5 per shingle, truncated to a 28-bit integer (7 hex chars), then
    the standard universal-hash MinHash family h_s(x) = (a_s·x + b_s)
    mod 2^31−1 with driver-literal coefficients — every intermediate
    fits a 64-bit long (a·x < 2^59), so the math is exact,
    codegen-fast, and bit-identical in DuckDB, making the whole
    pipeline oracle-checkable (VERDICT r1 §Next-2). (Two earlier
    portable variants, 64 md5s per shingle and a decimal(38) 61-bit
    family, were 2.7× / 5× slower.) sig is ``array<long>``.
    """
    from ..catalog import spread_for_compute

    staged = spread_for_compute(df).select(
        F.col("doc_id"),
        tokens(normalize_text("text")).alias("toks"),
    )
    sh = staged.select(
        "doc_id", shingles_from_tokens(F.col("toks"), k).alias("sh")
    )
    h0 = sh.select(
        "doc_id",
        F.transform(
            "sh",
            lambda x: F.conv(F.substring(F.md5(x), 1, 7), 16, 10).cast("long"),
        ).alias("h0s"),
    )
    sig_elems = [
        F.array_min(
            F.transform(
                "h0s",
                lambda h: (F.lit(a) * h + F.lit(b)) % F.lit(MERSENNE_31),
            )
        )
        for a, b in minhash_affine_coeffs(num_hashes)
    ]
    return h0.select("doc_id", F.array(*sig_elems).alias("sig"))


def _banded_frame(sig: DataFrame, num_hashes: int, bands: int) -> DataFrame:
    """(doc_id, band, bucket) LSH banding of a signature frame —
    shared by candidate generation and the calibration operator. The
    bucket key is the band slice SERIALIZED, not re-hashed — ~40-80 B
    through the shuffle, and the DuckDB twin is a plain concat of the
    same longs (no second hash to mirror)."""
    rows_per_band = num_hashes // bands

    def bucket_of(b):
        return F.concat_ws(
            ",",
            F.transform(
                F.slice(F.col("sig"), b * rows_per_band + 1, rows_per_band),
                lambda v: v.cast("string"),
            ),
        )

    return sig.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(b.alias("band"), bucket_of(b).alias("bucket")),
            )
        ).alias("bb"),
    ).select("doc_id", "bb.band", "bb.bucket")


def _banded_pairs(sig: DataFrame, num_hashes: int, bands: int) -> DataFrame:
    """(doc_a, doc_b), doc_a < doc_b: the distinct signature pairs that
    share any (band, bucket) — the banded self-join, an equi-join on
    the band slice, never a corpus cross product."""
    banded = _banded_frame(sig, num_hashes, bands)
    return (
        banded.alias("l")
        .join(
            banded.alias("r"),
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bucket") == F.col("r.bucket"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(
            F.col("l.doc_id").alias("doc_a"), F.col("r.doc_id").alias("doc_b")
        )
        .distinct()
    )


def minhash_lsh_candidates(
    df: DataFrame,
    num_hashes: int = 64,
    bands: int = 16,
    k: int = 3,
) -> DataFrame:
    """LSH banding: split the signature into ``bands`` rows of
    ``num_hashes/bands`` values, hash each band to a bucket, and emit
    candidate pairs that share any (band, bucket).

    The shuffle key is (band_idx, bucket) — the band's serialized
    slice, ~40-80 bytes/doc/band. Hot buckets (boilerplate docs) are
    the skew risk; AQE skew-join splitting handles them, and the
    signatures' wide value range keeps accidental collisions rare.

    Catalyst does no common-subexpression sharing across a self-join,
    so a lazy plan would shingle+hash the corpus TWICE (two full
    scan→tokenize→sign projection chains in explain). The signature
    frame is therefore persisted (MEMORY_AND_DISK) for the duration of
    ONE eager candidate materialization (localCheckpoint), then
    unpersisted before returning — the heavy stage runs once and the
    cache does not outlive the call (repeat invocations, e.g. the
    bench's two timed passes, would otherwise each leak a session-
    lifetime cached frame). The returned frame is the materialized
    candidate pairs — tiny relative to the corpus. At cluster scale a
    real pipeline lands signatures as a table instead.
    """
    sig = minhash_signatures(df, num_hashes, k).persist()
    # eager: run the candidate job now (signature stage executes once
    # via the cache), then release the cache — no session-lifetime
    # leak across repeated invocations
    out = _banded_pairs(sig, num_hashes, bands).transform(_pin)
    sig.unpersist()
    return out


def simhash64(df: DataFrame) -> DataFrame:
    """(doc_id, simhash) — 64-bit SimHash: per bit position, majority
    vote of the token hashes' bits, packed into one long.

    ROW-LOCAL formulation (the r5 MinHash lesson applied to votes):
    the per-token hash array is STAGED once as an attribute, then each
    bit's vote is one unrolled ``F.aggregate`` fold over that array —
    zero explode, zero shuffle, the simhash materializes inside the
    scan stage. The history matters: a naive within-row version that
    inlined the tokenizer into the folds re-evaluated it per bit
    (128× blowup) and was replaced by explode→groupBy(sum) with
    map-side partials; staging the hash array per row removes the
    re-evaluation AND the doc-keyed exchange. Local wall time is at
    PARITY with the explode form (interleaved A/B at sf0.1: 2.01 vs
    2.04 s min-of-5 — the removed exchange only carried 64 partial
    longs per doc), so the change buys plan shape for scale, not
    local speed: one fewer full exchange and no row-count blowup
    between scan and result. Bit-identical to the explode form.
    Ties vote 1 (2·ones ≥ n ⇔ Σ(2·bit−1) ≥ 0).

    Hashing (engine-portable): bit j is bit (j mod 4) of hex nibble
    (j div 4) of md5(token) — the hex strings and then the parsed
    8-hex-char words are staged as separate projections so each hex
    digit parses once per token, not once per bit. DuckDB
    reproduces the exact same bits via strpos('0123456789abcdef', …),
    so the full simhash is oracle-checkable.
    """
    from ..catalog import spread_for_compute

    df = spread_for_compute(df)
    staged = df.select(
        F.col("doc_id"),
        tokens(normalize_text("text")).alias("toks"),
    )
    one = F.lit(1).cast("long")
    zero = F.lit(0).cast("long")

    # closure factories, NOT default-arg captures: pyspark derives the
    # HOF lambda's arity from its parameter list, so an extra `i=i`
    # parameter makes transform() pass the element index into it
    def _word(i: int):
        # 8 hex chars per conv: the value of chars [8i, 8i+8) as one
        # long < 2^32 — 2 string parses per token instead of 16
        # single-nibble ones; nibble n of the hash is then
        # (word(n div 8) >> 4*(7 - n mod 8)) & 15, integer-exact, so
        # every vote bit is unchanged
        return lambda h: F.conv(
            F.substring(h, 8 * i + 1, 8), 16, 10
        ).cast("long")

    def _vote(shift: int):
        return lambda acc, h: (
            acc + F.shiftrightunsigned(h, shift).bitwiseAND(one) * 2 - 1
        )

    hexed = staged.select(
        "doc_id", F.transform("toks", lambda t: F.md5(t)).alias("hs")
    )
    worded = hexed.select(
        "doc_id",
        *[
            F.transform("hs", _word(i)).alias(f"_w{i}")
            for i in range(2)
        ],
    )
    # bit j lives in word j div 32 at in-word bit position
    # 4*(7 - (j div 4 - 8*(j div 32))) + j mod 4 (hex chars are
    # most-significant-first within each parsed word)
    votes = worded.select(
        "doc_id",
        *[
            F.aggregate(
                F.col(f"_w{j // 32}"),
                zero,
                _vote(4 * (7 - (j // 4 - 8 * (j // 32))) + j % 4),
            ).alias(f"_v{j}")
            for j in range(64)
        ],
    )
    packed = F.lit(0).cast("long")
    for j in range(64):
        bit = F.when(F.col(f"_v{j}") >= 0, F.lit(1).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        packed = packed.bitwiseOR(F.shiftleft(bit, j))
    return votes.select("doc_id", packed.alias("simhash"))


def bloom_bit_positions(fp: Column, m: int, k: int) -> list[Column]:
    """The k Bloom bit positions of a fingerprint column — md5 32-bit
    prefix mod m per hash index, the engine-portable construction
    shared with the HLL/MinHash/count-min family."""
    return [
        (
            F.conv(
                F.substring(F.md5(F.concat(F.lit(f"bloom{j}:"), fp)), 1, 8),
                16,
                10,
            ).cast("long")
            % m
        )
        for j in range(1, k + 1)
    ]


def bloom_membership(
    corpus: DataFrame,
    probes: DataFrame,
    m: int = 1 << 16,
    k: int = 3,
) -> DataFrame:
    """(doc_id, fp, maybe_member) — Bloom-filter membership of each
    probe fingerprint against the corpus fingerprints. The filter side
    collapses the ENTIRE corpus to at most m distinct bit rows — a
    relation bounded by a CONSTANT, so it broadcasts regardless of
    corpus size and the corpus never shuffles. One-sided error only:
    maybe_member=False is definitive (no false negatives — every bit
    of a member IS in the set by construction), True needs an exact
    verify, which callers run bloom-pruned (q98)."""
    bits = (
        corpus.select(
            F.explode(
                F.array(*bloom_bit_positions(F.col("fp"), m, k))
            ).alias("bit")
        )
        .distinct()
        .withColumn("_hit", F.lit(True))
    )
    pbits = probes.select(
        "doc_id",
        "fp",
        F.explode(
            F.array(*bloom_bit_positions(F.col("fp"), m, k))
        ).alias("bit"),
    )
    return (
        pbits.join(F.broadcast(bits), "bit", "left")
        .groupBy("doc_id", "fp")
        .agg(
            F.bool_and(F.coalesce("_hit", F.lit(False))).alias("maybe_member")
        )
    )


def simhash_hamming_pairs(
    sims: DataFrame,
    threshold: int = 3,
    n_blocks: int = 4,
) -> DataFrame:
    """(doc_a, doc_b, hamming) — all pairs whose 64-bit SimHashes are
    within ``threshold`` bit flips, via pigeonhole block bucketing: the
    hash splits into ``n_blocks`` 16-bit blocks, and any pair with
    hamming <= threshold < n_blocks must agree EXACTLY on at least one
    block, so candidates come from a (block_idx, block_value) equi-join
    — never an all-pairs comparison — and exact ``bit_count(xor)``
    verifies each candidate. The SimHash twin of the MinHash
    LSH-candidates -> exact-verify pipeline (q65).

    Scale shape: identical to LSH banding — the shuffle key is
    (block_idx, 16-bit value), ~12 B/doc/block; hot blocks (near-empty
    documents hashing alike) are the skew risk AQE's skew join handles.
    The verify is row-local integer xor+popcount on the joined pair.

    Shift portability note: the oracle's ``(simhash >> s) & 65535``
    uses DuckDB's ARITHMETIC shift while Spark uses
    ``shiftrightunsigned`` — the &-mask keeps only the low 16 bits,
    which agree between the two shift kinds for every s, so the block
    values are engine-identical even for negative (bit-63-set) hashes.
    """
    if threshold >= n_blocks:
        raise ValueError(
            "pigeonhole soundness needs threshold < n_blocks: "
            f"{threshold} >= {n_blocks}"
        )
    if n_blocks * 16 > 64:
        # block b reads bits [16b, 16b+16); a shift of >= 64 is
        # shift-mod-64 on the JVM, silently aliasing block 4 to block
        # 0 and breaking the shared-block guarantee (lost pairs)
        raise ValueError(
            f"{n_blocks} 16-bit blocks exceed the 64-bit hash"
        )
    blk = sims.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("b"),
                        F.shiftrightunsigned(F.col("simhash"), 16 * b)
                        .bitwiseAND(F.lit(0xFFFF).cast("long"))
                        .alias("bv"),
                    )
                    for b in range(n_blocks)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "simhash", F.col("bb.b").alias("b"), F.col("bb.bv").alias("bv"))
    left, right = blk.alias("l"), blk.alias("r")
    # Verify BEFORE the distinct: the xor+popcount is row-local and
    # cheap, while the candidate fan-out is quadratic in hot-block
    # population (near-empty documents hashing alike), so filtering
    # first keeps the dedup exchange to true near-dup pairs instead
    # of every hot-bucket candidate ×(shared blocks). Equivalent:
    # the predicate is deterministic per row, and doc_id → simhash
    # is functional (one signature per doc), so distinct over
    # (doc_a, doc_b, hamming) equals the old distinct-then-filter.
    ham = F.bit_count(
        F.col("l.simhash").bitwiseXOR(F.col("r.simhash"))
    )
    return (
        left.join(
            right,
            (F.col("l.b") == F.col("r.b"))
            & (F.col("l.bv") == F.col("r.bv"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(
            F.col("l.doc_id").alias("doc_a"),
            F.col("r.doc_id").alias("doc_b"),
            ham.cast("long").alias("hamming"),
        )
        .filter(F.col("hamming") <= threshold)
        .distinct()
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    block_cols: tuple[str, ...] = (),
    k: int = 3,
    threshold: float = 0.5,
    max_df: int | None = None,
) -> DataFrame:
    """n-gram Jaccard near-dup: explode distinct shingles, self-join on
    shingle (plus optional blocking columns to bound the pair space),
    count intersections, and compute |A∩B| / (|A|+|B|-|A∩B|).

    The explode → join on shingle IS the inverted index: identical to
    a posting-list intersection, executed as one shuffle on shingle.
    Blocking columns (e.g. language) keep hot shingles from exploding
    the candidate space at corpus scale.

    ``max_df``: drop shingles whose document frequency (within the
    block) exceeds the cap BEFORE the self-join — a shingle shared by
    d documents contributes d² join rows, so one boilerplate shingle
    at corpus scale is a quadratic hot bucket (VERDICT r1 §perf, q26).
    Set sizes stay derived from the UNCAPPED posting, so for pairs
    whose overlap is not boilerplate-only the Jaccard is exact or a
    slight underestimate (capped shingles leave the numerator only) —
    the standard inverted-index prefix-filter trade.

    Plan shape (r12): the per-doc set size rides the posting as a
    carried ``n_sh`` long (shingle_posting with_size=True) instead of
    a separate posting→groupBy(doc) pass + two pair-keyed joins back —
    the old form re-executed the whole tokenize+shingle pipeline for
    the sizes frame and shuffled the pair frame twice more (guide
    §2.3/§2.4; n_sh is the UNCAPPED size because it is computed on
    the pre-explode array, before any max_df filtering). The group
    keys extend by the two functionally-dependent size columns, which
    changes no group: doc_id → n_sh."""
    posting = shingle_posting(df, block_cols, k, with_size=True)
    joinable = posting
    if max_df is not None:
        hot = (
            posting.groupBy(*block_cols, "shingle")
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") > max_df)
            .select(*block_cols, "shingle")
        )
        # anti join against the (small) hot-shingle set; map-side
        # partial agg means the DF count shuffles one long per
        # (block, shingle) per partition, never documents
        joinable = posting.join(hot, [*block_cols, "shingle"], "left_anti")
    joined = (
        joinable.alias("l")
        .join(
            joinable.alias("r"),
            [F.col(f"l.{c}") == F.col(f"r.{c}") for c in block_cols]
            + [
                F.col("l.shingle") == F.col("r.shingle"),
                F.col("l.doc_id") < F.col("r.doc_id"),
            ],
        )
        .groupBy(
            F.col("l.doc_id").alias("doc_a"),
            F.col("r.doc_id").alias("doc_b"),
            F.col("l.n_sh").alias("n_a"),
            F.col("r.n_sh").alias("n_b"),
        )
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return joined.select(
        "doc_a",
        "doc_b",
        (
            F.col("inter")
            / (F.col("n_a") + F.col("n_b") - F.col("inter"))
        ).alias("jaccard"),
    ).filter(F.col("jaccard") >= threshold)


def cross_corpus_contamination(
    train: DataFrame,
    bench: DataFrame,
    broadcast_bench: bool = True,
) -> DataFrame:
    """Benchmark-contamination check: for every training document, the
    fraction of its 3-word shingles that also appear in a held-out
    benchmark corpus — the standard decontamination pass a training-data
    pipeline runs before a corpus ships (n-gram overlap against eval
    suites).

    Output: (doc_id, n_shingles, n_overlap, contamination) for every
    train doc; ``contamination`` is the exact integer ratio emitted as
    one double division, so it oracle-matches bit for bit.

    Scale shape: both sides reduce to DISTINCT shingle sets via the
    staged ``shingle_posting`` explode (map-side partial distinct).
    ``broadcast_bench=True`` (default) fits the common case — benchmark
    suites are MBs, so the semi-join is broadcast and the train corpus
    NEVER shuffles. For a corpus-proportional bench side (e.g. checking
    one split against another) pass ``False``: the semi-join then
    shuffles on the shingle key — fine-grained, no hot keys after the
    per-doc distinct."""
    t = shingle_posting(train)
    b = (
        shingle_posting(bench)
        .select("shingle")
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    if broadcast_bench:
        b = F.broadcast(b)
    # ONE pass over the train posting: a left join tags each shingle
    # with membership, and a single aggregation produces both counts —
    # the naive totals⋈hits formulation scans and shingles the train
    # corpus twice and adds a doc-keyed join
    tagged = t.join(b, "shingle", "left")
    return tagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_shingles"),
        F.count("_hit").alias("n_overlap"),
        (F.count("_hit") / F.count(F.lit(1))).alias("contamination"),
    )


def verify_pairs_jaccard(
    docs: DataFrame,
    pairs: DataFrame,
    k: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact shingle-Jaccard verification of candidate pairs — the
    second stage of the scale-path near-dedup pipeline: LSH proposes
    (minhash_lsh_candidates), this verifies, and only verified pairs
    feed cluster formation (connected_components).

    Candidates are a vanishing fraction of the corpus (banding bounds
    false positives), so the expensive set intersection runs on
    |candidates| rows, never all-pairs. The per-doc distinct shingle
    arrays join to the pair list by doc id — two narrow shuffles keyed
    on ids; the arrays traverse the shuffle once each. ``jaccard`` is
    |∩| / |∪| as one IEEE division of exact integers, so it matches any
    engine bit for bit.
    """
    from ..catalog import spread_for_compute

    staged = spread_for_compute(docs).select(
        F.col("doc_id").alias("_vid"),
        tokens(normalize_text("text")).alias("_toks"),
    )
    # pinned: both pair-side probes read the shingle-array frame —
    # unpinned, the tokenize+shingle pipeline runs once per side
    # (Catalyst shares no subtree across a self-join — the q65
    # lesson). Eager: the two probe joins build concurrently inside
    # one action, so a lazy pin could race both into computing it.
    sh = staged.select(
        "_vid", shingles_from_tokens(F.col("_toks"), k).alias("_sh")
    ).transform(_pin)
    a = sh.select(F.col("_vid").alias("doc_a"), F.col("_sh").alias("_sh_a"))
    b = sh.select(F.col("_vid").alias("doc_b"), F.col("_sh").alias("_sh_b"))
    joined = pairs.join(a, "doc_a").join(b, "doc_b")
    inter = F.size(F.array_intersect("_sh_a", "_sh_b"))
    union = F.size("_sh_a") + F.size("_sh_b") - inter
    jac = inter.cast("double") / union.cast("double")
    return (
        joined.select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def novel_documents(incoming: DataFrame, existing: DataFrame) -> DataFrame:
    """Incremental-ingest novelty filter: keep only incoming documents
    whose normalized-text fingerprint does not already exist in the
    reference corpus — exact dedup ACROSS corpora as a left-anti join,
    the batch-boundary companion to :func:`exact_dedup`'s within-corpus
    groupBy.

    Scale shape: both sides reduce to md5 fingerprints before the
    shuffle (16 bytes/doc through the wire, not documents); the anti
    join shuffles on the fingerprint key, which is uniform by
    construction — no skew, no broadcast requirement, and AQE can still
    promote the existing side to broadcast when a small reference
    corpus fits (daily increment vs yesterday's delta).
    """
    fp = F.md5(normalize_text("text"))
    seen = existing.select(fp.alias("_fp")).distinct()
    return (
        incoming.withColumn("_fp", fp)
        .join(seen, "_fp", "left_anti")
        .drop("_fp")
    )


def edit_distance_pairs(
    df: DataFrame, col: str, max_dist: int = 1
) -> DataFrame:
    """All distinct string pairs within Levenshtein distance
    ``max_dist`` (1 or 2 — the SymSpell/typo-clustering cases), found
    WITHOUT an all-pairs comparison: deletion-neighborhood blocking.
    Two strings at edit distance <= k necessarily share an element of
    their delete-<=k neighborhoods (take an optimal alignment: each
    substitution deletes the differing position from both sides, each
    insert/delete deletes the extra char from the longer side — <= k
    deletions per side leave equal strings), so exploding each string
    into its deletion variants and equi-joining on the variant yields
    a candidate superset, and one exact ``levenshtein`` call per
    candidate finishes the job. The converse does NOT hold
    (del1('ab') ∩ del1('ba') != ∅ at true distance 2), which is why
    the verify step is part of the operator, not an optimization.

    Why delete-neighborhood and not PassJoin segments for k=2: segment
    blocking keys on exact segment occurrence, which degenerates to
    the full cross product on corpora whose strings share long
    constant regions (every key like ``Customer#…`` shares segment 1);
    deletion variants key on the WHOLE string minus k chars, so two
    strings collide only when they agree everywhere but ~k positions —
    selectivity tracks the true neighbor count, not prefix entropy.
    The price is the variant fan-out: ~L for k=1, ~L²/2 for k=2 (171
    variants for L=18) — 8-byte hashes each, the classic SymSpell
    space-for-selectivity trade.

    Scale shape: the join key is ``xxhash64(variant)`` — 8 bytes per
    variant through the shuffle instead of the variant text; hash
    collisions can only ADD candidates (the verify filter removes
    them), never lose a true pair. Candidate volume is bounded by the
    variant-group sizes (a shared variant ~= a shared typo stem), the
    same inverted-posting bound as ``ngram_jaccard_pairs``; salt or
    cap hot stems the way ``shingle_posting``'s max_df does if a
    degenerate key (e.g. the <=k-length strings' empty variant)
    turns up.
    """
    if max_dist not in (1, 2):  # pragma: no cover - guard
        raise NotImplementedError(
            "delete-neighborhood blocking is implemented for "
            "max_dist in {1, 2}; larger k wants a trie/PassJoin scheme"
        )
    c = F.col(col)
    dels = F.expr(
        f"transform(sequence(1, length({col})), "
        f"i -> concat(substr({col}, 1, i - 1), substr({col}, i + 1)))"
    )
    variants = F.array_union(F.array(c), dels)
    if max_dist == 2:
        # delete positions i < j of the original string; the i-range
        # guard keeps sequence() ascending (L<=1 degenerates to the
        # del1 variant, which array_union dedupes)
        del2 = F.expr(
            f"flatten(transform("
            f"  sequence(1, greatest(length({col}) - 1, 1)), i ->"
            f"  transform(sequence(least(i + 1, length({col})),"
            f"                     greatest(length({col}), 1)), j ->"
            f"    concat(substr({col}, 1, i - 1),"
            f"           substr({col}, i + 1, j - i - 1),"
            f"           substr({col}, j + 1)))))"
        )
        variants = F.array_union(variants, del2)
    posting = df.select(
        c.alias("s"),
        F.explode_outer(variants).alias("variant"),
    ).select("s", F.xxhash64("variant").alias("vh")).distinct()
    lo = posting.select(F.col("s").alias("name_a"), "vh")
    hi = posting.select(F.col("s").alias("name_b"), "vh")
    cand = (
        lo.join(hi, "vh")
        .filter(F.col("name_a") < F.col("name_b"))
        .select("name_a", "name_b")
        .distinct()
    )
    return cand.filter(
        F.levenshtein("name_a", "name_b") <= max_dist
    ).withColumn(
        "dist", F.levenshtein("name_a", "name_b").cast("int")
    )

def sorted_neighborhood_pairs(
    df: DataFrame,
    block_cols: tuple[str, ...] = ("lang",),
    k: int = 3,
    window: int = 5,
) -> DataFrame:
    """Sorted-neighborhood method (Hernández & Stolfo 1995): sort each
    block by a fuzzy key (here the normalized text itself), then
    compare every record only against its ``window − 1`` successors.
    The third blocking family next to LSH banding and the posting
    self-join: candidate count is EXACTLY n·(window−1) per block —
    linear, data-independent, no hot-shingle skew to cap.

    Spark shape: one shuffle+sort on (block, sort key) serves a
    single window; the successors arrive ROW-LOCALLY via ``lead(i)``
    of a (doc_id, shingles, size) struct — pairing is an explode of
    an in-row array, never a self-join. Jaccard on the pre-staged
    distinct-shingle arrays is per-row set math on arrays whose size
    is bounded by doc length. At 100 TB the block key is the scale
    unit exactly as in the SNM literature — blocks stream through
    executors independently, and a finer key (lang, text prefix)
    subdivides further without changing the plan.

    Emits every in-window pair with its similarity (a census, like
    q26 pre-threshold) ordered pairs-with-distance so downstream can
    threshold per use case."""
    from ..catalog import spread_for_compute

    staged = spread_for_compute(df).select(
        F.col("doc_id"),
        *[F.col(c) for c in block_cols],
        normalize_text("text").alias("norm"),
    )
    sh = staged.select(
        "doc_id",
        *block_cols,
        "norm",
        shingles_from_tokens(tokens(F.col("norm")), k).alias("sh"),
    ).withColumn("n_sh", F.size("sh"))
    w = Window.partitionBy(*block_cols).orderBy("norm", "doc_id")
    me = F.struct(
        F.col("doc_id").alias("doc_id"),
        F.col("sh").alias("sh"),
        F.col("n_sh").alias("n_sh"),
    )
    led = sh.select(
        "doc_id",
        "n_sh",
        "sh",
        F.array(
            *[
                F.struct(
                    F.lead(me, i).over(w).alias("nb"),
                    F.lit(i).alias("dist"),
                )
                for i in range(1, window)
            ]
        ).alias("nbs"),
    )
    pairs = (
        led.select(
            F.col("doc_id").alias("doc_a"),
            F.col("n_sh").alias("n_a"),
            F.col("sh").alias("sh_a"),
            F.explode("nbs").alias("p"),
        )
        .filter(F.col("p.nb").isNotNull())
        .select(
            "doc_a",
            F.col("p.nb.doc_id").alias("doc_b"),
            F.col("p.dist").cast("long").alias("dist"),
            F.size(F.array_intersect("sh_a", F.col("p.nb.sh"))).alias(
                "_inter"
            ),
            "n_a",
            F.col("p.nb.n_sh").alias("n_b"),
        )
    )
    return pairs.select(
        "doc_a",
        "doc_b",
        "dist",
        F.col("_inter").cast("long").alias("inter"),
        (
            F.col("_inter")
            / (F.col("n_a") + F.col("n_b") - F.col("_inter"))
        ).alias("jaccard"),
    )


def containment_pairs(
    df: DataFrame,
    block_cols: tuple[str, ...] = (),
    k: int = 3,
    threshold: float = 0.5,
    max_df: int | None = None,
) -> DataFrame:
    """Asymmetric shingle containment |A∩B| / |A| — the quote/subset
    detector Jaccard misses: a short document fully embedded in a long
    one has low Jaccard (union is dominated by the long doc) but
    containment 1.0 from the short side. Standard measure for
    quote/boilerplate inclusion in web-corpus dedup (Broder's
    containment, the companion to resemblance).

    Same inverted-index shape as :func:`ngram_jaccard_pairs` — ONE
    shuffle on (block, shingle), intersection counts via map-side
    partial agg, per-doc set sizes derived from the same posting —
    but emits ORDERED pairs (containment is directional), keeping only
    the `<` half of the join and deriving both directions from one
    intersection count (halves the join fan-in vs a `!=` join).
    ``max_df`` caps boilerplate shingles before the self-join exactly
    as in the Jaccard variant (a d-doc shingle costs d² join rows).

    Both pair directions come from a row-local explode of the single
    `<`-half count — a union of two selects over the aggregate would
    re-execute the entire self-join subtree per branch (measured 2×).
    The posting is deliberately NOT persisted: caching the wide
    exploded-string frame forces a columnar-cache materialization and
    breaks the whole-stage pipelines on both self-join sides (measured
    5× slower than recomputation at sf0.1 — recomputing a projection
    chain over a small parquet scan is cheaper than one cache write +
    five cache reads; contrast lm.bigram_novelty, where the cached
    frame feeds cheap consumers and persist wins)."""
    posting = shingle_posting(df, block_cols, k, with_size=True)
    joinable = posting
    if max_df is not None:
        hot = (
            posting.groupBy(*block_cols, "shingle")
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") > max_df)
            .select(*block_cols, "shingle")
        )
        joinable = posting.join(hot, [*block_cols, "shingle"], "left_anti")
    # per-doc set sizes ride the posting as a carried long
    # (shingle_posting with_size=True) so BOTH directions' n_a come
    # out of the one aggregate — the old sizes frame re-ran the whole
    # shingle pipeline and joined the (2×pairs)-row directed frame
    # back on doc_a (one more exchange of the pair frame). The extra
    # group keys are functionally dependent on the doc ids.
    inter = (
        joinable.alias("l")
        .join(
            joinable.alias("r"),
            [F.col(f"l.{c}") == F.col(f"r.{c}") for c in block_cols]
            + [
                F.col("l.shingle") == F.col("r.shingle"),
                F.col("l.doc_id") < F.col("r.doc_id"),
            ],
        )
        .groupBy(
            F.col("l.doc_id").alias("doc_lo"),
            F.col("r.doc_id").alias("doc_hi"),
            F.col("l.n_sh").alias("n_lo"),
            F.col("r.n_sh").alias("n_hi"),
        )
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    # both directions from the single undirected intersection count —
    # a row-local explode, never a re-execution of the join subtree
    with_sizes = inter.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("doc_lo").alias("doc_a"),
                    F.col("doc_hi").alias("doc_b"),
                    F.col("inter").alias("inter"),
                    F.col("n_lo").alias("n_a"),
                ),
                F.struct(
                    F.col("doc_hi").alias("doc_a"),
                    F.col("doc_lo").alias("doc_b"),
                    F.col("inter").alias("inter"),
                    F.col("n_hi").alias("n_a"),
                ),
            )
        ).alias("p")
    ).select("p.doc_a", "p.doc_b", "p.inter", "p.n_a")
    return with_sizes.select(
        "doc_a",
        "doc_b",
        F.col("inter").cast("long").alias("inter"),
        F.col("n_a").cast("long").alias("n_a"),
        (F.col("inter") / F.col("n_a")).alias("containment"),
    ).filter(F.col("containment") >= threshold)


def minhash_estimate_pairs(df: DataFrame) -> DataFrame:
    """LSH candidate pairs WITH their MinHash-estimated Jaccard —
    the signature-agreement fraction (matching positions / hashes)
    whose expectation IS the true Jaccard (the MinHash property), over
    64 hashes in 16 bands of 3-word shingles.
    Production pipelines use this estimate to SKIP exact
    verification when the estimate is decisive; q148 pairs it with
    the exact value to expose the estimator's calibration error.

    The signature frame is computed ONCE and persisted for the
    duration of the call (banding + both join probes read the cache;
    Catalyst has no CSE across self-joins — the q65 lesson), then
    released after an eager cut. Agreement is a row-local zip_with
    over two 64-long arrays; the estimate is one exact-integer
    division."""
    sig = minhash_signatures(df).persist()
    cand = _banded_pairs(sig, 64, 16)
    sa = sig.select(F.col("doc_id").alias("doc_a"), F.col("sig").alias("_sa"))
    sb = sig.select(F.col("doc_id").alias("doc_b"), F.col("sig").alias("_sb"))
    est = (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.size(
                F.filter(
                    F.zip_with(F.col("_sa"), F.col("_sb"), lambda x, y: x == y),
                    lambda m: m,
                )
            )
            .cast("long")
            .alias("est_matches"),
        )
        .withColumn(
            "est_jaccard",
            F.col("est_matches").cast("double") / F.lit(64.0),
        )
    )
    out = est.transform(_pin)
    sig.unpersist()
    return out


def prefix_filter_pairs(
    df: DataFrame,
    threshold_pct: int = 60,
    k: int | None = 3,
) -> DataFrame:
    """Exact set-similarity join by PREFIX FILTERING (the PPJoin
    family, Xiao et al. / Chaudhuri et al. shape) — the fourth
    candidate-generation family next to LSH banding (probabilistic
    recall), full posting self-joins (exact, df-capped lossy), and
    sorted neighborhood (window-bounded): candidates are EXACT with
    NO cap, because two token sets with Jaccard >= t must share at
    least one token among each one's (n - ceil(t*n) + 1) RAREST
    tokens when all sets are ordered by one global frequency order.

    Stages: distinct (doc, term) posting -> global df ranks
    (vocabulary-sized dimension join) -> per-doc rarity positions
    (doc-keyed window, corpus-cardinality partitions) -> posting
    self-join restricted to prefix rows -> exact verify via
    array_intersect on the pair-bounded candidate set. The shuffle
    carries prefix tokens (the rarest — the low-df end of the
    vocabulary, so posting lists in the join are short by
    construction) and token arrays move once, keyed by candidate
    pair.

    ``threshold_pct`` is an integer percentage so every prefix-length
    and similarity comparison stays in exact integer arithmetic:
    p = n - ceil(t*n) + 1 with ceil(t*n) = (pct*n + 99) // 100, and
    the final filter is 100*inter >= pct*union — no float boundary
    anywhere (the emitted jaccard is one IEEE division for human
    eyes, not for the cut)."""
    from ..catalog import spread_for_compute

    pct = int(threshold_pct)
    if k:
        # k-shingle sets (the near-dup semantics): far more
        # discriminative than unigram sets — a small shared
        # vocabulary makes unigram SETS of unrelated documents
        # nearly identical, which floods any exact joiner
        toks = shingle_posting(df, k=k).select(
            "doc_id", F.col("shingle").alias("term")
        )
    else:
        toks = (
            spread_for_compute(df)
            .select(
                F.col("doc_id"),
                F.explode_outer(
                    tokens(normalize_text("text"))
                ).alias("term"),
            )
            .distinct()
        )
    # document frequency via a term-partitioned window (vocabulary-
    # cardinality partitions), not a groupBy+join: the join form
    # evaluates the whole shingle pipeline an extra time for the
    # aggregate side, the window rides the shuffle it needs anyway
    w_term = Window.partitionBy("term")
    w_doc = Window.partitionBy("doc_id").orderBy("dfc", "term")
    w_n = Window.partitionBy("doc_id")
    pos = (
        toks.withColumn("dfc", F.count(F.lit(1)).over(w_term))
        .withColumn("idx", F.row_number().over(w_doc))
        .withColumn("n", F.count(F.lit(1)).over(w_n))
    )
    # NOTE (r12): pinning this frame (or ``sets``) AS-IS measured
    # ~1.7× SLOWER at sf0.1 — the AQE-coalesced window output
    # checkpoints into a 1-partition RDD, so every downstream stage
    # (both self-join sides) loses its parallelism. r13 re-measured
    # the verdict-prescribed counter-case (repartition by the
    # self-join key BEFORE each pin so the checkpoint stays N-way and
    # LogicalRDD carries a reusable hashpartitioning): STILL worse —
    # isolated min-of-3 at sf0.1 2.04 s / 9 jobs unpinned vs 4.20 s /
    # 13 jobs with prefix+sets pinned-and-repartitioned (control
    # q64 FAVORED the pinned run, 2.24 vs 1.99). The two eager pin
    # materializations + two repartition exchanges cost more than the
    # duplicate window/groupBy subtree runs they save at any local
    # size; recomputing the chain per side stays the cheaper plan.
    prefix = pos.filter(
        F.col("idx")
        <= F.col("n") - ((F.lit(pct) * F.col("n") + 99) / 100).cast("long")
        + 1
    ).select("doc_id", "term", "idx", "n")
    # PPJoin's two candidate prunes, both exact-integer and both
    # applied ON the join rows BEFORE any dedup or array movement:
    # - length filter: Jaccard >= t forces set sizes within 1/t of
    #   each other (|A∩B| <= min sizes, union >= max), so
    #   100*min(n_a,n_b) >= pct*max(n_a,n_b);
    # - positional filter: matching at rarity positions (i, j) caps
    #   the best-case overlap at min(n_a-i, n_b-j)+1, which must
    #   reach the required overlap alpha = ceil(t/(1+t)*(n_a+n_b)).
    a_n, b_n = F.col("a.n"), F.col("b.n")
    alpha = F.floor(
        (F.lit(pct) * (a_n + b_n) + F.lit(100 + pct) - 1)
        / F.lit(100 + pct)
    )
    overlap_ub = (
        F.least(a_n - F.col("a.idx"), b_n - F.col("b.idx")) + 1
    )
    cand = (
        prefix.alias("a")
        .join(
            prefix.alias("b"),
            [
                F.col("a.term") == F.col("b.term"),
                F.col("a.doc_id") < F.col("b.doc_id"),
                F.lit(100) * F.least(a_n, b_n)
                >= F.lit(pct) * F.greatest(a_n, b_n),
                overlap_ub >= alpha,
            ],
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    sets = toks.groupBy("doc_id").agg(
        F.sort_array(F.collect_set("term")).alias("ts"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    paired = cand.join(
        sets.select(
            F.col("doc_id").alias("doc_a"),
            F.col("ts").alias("ts_a"),
            F.col("n").alias("n_a"),
        ),
        "doc_a",
    ).join(
        sets.select(
            F.col("doc_id").alias("doc_b"),
            F.col("ts").alias("ts_b"),
            F.col("n").alias("n_b"),
        ),
        "doc_b",
    )
    inter = F.size(F.array_intersect("ts_a", "ts_b")).cast("long")
    union = F.col("n_a") + F.col("n_b") - F.col("inter")
    return (
        paired.withColumn("inter", inter)
        .withColumn("uni", union)
        .filter(F.lit(100) * F.col("inter") >= F.lit(pct) * F.col("uni"))
        .select(
            "doc_a",
            "doc_b",
            "inter",
            "n_a",
            "n_b",
            (
                F.col("inter").cast("double") / F.col("uni").cast("double")
            ).alias("jaccard"),
        )
    )


def aligned_duplicate_runs(
    df: DataFrame,
    w: int = 8,
    max_freq: int = 64,
) -> DataFrame:
    """Variable-length longest-duplicate-substring detection — the
    suffix-window form of the ExactSubstr pass (Lee et al.,
    "Deduplicating Training Data Makes Language Models Better"):
    where q97/q111 dedup FIXED non-overlapping segments, this finds,
    for every document pair, the longest EXACTLY-repeated token span
    of ANY length ≥ ``w`` and how many distinct repeated spans they
    share.

    Algorithm (anchor-and-chain, the distributed stand-in for a
    suffix array):
    1. posting = (doc, pos, md5(w-token shingle)) at EVERY position —
       overlapping, unlike q111's stride-w segments;
    2. duplicated shingles = hash groupBy with 2 ≤ freq ≤ ``max_freq``
       (hotter shingles are corpus boilerplate — q109's miner owns
       those; the cap bounds the self-join to ≤ C(max_freq, 2) pairs
       per hash, so no hot key can go quadratic);
    3. anchors = the hash self-join, canonicalized (doc_a, pos_a) <
       (doc_b, pos_b);
    4. chaining: a duplicated span of L ≥ w tokens appears as exactly
       L−w+1 CONSECUTIVE anchors at one (doc_a, doc_b, pos_b−pos_a)
       alignment, so gaps-and-islands over pos_a per alignment group
       recovers every maximal span: span_tokens = run + w − 1.

    Shuffle accounting: postings shuffle 16-B hashes + two ints (the
    q111 rule — text never crosses the wire); the islands window
    partitions by (doc_a, doc_b, delta) — pair-alignment groups, whose
    size is bounded by min document length, never corpus-sized.

    Output: one row per (doc_a, doc_b) sharing ≥1 span —
    max_dup_tokens, n_runs (maximal spans), n_anchors (duplicated
    window positions)."""
    staged = (
        df.select(
            F.col("doc_id"),
            F.split("text", " ").alias("toks"),
        )
        .withColumn("n", F.size("toks"))
        .filter(F.col("n") >= w)
    )
    posting = (
        staged.select(
            "doc_id",
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(1), F.col("n") - F.lit(w - 1)),
                    lambda i: F.md5(
                        F.concat_ws(" ", F.slice(F.col("toks"), i, w))
                    ),
                )
            ).alias("p0", "h"),
        )
        .select("doc_id", (F.col("p0") + 1).alias("pos"), "h")
        # feeds the freq count AND both self-join sides: pin so the
        # tokenize+hash explode runs once, not three times
        .transform(_pin)
    )
    ok = (
        posting.groupBy("h")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter((F.col("c") >= 2) & (F.col("c") <= max_freq))
        .select("h")
    )
    dup = posting.join(ok, "h")
    a = dup.select(
        "h", F.col("doc_id").alias("doc_a"), F.col("pos").alias("pos_a")
    )
    b = dup.select(
        "h", F.col("doc_id").alias("doc_b"), F.col("pos").alias("pos_b")
    )
    anchors = (
        a.join(b, "h")
        .filter(
            (F.col("doc_a") < F.col("doc_b"))
            | (
                (F.col("doc_a") == F.col("doc_b"))
                & (F.col("pos_a") < F.col("pos_b"))
            )
        )
        .select(
            "doc_a",
            "doc_b",
            (F.col("pos_b") - F.col("pos_a")).alias("delta"),
            "pos_a",
        )
    )
    isl = Window.partitionBy("doc_a", "doc_b", "delta").orderBy("pos_a")
    runs = (
        anchors.withColumn(
            "grp", F.col("pos_a") - F.row_number().over(isl)
        )
        .groupBy("doc_a", "doc_b", "delta", "grp")
        .agg(F.count(F.lit(1)).alias("run"))
    )
    return runs.groupBy("doc_a", "doc_b").agg(
        (F.max("run") + F.lit(w - 1)).cast("long").alias("max_dup_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_runs"),
        F.sum("run").cast("long").alias("n_anchors"),
    )
