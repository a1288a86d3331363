"""Text-analysis operators for large-scale training-data pipelines.

Extensions beyond the reference's operator set (SURVEY.md §7 Phase 4):
language-ID heuristics, quality scoring, token counting, and document
fingerprinting over a ``documents(doc_id, text, ...)`` table. Design
rule: everything here is built-in ``pyspark.sql.functions`` column
algebra (JVM-side, codegen'd) — no Python in the hot path, so a 100 TB
corpus runs at scan speed with no serialization wall.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tiny deterministic stopword list for ratio features (the synthetic
# corpus vocabulary includes these; a production list is a config).
STOPWORDS = ("the", "a")


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def normalize_text(text: Column | str) -> Column:
    """Canonical form for exact-dup detection: lowercase, trim,
    collapse internal whitespace."""
    return F.regexp_replace(F.trim(F.lower(_col(text))), r"\s+", " ")


def tokens(text: Column | str) -> Column:
    """Whitespace tokenization (the baseline token counter)."""
    return F.split(_col(text), " ")


def token_count(text: Column | str) -> Column:
    return F.size(tokens(text))


def bpe_ish_token_count(text: Column | str) -> Column:
    """BPE-ish upper-bound token estimate: word-piece boundaries at
    non-alphanumerics plus 4-char chunks of long words — a regex
    heuristic, deliberately tokenizer-free."""
    c = _col(text)
    pieces = F.split(c, r"[^A-Za-z0-9]+")
    return F.aggregate(
        pieces,
        F.lit(0),
        lambda acc, w: acc + F.ceil(F.length(w) / F.lit(4)).cast("int"),
    )


def stopword_count(text: Column | str) -> Column:
    return F.size(
        F.filter(tokens(text), lambda t: t.isin(*STOPWORDS))
    )


def quality_features(text: Column | str) -> dict[str, Column]:
    """Quality-scoring features: length, token count, mean token
    length, stopword ratio, punctuation ratio. All closed-form column
    algebra (mean token length derives from char/token counts, so no
    per-token loop)."""
    c = _col(text)
    n_tok = token_count(c)
    n_chars = F.length(c)
    # tokens are single-space separated after normalization:
    # total token chars = n_chars - (n_tok - 1)
    mean_tok_len = (
        (n_chars - (n_tok - F.lit(1))) / n_tok
    ).cast("double")
    n_stop = stopword_count(c)
    n_punct = n_chars - F.length(F.regexp_replace(c, r"[^\w\s]", ""))
    return {
        "n_chars": n_chars.cast("long"),
        "n_tokens": n_tok.cast("long"),
        "mean_token_len": mean_tok_len,
        "stopword_ratio": (n_stop / n_tok).cast("double"),
        "punct_ratio": (n_punct / n_chars).cast("double"),
    }


def quality_keep(text: Column | str) -> Column:
    """Keep/drop decision in the style of C4/Gopher rules: enough
    tokens, stopword ratio in a sane band (evidence of natural text)."""
    f = quality_features(text)
    return (
        (f["n_tokens"] >= 10)
        & (f["stopword_ratio"] > 0)
        & (f["stopword_ratio"] <= 0.6)
    )


# marker words → language, checked in order (deterministic heuristic;
# a real system plugs in fastText/CLD3 via a Pandas UDF)
LANG_MARKERS: tuple[tuple[str, str], ...] = (
    ("the", "en"),
    ("le", "fr"),
    ("der", "de"),
    ("el", "es"),
)


def lang_guess(text: Column | str) -> Column:
    """Marker-word language ID: first matching marker wins, else
    'unknown'. One pass over the token array per marker — constant
    column algebra, no UDF."""
    toks = tokens(text)
    expr: Column = F.lit("unknown")
    for marker, lang in reversed(LANG_MARKERS):
        expr = F.when(F.array_contains(toks, marker), lang).otherwise(expr)
    return expr


def fingerprint_md5(text: Column | str) -> Column:
    """Deterministic document fingerprint: md5 of the normalized text.
    Engine-portable (md5 is standard), suitable as a global dedup key —
    at 100 TB the 128-bit space makes collisions negligible."""
    return F.md5(normalize_text(text))


def rolling_hash_from_tokens(toks: Column) -> Column:
    """Content-defined fingerprint: min of rolling 8-token window hashes over
    an ALREADY-MATERIALIZED token array (winnowing-style). Takes the
    attribute form because the slide lambda references the array per
    window position (see dedup.shingles_from_tokens for the rule).

    The window hashes are md5 hex strings — fixed-width lowercase hex
    ordering equals 128-bit integer ordering, and md5 exists in
    DuckDB, so the fingerprint (a 32-char string) is oracle-checkable
    cross-engine."""
    n = F.size(toks)
    idx = F.sequence(F.lit(0), F.greatest(n - F.lit(8), F.lit(0)))
    window_hashes = F.transform(
        idx,
        lambda i: F.md5(F.concat_ws(" ", F.slice(toks, i + 1, 8))),
    )
    return F.array_min(window_hashes)


def token_segments(toks: Column, seg: int) -> Column:
    """Non-overlapping ``seg``-token segments of a STAGED token array,
    each re-joined to a string — the unit of intra-document dedup
    (q97). Empty input arrays produce empty segment arrays via an
    explicit guard: Spark's ``sequence(1, 0, s)`` with a positive step
    REJECTS descending bounds ('Illegal sequence boundaries'), it does
    not return [] — the same trap ngrams() guards against. Unreachable
    through split() output (always >= 1 element) but real for any
    filtering tokenizer (stopword removal, array_remove)."""
    return F.when(
        F.size(toks) > 0,
        F.transform(
            F.sequence(F.lit(1), F.size(toks), F.lit(seg)),
            lambda i: F.concat_ws(" ", F.slice(toks, i, seg)),
        ),
    ).otherwise(F.array().cast("array<string>"))


def first_occurrence_filter(arr: Column) -> Column:
    """Keep each element's FIRST occurrence, preserving order —
    row-local O(n²) array scan (n bounded by the per-document segment
    count). The argument must be a staged column attribute: the
    predicate references it per element via array_position.

    Spark's lambda index is 0-based where DuckDB's list_filter index
    is 1-based; the twin conditions ``array_position == i+1`` /
    ``list_position = i`` express the same test."""
    return F.filter(
        arr, lambda x, i: F.array_position(arr, x) == i + 1
    )


def ngrams(toks: Column, n: int) -> Column:
    """Token n-grams as space-joined strings, entirely row-local array
    algebra (no shuffle, no UDF). Returns an EMPTY array when the
    document has fewer than n tokens — the guard matters because
    Spark's ``sequence(1, 0)`` generates a DESCENDING ``[1, 0]``, not
    ``[]`` (step defaults to -1 when stop < start)."""
    return F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - F.lit(n - 1)),
            lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))


def duplicate_fraction_from_ngrams(g: Column) -> Column:
    """Gopher/Dolma-style repetition signal over an
    ALREADY-MATERIALIZED n-gram array attribute: the fraction of the
    n-grams that repeat an earlier one. Integer counts + ONE IEEE
    division, so the double is bit-identical cross-engine. 0.0 for
    empty arrays (documents shorter than n).

    The argument MUST be a staged column attribute, not an inline
    ``ngrams(...)`` expression: this body references it three times
    (two sizes + array_distinct), and an inline expression would be
    copied into each use site by CollapseProject, re-running the whole
    tokenize+transform per copy (the q58 blowup: 13 s → 1 s at sf0.1
    after staging)."""
    total = F.size(g)
    dupes = total - F.size(F.array_distinct(g))
    return F.when(
        total > 0, dupes.cast("double") / total
    ).otherwise(F.lit(0.0))


def chunk_documents(
    df,
    chunk_size: int = 32,
    stride: int = 24,
):
    """Overlapping fixed-token-window chunking — the context-window
    splitter every LLM training pipeline runs before tokenize+pack.

    Row-local generate: ``posexplode(sequence(1, n_tokens, stride))``
    expands each document into its chunk starts inside the projection —
    no shuffle, no UDF, and the expansion factor (~n/stride) is bounded
    per row, so executors never hold more than one document's chunks.
    The final chunk may be shorter than ``chunk_size`` (slice clamps at
    the array end); with ``stride < chunk_size`` consecutive chunks
    overlap by ``chunk_size - stride`` tokens."""
    toks = tokens(F.col("text"))
    starts = F.sequence(F.lit(1), F.size(toks), F.lit(stride))
    chunk_toks = F.slice(tokens(F.col("text")), F.col("start"), chunk_size)
    return (
        df.select(
            "doc_id",
            "text",
            F.posexplode(starts).alias("chunk_id", "start"),
        )
        .select(
            "doc_id",
            F.col("chunk_id").cast("long").alias("chunk_id"),
            F.size(chunk_toks).cast("long").alias("n_chunk_tokens"),
            F.concat_ws(" ", chunk_toks).alias("chunk_text"),
        )
    )

def most_common_token_count(toks: Column) -> Column:
    """Highest single-token frequency in a STAGED token array — the
    Gopher "most common word fraction" numerator. Row-local O(d·n)
    array scan (d = distinct tokens, n bounded by document length), no
    shuffle. The argument must be a staged attribute: the outer
    transform references the full array once per distinct token.

    DuckDB twin: ``list_max(list_transform(list_distinct(l),
    t -> len(list_filter(l, x -> x = t))))``."""
    return F.array_max(
        F.transform(
            F.array_distinct(toks),
            lambda t: F.size(F.filter(toks, lambda x: x == t)),
        )
    )


def gopher_rules(toks: Column) -> dict[str, Column]:
    """Gopher-style document quality rules (Rae et al. 2021, table A1)
    over a STAGED token array: token-count band, mean-token-length
    band, most-common-word fraction cap, alphabetic-word floor, and a
    stopword-presence floor. Everything is integer array algebra plus
    single IEEE divisions, so every emitted double is bit-identical
    cross-engine (PLANS.md float rule: one correctly-rounded op on
    identical inputs). No UDFs, no shuffle — the whole rule set runs
    in the scan projection at 100 TB.

    Returns named flag/feature columns; callers combine ``keep`` from
    the individual rules so the per-rule rejection census stays
    queryable (the production knob Gopher-style pipelines tune)."""
    n = F.size(toks)
    nd = n.cast("double")
    mean_len = (
        F.aggregate(toks, F.lit(0), lambda a, x: a + F.length(x)).cast("double")
        / nd
    )
    common_frac = most_common_token_count(toks).cast("double") / nd
    alpha_frac = (
        F.size(F.filter(toks, lambda x: x.rlike("^[a-z]+$"))).cast("double")
        / nd
    )
    stop_hits = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS)))
    rules = {
        "n_tokens": n.cast("long"),
        "mean_token_len": mean_len,
        "most_common_frac": common_frac,
        "alpha_frac": alpha_frac,
        "stop_hits": stop_hits.cast("long"),
        "rule_len": (n >= 15) & (n <= 100000),
        "rule_mean_len": (mean_len >= 2.0) & (mean_len <= 10.0),
        "rule_common": common_frac <= 0.125,
        "rule_alpha": alpha_frac >= 0.8,
        "rule_stop": stop_hits >= 2,
    }
    rules["keep"] = (
        rules["rule_len"]
        & rules["rule_mean_len"]
        & rules["rule_common"]
        & rules["rule_alpha"]
        & rules["rule_stop"]
    )
    return rules
