"""Phase-4 declared queries: dedup / similarity / text analysis over
the ``documents`` and ``embeddings`` tables (SURVEY.md §7 Phase 4 —
the training-data-pipeline extensions beyond reference parity).

Registered into the same registry as ``testdata_queries``; importing
this module populates the driver-visible surface. The hashes these
queries compute are md5-based, so each hash value has a DuckDB twin
and the oracles check them value-exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..catalog import load_table
from ..operators.dedup import (
    exact_dedup,
    minhash_lsh_candidates,
    ngram_jaccard_pairs,
    simhash64,
)
from ..operators.similarity import brute_force_topk, dot, lsh_topk
from ..operators.text import (
    fingerprint_md5,
    lang_guess,
    ngrams,
    quality_features,
    quality_keep,
)
from .testdata_queries import register
from ..pins import pin as _pin, pin_lazy as _pin_lazy

_NORM_SQL = "regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')"


@register(
    "q20_dedup_exact",
    f"""
SELECT MIN(doc_id) AS keep_id, COUNT(*) AS dup_count
FROM (SELECT doc_id, {_NORM_SQL} AS nt FROM documents) t
GROUP BY nt
""",
)
def q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on normalized text, deterministic
    keeper (min doc_id) + duplicate count per group."""
    return exact_dedup(load_table(spark, sf_dir, "documents"))


@register(
    "q21_distinct_count_by_lang",
    """
SELECT lang, COUNT(*) AS n_docs, COUNT(DISTINCT text) AS n_distinct
FROM documents GROUP BY lang
""",
)
def q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-count profiling per language — the exact counterpart of
    the approx profile (q31); partial aggregation pushes the distinct
    through the shuffle."""
    return (
        load_table(spark, sf_dir, "documents")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("text").alias("n_distinct"),
        )
    )


@register(
    "q22_token_stats",
    """
SELECT doc_id,
       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       (CAST(length(text) - (len(string_split(text, ' ')) - 1) AS DOUBLE)
        / len(string_split(text, ' '))) AS mean_token_len
FROM documents
""",
)
def q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens + closed-form mean token
    length (no per-token iteration — column algebra only)."""
    docs = load_table(spark, sf_dir, "documents")
    feats = quality_features(F.col("text"))
    return docs.select(
        "doc_id",
        feats["n_tokens"].alias("n_tokens"),
        feats["mean_token_len"].alias("mean_token_len"),
    )


@register(
    "q23_quality_filter",
    """
SELECT doc_id,
       CAST(len(list_filter(string_split(text, ' '),
                            t -> t IN ('the', 'a'))) AS BIGINT) AS n_stopwords,
       (CAST(len(list_filter(string_split(text, ' '),
                             t -> t IN ('the', 'a'))) AS DOUBLE)
        / len(string_split(text, ' '))) AS stopword_ratio,
       (len(string_split(text, ' ')) >= 10
        AND CAST(len(list_filter(string_split(text, ' '),
                                 t -> t IN ('the', 'a'))) AS DOUBLE)
            / len(string_split(text, ' ')) > 0
        AND CAST(len(list_filter(string_split(text, ' '),
                                 t -> t IN ('the', 'a'))) AS DOUBLE)
            / len(string_split(text, ' ')) <= 0.6) AS keep
FROM documents
""",
)
def q23(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: stopword ratio features + a C4/Gopher-style
    keep decision, all JVM-side array algebra."""
    docs = load_table(spark, sf_dir, "documents")
    feats = quality_features(F.col("text"))
    n_stop = F.size(F.filter(F.split("text", " "), lambda t: t.isin("the", "a")))
    return docs.select(
        "doc_id",
        n_stop.cast("long").alias("n_stopwords"),
        feats["stopword_ratio"].alias("stopword_ratio"),
        quality_keep("text").alias("keep"),
    )


@register(
    "q24_lang_id_confusion",
    """
SELECT lang,
       CASE WHEN list_contains(string_split(text, ' '), 'the') THEN 'en'
            WHEN list_contains(string_split(text, ' '), 'le') THEN 'fr'
            WHEN list_contains(string_split(text, ' '), 'der') THEN 'de'
            WHEN list_contains(string_split(text, ' '), 'el') THEN 'es'
            ELSE 'unknown' END AS lang_guess,
       COUNT(*) AS n_docs
FROM documents
GROUP BY 1, 2
""",
)
def q24(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word language ID vs. the labeled lang — a confusion
    matrix. (Production swaps the heuristic for a model scorer behind
    the same column contract.)"""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("lang", lang_guess("text").alias("lang_guess"))
        .groupBy("lang", "lang_guess")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


@register(
    "q25_fingerprint_md5",
    f"""
SELECT doc_id, md5({_NORM_SQL}) AS fingerprint FROM documents
""",
)
def q25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine-portable document fingerprint: md5 of normalized text
    (global dedup key; 128-bit space — collision-safe at corpus scale)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", fingerprint_md5("text").alias("fingerprint"))


def _jaccard_pairs_sql(threshold: float) -> str:
    """q26's full pair query, parameterized on the jaccard threshold —
    also the edge set of q55's component oracle (at a tighter, actually
    near-dup threshold)."""
    return f"""
WITH base AS (
  SELECT doc_id, lang,
         list_distinct(list_transform(
           generate_series(1, greatest(len(string_split({_NORM_SQL}, ' ')) - 2, 1)),
           i -> array_to_string(string_split({_NORM_SQL}, ' ')[i:i+2], ' ')
         )) AS sh
  FROM documents
), sizes AS (
  SELECT doc_id, len(sh) AS n_sh FROM base
), posting AS (
  SELECT doc_id, lang, unnest(sh) AS shingle FROM base
), pairs AS (
  SELECT l.doc_id AS doc_a, r.doc_id AS doc_b, COUNT(*) AS inter
  FROM posting l JOIN posting r
    ON l.lang = r.lang AND l.shingle = r.shingle AND l.doc_id < r.doc_id
  GROUP BY 1, 2
)
SELECT p.doc_a, p.doc_b,
       (CAST(p.inter AS DOUBLE) / (sa.n_sh + sb.n_sh - p.inter)) AS jaccard
FROM pairs p
JOIN sizes sa ON p.doc_a = sa.doc_id
JOIN sizes sb ON p.doc_b = sb.doc_id
WHERE (CAST(p.inter AS DOUBLE) / (sa.n_sh + sb.n_sh - p.inter)) >= {threshold}
"""


@register("q26_ngram_jaccard_pairs", _jaccard_pairs_sql(0.01))
def q26(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram Jaccard near-dup: shingle inverted index (explode +
    self-join = posting-list intersection), language blocking bounds
    the candidate space. max_df=1000 caps boilerplate shingles (a
    shingle in d docs costs d² join rows) — chosen above the sf0.01
    corpus size (500 docs) so the oracle comparison is unaffected;
    at larger corpora it bounds the hottest bucket to max_df²."""
    docs = load_table(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(
        docs, block_cols=("lang",), k=3, threshold=0.01, max_df=1000
    )


_COSINE_ORACLE = """
WITH q AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
  FROM embeddings WHERE vec_id < 20),
c AS (
  SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings),
scored AS (
  SELECT query_id, neighbor_id,
         list_dot_product(qv, cv)
           / (sqrt(list_dot_product(qv, qv))
              * sqrt(list_dot_product(cv, cv))) AS score
  FROM c, q WHERE query_id != neighbor_id),
ranked AS (
  SELECT query_id, neighbor_id, score,
         row_number() OVER (
           PARTITION BY query_id
           ORDER BY score DESC, neighbor_id ASC) AS rank
  FROM scored)
SELECT query_id, neighbor_id, score, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= 5
"""


@register("q27_cosine_topk", _COSINE_ORACLE)
def q27(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k (exact ANN baseline): query set
    broadcast, corpus streamed — the corpus side never shuffles."""
    emb = load_table(spark, sf_dir, "embeddings")
    out = brute_force_topk(
        emb, emb.filter(F.col("vec_id") < 20), k=5, metric="cosine"
    )
    return out.withColumn("rank", F.col("rank").cast("long"))


@register(
    "q30_embedding_l2_topk",
    """
WITH q AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
  FROM embeddings WHERE vec_id < 20),
c AS (
  SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings),
scored AS (
  SELECT query_id, neighbor_id,
         -sqrt(list_dot_product(qv, qv) + list_dot_product(cv, cv)
               - 2 * list_dot_product(qv, cv)) AS score
  FROM c, q WHERE query_id != neighbor_id),
ranked AS (
  SELECT query_id, neighbor_id, score,
         row_number() OVER (
           PARTITION BY query_id
           ORDER BY score DESC, neighbor_id ASC) AS rank
  FROM scored)
SELECT query_id, neighbor_id, score, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= 5
""",
)
def q30(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2 top-k via the ||a-b||² = ||a||²+||b||²-2a·b identity — dot
    products only, so the float expression is engine-portable."""
    emb = load_table(spark, sf_dir, "embeddings")
    out = brute_force_topk(emb, emb.filter(F.col("vec_id") < 20), k=5, metric="l2")
    return out.withColumn("rank", F.col("rank").cast("long"))


# --- md5-portable hash family: oracle-checkable in DuckDB -----------
# (the dedup operators hash with md5 only, so every hash value has a
# DuckDB twin — VERDICT r1 §2)


def _minhash_cte(num_hashes: int = 64, bands: int = 16) -> str:
    """Shared DuckDB CTE chain for the md5 MinHash+LSH family: same
    28-bit md5 base hash ('0x'||hex cast), same affine coefficients
    (driver literals) as minhash_signatures — plain BIGINT math on
    both sides. Ends with a ``cand`` relation of candidate pairs;
    composing oracles append their own final SELECT."""
    from ..operators.dedup import MERSENNE_31, minhash_affine_coeffs

    rows = num_hashes // bands
    coeffs = minhash_affine_coeffs(num_hashes)
    sig_aggs = ",\n         ".join(
        f"min(({a} * h0 + {b}) % {MERSENNE_31}) AS _h{s}"
        for s, (a, b) in enumerate(coeffs)
    )
    band_rows = "\n  UNION ALL\n".join(
        f"  SELECT doc_id, {b} AS band, concat_ws(','"
        + "".join(f", _h{b * rows + r}::VARCHAR" for r in range(rows))
        + ") AS bucket FROM sig"
        for b in range(bands)
    )
    return f"""
WITH base AS (
  SELECT doc_id,
         list_distinct(list_transform(
           generate_series(1, greatest(len(string_split({_NORM_SQL}, ' ')) - 2, 1)),
           i -> array_to_string(string_split({_NORM_SQL}, ' ')[i:i+2], ' ')
         )) AS sh
  FROM documents
), posting AS (
  SELECT doc_id, unnest(sh) AS shingle FROM base
), hashed AS (
  SELECT doc_id, ('0x' || substring(md5(shingle), 1, 7))::BIGINT AS h0
  FROM posting
), sig AS (
  SELECT doc_id, {sig_aggs}
  FROM hashed GROUP BY doc_id
), banded AS (
{band_rows}
), cand AS (
  SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
  FROM banded l JOIN banded r
    ON l.band = r.band AND l.bucket = r.bucket AND l.doc_id < r.doc_id
)"""


def _minhash_lsh_oracle(num_hashes: int = 64, bands: int = 16) -> str:
    return f"""
{_minhash_cte(num_hashes, bands)}
SELECT doc_a, doc_b FROM cand
"""


@register("q28_minhash_lsh_candidates", _minhash_lsh_oracle())
def q28(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash LSH candidate pairs: 64-hash signature (md5 seed-prefix
    family — portable string-min, see minhash_signatures), 16 bands ×
    4 rows, bucket equi-join. Fully oracle-checked against the DuckDB
    twin of the same md5 pipeline."""
    docs = load_table(spark, sf_dir, "documents")
    return minhash_lsh_candidates(docs, num_hashes=64, bands=16, k=3)


def _simhash_cte(bits: int = 64) -> str:
    """DuckDB CTE chain ending in ``sims(doc_id, simhash)`` — the twin
    of simhash64 (same nibble-bit votes), shared by the
    q29 signature query and the q103 hamming-pair join."""
    def nib(i: int) -> str:
        return f"(strpos('0123456789abcdef', substring(h, {i + 1}, 1)) - 1)"

    votes = ",\n         ".join(
        f"SUM(2 * (({nib(j // 4)} >> {j % 4}) & 1) - 1) AS v{j}"
        for j in range(bits)
    )
    packed = "\n       + ".join(
        [f"(CASE WHEN v{j} >= 0 THEN (1::BIGINT << {j}) ELSE 0::BIGINT END)"
         for j in range(bits - 1)]
        # bit 63 is the two's-complement sign bit: adding -2^63 equals
        # setting it, without BIGINT overflow in either engine
        + [f"(CASE WHEN v{bits - 1} >= 0 THEN -9223372036854775808 "
           "ELSE 0::BIGINT END)"]
    )
    return f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split({_NORM_SQL}, ' ')) AS tok FROM documents
), hashed AS (
  SELECT doc_id, md5(tok) AS h FROM toks
), votes AS (
  SELECT doc_id,
         {votes}
  FROM hashed GROUP BY doc_id
), sims AS (
  SELECT doc_id,
         CAST({packed} AS BIGINT) AS simhash
  FROM votes
)"""


def _simhash_oracle(bits: int = 64) -> str:
    return f"""
{_simhash_cte(bits)}
SELECT doc_id, simhash FROM sims
"""


@register("q29_simhash", _simhash_oracle())
def q29(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash per document (bit-majority of token hashes),
    packed into one long — explode→aggregate with map-side partial
    votes. md5 nibble-bit family, so the exact packed value is
    oracle-checked bit-for-bit in DuckDB."""
    docs = load_table(spark, sf_dir, "documents")
    return simhash64(docs)


def _profile_oracle() -> str:
    """DuckDB twin of q31: the portable HLL over an unpivoted
    (field, value) stack — same md5 hash, CASE-chain rho, integer
    register sum, single-division estimate as the Spark side."""
    from ..operators.sketches import hll_distinct_sql

    inner = hll_distinct_sql("u", "source, field", "value")
    return f"""
WITH u AS (
  SELECT source, 'text' AS field, text AS value FROM documents
  UNION ALL
  SELECT source, 'lang' AS field, lang AS value FROM documents
), est AS (
  SELECT * FROM ({inner})
)
SELECT source,
       max(CASE WHEN field = 'text' THEN n_rows END) AS n_docs,
       max(CASE WHEN field = 'text' THEN approx_distinct END)
         AS approx_distinct_text,
       max(CASE WHEN field = 'lang' THEN approx_distinct END)
         AS approx_distinct_lang
FROM est GROUP BY source
"""


@register("q31_profile_approx", _profile_oracle())
def q31(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate profiling per source via the engine-portable HLL
    (operators/sketches.py) — md5-derived registers + exact-integer
    harmonic sum, so even the double estimates oracle-match bit for
    bit (was rows-only with approx_count_distinct, whose HLL++ sketch
    is engine-specific; that built-in remains the hot path at scale —
    this query is the verifiable twin). The exact q21 anchors accuracy.
    Both value columns share one scan via an unpivot stack."""
    from ..operators.sketches import hll_distinct

    docs = load_table(spark, sf_dir, "documents")
    u = docs.select(
        "source",
        F.expr("stack(2, 'text', text, 'lang', lang) AS (field, value)"),
    )
    est = hll_distinct(u, ["source", "field"], "value")
    return est.groupBy("source").agg(
        F.max(F.when(F.col("field") == "text", F.col("n_rows"))).alias(
            "n_docs"
        ),
        F.max(
            F.when(F.col("field") == "text", F.col("approx_distinct"))
        ).alias("approx_distinct_text"),
        F.max(
            F.when(F.col("field") == "lang", F.col("approx_distinct"))
        ).alias("approx_distinct_lang"),
    )


def _lsh_topk_oracle(bits: int = 6, dim: int = 64, k: int = 5) -> str:
    """DuckDB twin of lsh_topk: the SAME driver-deterministic
    hyperplanes (operators.similarity._hyperplanes) embedded as list
    literals — repr() round-trips every float exactly, and q27 proved
    list_dot_product matches Spark's sequential fold bit-for-bit, so
    the sign bits (and hence buckets) agree."""
    from ..operators.similarity import _hyperplanes

    bucket = "\n       + ".join(
        f"(CASE WHEN list_dot_product(v, [{', '.join(repr(x) for x in plane)}]) "
        f">= 0 THEN {1 << j} ELSE 0 END)"
        for j, plane in enumerate(_hyperplanes(bits, dim))
    )
    return f"""
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
), b AS (
  SELECT vec_id, v,
       {bucket} AS bucket
  FROM e
), q AS (
  SELECT vec_id AS query_id, v AS qv, bucket FROM b WHERE vec_id < 20
), c AS (
  SELECT vec_id AS neighbor_id, v AS cv, bucket FROM b
), scored AS (
  SELECT query_id, neighbor_id,
         list_dot_product(qv, cv)
           / (sqrt(list_dot_product(qv, qv))
              * sqrt(list_dot_product(cv, cv))) AS score
  FROM c JOIN q USING (bucket) WHERE query_id != neighbor_id
), ranked AS (
  SELECT query_id, neighbor_id, score,
         row_number() OVER (
           PARTITION BY query_id
           ORDER BY score DESC, neighbor_id ASC) AS rank
  FROM scored)
SELECT query_id, neighbor_id, score, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= {k}
"""


@register("q32_lsh_topk", _lsh_topk_oracle())
def q32(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH approximate top-k: sign-bit bucket equi-join +
    exact cosine within bucket (the 100 TB-scale ANN path). The
    hyperplanes are deterministic driver literals, so DuckDB recomputes
    the identical buckets and scores (see _lsh_topk_oracle)."""
    emb = load_table(spark, sf_dir, "embeddings")
    out = lsh_topk(emb, emb.filter(F.col("vec_id") < 20), k=5, bits=6)
    return out.withColumn("rank", F.col("rank").cast("long"))


@register(
    "q35_bpe_token_estimate",
    """
SELECT doc_id,
       CAST(list_aggregate(
         list_transform(string_split_regex(text, '[^A-Za-z0-9]+'),
                        w -> CAST(ceil(length(w) / 4.0) AS BIGINT)),
         'sum') AS BIGINT) AS bpe_tokens
FROM documents
""",
)
def q35(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish token estimate (word-piece boundaries at non-alnum +
    4-char chunks of long words) — the tokenizer-free budget counter a
    training pipeline uses before committing to a real tokenizer."""
    from ..operators.text import bpe_ish_token_count

    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", bpe_ish_token_count("text").cast("long").alias("bpe_tokens")
    )


def _q34_oracle() -> str:
    """DuckDB twin of the md5-chain stub codec: every pseudo-pixel is
    recomputed from the content bytes, and every emitted value is a
    dyadic rational (integer sums over /8.0 and /64.0), so the doubles
    match Spark's float32-cast features bit for bit."""
    chunk_sums = ",\n         ".join(
        f"sum(CASE WHEN j // 8 = {i} THEN p END) AS s{i}" for i in range(8)
    )
    f_cols = ",\n       ".join(f"a.s{i} / 8.0 AS f{i}" for i in range(8))
    return f"""
WITH m AS (
  SELECT doc_id AS media_id,
         CASE WHEN doc_id % 3 = 0 THEN 'image'
              WHEN doc_id % 3 = 1 THEN 'audio'
              ELSE 'video' END AS kind,
         text
  FROM documents
), base AS (
  SELECT media_id, kind,
         octet_length(encode(text)) AS n_bytes,
         md5(text) AS h
  FROM m
), px AS (
  SELECT media_id, g.j,
         ('0x' || substring(md5(h || ':' || g.j::VARCHAR), 1, 2))::BIGINT AS p
  FROM base, generate_series(0, 63) AS g(j)
), agg AS (
  SELECT media_id, sum(p) AS total,
         {chunk_sums}
  FROM px GROUP BY media_id
)
SELECT b.media_id, b.kind, CAST(b.n_bytes AS BIGINT) AS n_bytes,
       ('0x' || substring(b.h, 1, 12))::BIGINT AS checksum,
       a.total / 64.0 AS mean_intensity,
       {f_cols}
FROM base b JOIN agg a USING (media_id)
"""


@register("q34_media_features", _q34_oracle())
def q34(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal pipeline over binary columns: documents as a media
    corpus (utf-8 payloads + typed meta) → Arrow-batched mapInPandas
    decode/featurize. The stub codec is an md5 chain over the content
    bytes, so the DuckDB oracle recomputes every pseudo-pixel — the
    whole multimodal path (schema, batching, pooling arithmetic) is
    value-exact checked, no longer rows-only. Features are emitted as
    scalar columns (f0..f7): every value is a dyadic rational (integer
    sum / 8.0), exact in float32 AND double, and scalars keep the
    driver's pandas canonicalizer happy (lists are unhashable there —
    CORRECTNESS_r01 q34 err)."""
    from ..operators.multimodal import documents_as_media, media_features

    docs = load_table(spark, sf_dir, "documents")
    feats = media_features(documents_as_media(docs))
    return feats.select(
        "media_id",
        "kind",
        "n_bytes",
        "checksum",
        "mean_intensity",
        *[
            F.col("feature")[i].cast("double").alias(f"f{i}")
            for i in range(8)
        ],
    )


_Q54_ORACLE = """
WITH v AS (
  SELECT doc_id AS media_id, md5(text) AS h,
         (n_chars % 10 + 1) * 1000 AS duration_ms
  FROM documents WHERE doc_id % 3 = 2
)
, f AS (
  SELECT media_id, h,
         unnest(generate_series(0, duration_ms // 1000 - 1)) AS i
  FROM v
)
SELECT media_id,
       CAST(i AS INT) AS frame_idx,
       CAST(i * 1000 AS INT) AS ts_ms,
       ('0x' || substring(md5(h || ':' || (i * 1000)::VARCHAR), 1, 12))::BIGINT
         AS frame_checksum
FROM f
"""


@register("q54_frame_sample", _Q54_ORACLE)
def q54(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-expanding frame sampler: one row per sampled video timestamp
    (mapInPandas yields many rows per input — the shape a real frame
    extractor has). md5-chain frame checksums make even this stub
    oracle-checkable: the DuckDB twin regenerates every frame row via
    generate_series."""
    from ..operators.multimodal import documents_as_media, sample_frames

    docs = load_table(spark, sf_dir, "documents")
    return sample_frames(documents_as_media(docs), every_ms=1000)


def _q36_oracle() -> str | None:
    """DuckDB twin of the full Nessus pipeline: the SAME fixture
    documents (written as nested parquet via pyarrow —
    fixtures.ensure_fixture_parquet) flattened with unnest and filtered
    per get_folder_results(folder 1, plugin 5) semantics
    (/root/reference/queries/get_folder_results.sql:13-89).

    Deliberately an INDEPENDENT formulation: where the engine builds
    silver tables and re-joins them (host ⋈ host_vuln ⋈ plugin ⋈
    vuln_output), the oracle walks the document nesting directly — so a
    join-key bug on the engine side cannot cancel out."""
    try:
        from ..pipeline.fixtures import ensure_fixture_parquet

        root = ensure_fixture_parquet()
    except Exception:  # pragma: no cover — fall back to rows-only
        return None
    return f"""
WITH scans AS (
  SELECT id AS scan_id
  FROM read_parquet('{root}/scan_docs.parquet') WHERE folder_id = 1
), runs AS (
  SELECT d.*, row_number() OVER (PARTITION BY d.scan_id
           ORDER BY d.scanner_start DESC, d.history_id DESC) AS rn
  FROM read_parquet('{root}/scan_run_docs.parquet') d
  JOIN scans s ON d.scan_id = s.scan_id
), tgt AS (
  SELECT history_id, unnest(targets) AS t FROM runs WHERE rn = 1
), vuln AS (
  SELECT history_id, t, unnest(t.vulnerabilities) AS v FROM tgt
), outp AS (
  SELECT t, v, unnest(v.outputs) AS o FROM vuln
)
SELECT
  v.plugin.plugin_id AS plugin_id,
  v.host_vuln.nessus_host_id AS nessus_host_id,
  v.host_vuln.scan_run_id AS scan_run_id,
  t.scan_id AS scan_id,
  t.host_ip AS host_ip,
  t.host_fqdn AS host_fqdn,
  t.host_start AS host_start,
  t.host_end AS host_end,
  t.os AS os,
  t.critical_count AS critical_count,
  t.high_count AS high_count,
  t.medium_count AS medium_count,
  t.low_count AS low_count,
  t.info_count AS info_count,
  v.plugin.severity AS severity,
  v.plugin.name AS name,
  v.plugin.family AS family,
  v.plugin.pluginattributes.synopsis AS synopsis,
  v.plugin.pluginattributes.description AS description,
  v.plugin.pluginattributes.solution AS solution,
  CAST(v.plugin.pluginattributes.risk_information.cvss_base_score AS DOUBLE)
    AS cvss_base_score,
  CAST(v.plugin.pluginattributes.risk_information.cvss3_base_score AS DOUBLE)
    AS cvss3_base_score,
  v.plugin.pluginattributes.risk_information.cvss_vector AS cvss_vector,
  v.plugin.pluginattributes.risk_information.cvss3_vector AS cvss3_vector,
  array_to_string(v.plugin.pluginattributes.see_also, chr(10)) AS ref,
  v.plugin.pluginattributes.plugin_publication_date AS pub_date,
  v.plugin.pluginattributes.plugin_modification_date AS mod_date,
  o.port AS port,
  o.output AS output
FROM outp
WHERE v.plugin.plugin_id = 5
"""


@register("q36_nessus_folder_results", _q36_oracle())
def q36(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REAL Nessus surface end-to-end: deterministic nested scan-run
    documents → bronze→silver normalization (explode chains) →
    get_folder_results(folder 1, plugin filter) — the reference's
    richest stored procedure as one Catalyst plan. Surrogate-id columns
    are dropped (they depend on partitioning); everything else is
    deterministic and verified against the independent document-walk
    oracle (_q36_oracle), closing S5/P1-P3/J4/C3/C4/F10/F11."""
    from ..pipeline import fixtures
    from ..pipeline.normalize import normalize_scan_runs
    from .nessus_api import get_folder_results

    tables = normalize_scan_runs(
        fixtures.scan_run_docs(spark),
        folder_docs=fixtures.folder_docs(spark),
        scan_docs=fixtures.scan_docs(spark),
        id_mode="hash",
    )
    out = get_folder_results(tables, folder_id=1, plugin_id=5)
    return out.drop("host_vuln_id", "host_id", "vuln_output_id")


@register(
    "q40_rank_analytics",
    """
SELECT c_custkey, c_mktsegment, c_acctbal,
       CAST(rank() OVER w AS BIGINT) AS bal_rank,
       percent_rank() OVER w AS bal_pct,
       c_acctbal - lag(c_acctbal) OVER w2 AS gap_to_prev
FROM customer
WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal),
       w2 AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
""",
)
def q40(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic-window suite beyond the reference's W1: rank,
    percent_rank, and lag deltas per segment — rank-based so the values
    are bit-exact across engines (no float aggregation order).

    c_mktsegment has 5 distinct values, so a plain window would funnel
    the whole table into 5 tasks at scale (VERDICT r1 weak #4); the
    engine runs the exact two-phase rank instead (range repartition +
    broadcast offsets — operators.windows.two_phase_rank), which keeps
    every shuffle fine-grained while matching the window SQL oracle
    value-for-value."""
    from ..operators.windows import two_phase_rank

    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    out = two_phase_rank(
        cust,
        part_col="c_mktsegment",
        val_col="c_acctbal",
        key_col="c_custkey",
        rank_col="bal_rank",
        pct_col="bal_pct",
        gap_col="gap_to_prev",
    )
    return out.select(
        "c_custkey",
        "c_mktsegment",
        "c_acctbal",
        F.col("bal_rank").cast("long").alias("bal_rank"),
        "bal_pct",
        "gap_to_prev",
    )


_PCT_RANK_ORACLE = """
SELECT doc_id, lang, n_chars,
       CAST(rank() OVER (PARTITION BY lang ORDER BY n_chars) AS DOUBLE)
         / COUNT(*) OVER (PARTITION BY lang) AS pct_rank
FROM documents
"""


@register("q41_group_pct_rank", _PCT_RANK_ORACLE)
def q41(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-wise min-method percentile rank via the PUBLIC built-in
    operator (rank()/count() window algebra — JVM-side, codegen'd, one
    shuffle on the group key). The applyInPandas twin of the same
    computation is q91's harness probe."""
    from ..operators.groupwise import group_pct_rank

    docs = load_table(spark, sf_dir, "documents")
    return group_pct_rank(docs, ["lang"], "n_chars", "doc_id")


@register("q91_pandas_rank_probe", _PCT_RANK_ORACLE)
def q91(spark: SparkSession, sf_dir: str) -> DataFrame:
    """applyInPandas EXTENSION-POINT probe under full oracle
    verification: the same min-method percentile rank as q41, computed
    in Pandas one Arrow batch per group, matched value-exactly against
    the window-SQL twin — proving the applyInPandas path (schema
    contract, group iteration, Arrow transfer) end to end. Not a rank
    operator users should copy: that is q41's built-in form."""
    from ..operators.groupwise import quantile_rank

    docs = load_table(spark, sf_dir, "documents")
    return quantile_rank(docs, ["lang"], "n_chars", "doc_id")


def _q39_oracle(
    n_cents: int = 16,
    dim: int = 64,
    iters: int = 3,
    nprobe: int = 4,
    k: int = 5,
    scale: float = 4096.0,
) -> str:
    """DuckDB twin of the ENTIRE IVF pipeline including the trainer:
    kmeans_exact_quantized's Lloyd iterations unrolled as CTE chains
    (assignment = the same -2·dot+c·c fold ranking, update = exact
    integer sums / count), then the q79-shaped probe/score/rank serve
    stage. Self-contained — no data-dependent literals — so it holds at
    every scale factor."""
    dist = (
        "-2.0 * list_dot_product(ed.vqd, c.c)"
        " + list_dot_product(c.c, c.c)"
    )
    it = "".join(
        f""", d{i} AS (
  SELECT ed.vec_id, ed.vq, c.ci, {dist} AS d
  FROM ed CROSS JOIN c{i - 1} c
), a{i} AS (
  SELECT vec_id, vq, ci FROM (
    SELECT vec_id, vq, ci,
           row_number() OVER (PARTITION BY vec_id ORDER BY d, ci) AS rn
    FROM d{i})
  WHERE rn = 1
), u{i} AS (
  SELECT ci, t.i AS i, CAST(SUM(vq[t.i]) AS DOUBLE) / COUNT(*) AS m
  FROM a{i} CROSS JOIN range(1, {dim + 1}) t(i)
  GROUP BY ci, t.i
), c{i} AS (
  SELECT c{i - 1}.ci,
         COALESCE((SELECT list(m ORDER BY i) FROM u{i}
                   WHERE u{i}.ci = c{i - 1}.ci),
                  c{i - 1}.c) AS c
  FROM c{i - 1}
)"""
        for i in range(1, iters + 1)
    )
    return f"""
WITH ed AS (
  SELECT vec_id,
         embedding::DOUBLE[] AS v,
         list_transform(embedding::DOUBLE[],
                        x -> CAST(floor(x * {scale!r}) AS BIGINT)) AS vq,
         list_transform(list_transform(embedding::DOUBLE[],
                        x -> CAST(floor(x * {scale!r}) AS BIGINT)),
                        y -> CAST(y AS DOUBLE)) AS vqd,
         ('0x' || substring(md5('ivf:' || CAST(vec_id AS VARCHAR)), 1, 12))::BIGINT
           AS h
  FROM embeddings
), c0 AS (
  SELECT CAST(row_number() OVER (ORDER BY h, vec_id) AS INTEGER) - 1 AS ci,
         vqd AS c
  FROM ed ORDER BY h, vec_id LIMIT {n_cents}
){it}, df AS (
  SELECT ed.vec_id, c.ci, {dist} AS d
  FROM ed CROSS JOIN c{iters} c
), rf AS (
  SELECT vec_id, ci, row_number() OVER (PARTITION BY vec_id ORDER BY d, ci) AS rn
  FROM df
), corpus_cell AS (
  SELECT ed.vec_id AS neighbor_id, ed.v AS cv, r.ci AS cell
  FROM ed JOIN rf r ON ed.vec_id = r.vec_id AND r.rn = 1
), probes AS (
  SELECT ed.vec_id AS query_id, ed.v AS qv, r.ci AS cell
  FROM ed JOIN rf r ON ed.vec_id = r.vec_id AND r.rn <= {nprobe}
  WHERE ed.vec_id < 20
), scored AS (
  SELECT query_id, neighbor_id,
         list_dot_product(qv, cv)
           / (sqrt(list_dot_product(qv, qv))
              * sqrt(list_dot_product(cv, cv))) AS score
  FROM corpus_cell JOIN probes USING (cell)
  WHERE query_id != neighbor_id
), final AS (
  SELECT query_id, neighbor_id, score,
         row_number() OVER (
           PARTITION BY query_id
           ORDER BY score DESC, neighbor_id ASC) AS rank
  FROM scored)
SELECT query_id, neighbor_id, score, CAST(rank AS BIGINT) AS rank
FROM final WHERE rank <= {k}
"""


@register("q39_ivf_topk", _q39_oracle())
def q39(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-k WITH its trainer under full value-oracle
    proof: engine-exact quantized Lloyd k-means (integer-sum updates,
    fold-ranking assignment — similarity.kmeans_exact_quantized) trains
    the coarse codebook; the serve stage assigns cells in the quantized
    training space and scores exact cosine on the original doubles.
    The third ANN tier (brute q27 / LSH q32 / IVF q39); q79 keeps the
    production split (fixed codebook, Arrow-matmul assignment) while
    this query proves train+serve end to end against DuckDB running
    the identical unrolled iterations."""
    from ..operators.similarity import ivf_exact_topk, kmeans_exact_quantized

    emb = load_table(spark, sf_dir, "embeddings")
    cents = kmeans_exact_quantized(emb, n_centroids=16, iters=3)
    return ivf_exact_topk(
        emb, emb.filter(F.col("vec_id") < 20), cents, k=5, nprobe=4
    )


@register(
    "q33_rolling_fingerprint",
    f"""
WITH t AS (
  SELECT doc_id, string_split({_NORM_SQL}, ' ') AS toks FROM documents
)
SELECT doc_id,
       list_aggregate(list_transform(
         generate_series(1, greatest(len(toks) - 7, 1)),
         i -> md5(array_to_string(toks[i:i+7], ' '))), 'min') AS fingerprint
FROM t
""",
)
def q33(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing-style rolling-hash fingerprint (min of window hashes
    over the token stream) — content-defined, shift-tolerant. Tokens
    staged as an attribute so the tokenizer runs once per doc. md5
    string-min family → the exact fingerprint is oracle-checked."""
    from ..operators.text import normalize_text, rolling_hash_from_tokens, tokens

    from ..catalog import spread_for_compute

    docs = spread_for_compute(load_table(spark, sf_dir, "documents"))
    toks = docs.select("doc_id", tokens(normalize_text("text")).alias("toks"))
    return toks.select(
        "doc_id",
        rolling_hash_from_tokens(F.col("toks")).alias("fingerprint"),
    )


def _split_case_sql() -> str:
    from ..operators.sampling import split_assign_sql

    return split_assign_sql(
        "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1}
    )


def _q49_oracle() -> str:
    return f"""
SELECT {_split_case_sql()} AS split,
       count(*) AS n_docs,
       CAST(sum(length(text)) AS BIGINT) AS total_chars
FROM documents GROUP BY 1
"""


@register("q49_hash_split_profile", _q49_oracle())
def q49(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split (salted md5 → integer
    thresholds, operators/sampling.py) profiled per split. The
    assignment is row-local column algebra — zero shuffle, stable under
    re-partitioning and re-runs, bit-identical cross-engine — which is
    what a 100 TB corpus needs from a split: no rand(), no global
    sort, no coordination."""
    from ..operators.sampling import hash_split

    docs = load_table(spark, sf_dir, "documents")
    return (
        hash_split(docs, {"train": 0.8, "val": 0.1, "test": 0.1})
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.length("text")).alias("total_chars"),
        )
    )


def _q50_oracle(k: int = 20) -> str:
    return f"""
WITH h AS (
  SELECT source, doc_id,
         ('0x' || substring(md5('sample-v1' || doc_id::VARCHAR), 1, 12))::BIGINT
           AS skey
  FROM documents
), r AS (
  SELECT source, doc_id,
         row_number() OVER (PARTITION BY source ORDER BY skey, doc_id)
           AS rank
  FROM h
)
SELECT source, doc_id, rank FROM r WHERE rank <= {k}
"""


@register("q50_group_sample", _q50_oracle())
def q50(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic uniform k-per-group sample (salted-hash order,
    operators/sampling.py) — reproducible eval subsets without rand().
    Ranking runs through grouped_row_number (row_number with doc_id as
    the final tiebreak — exactly k rows even under a 48-bit hash
    collision at the boundary, where rank() would return k+1), and the
    handful of source values never funnels the table into a handful of
    tasks (the q40/q47 scale fix applied at the operator level)."""
    from ..operators.sampling import group_sample

    docs = load_table(spark, sf_dir, "documents")
    return group_sample(docs, "source", k=20).select(
        "source", "doc_id", "rank"
    )


def _q51_oracle() -> str:
    return f"""
WITH labeled AS (
  SELECT doc_id, text, {_split_case_sql()} AS split FROM documents
), base AS (
  SELECT doc_id, split,
         list_distinct(list_transform(
           generate_series(1, greatest(len(string_split({_NORM_SQL}, ' ')) - 2, 1)),
           i -> array_to_string(string_split({_NORM_SQL}, ' ')[i:i+2], ' ')
         )) AS sh
  FROM labeled
), posting AS (
  SELECT doc_id, split, unnest(sh) AS shingle FROM base
), bench AS (
  SELECT DISTINCT shingle FROM posting WHERE split = 'test'
), train AS (
  SELECT doc_id, shingle FROM posting WHERE split <> 'test'
), totals AS (
  SELECT doc_id, count(*) AS n_shingles FROM train GROUP BY doc_id
), hits AS (
  SELECT t.doc_id, count(*) AS n_overlap
  FROM train t JOIN bench b USING (shingle) GROUP BY t.doc_id
)
SELECT t.doc_id, t.n_shingles,
       coalesce(h.n_overlap, 0) AS n_overlap,
       coalesce(h.n_overlap, 0) / t.n_shingles::DOUBLE AS contamination
FROM totals t LEFT JOIN hits h USING (doc_id)
"""


@register("q51_contamination", _q51_oracle())
def q51(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination check composed from this round's split
    operator: shingle overlap of every train+val doc against the test
    split's shingle set (operators/dedup.py::cross_corpus_contamination).
    The bench side here is corpus-proportional (a split of the same
    table), so broadcast_bench=False — the semi-join shuffles on the
    shingle key instead of broadcasting; with a real benchmark suite
    (MBs) the default broadcast path keeps the train corpus entirely
    unshuffled."""
    from ..operators.dedup import cross_corpus_contamination
    from ..operators.sampling import hash_split

    docs = hash_split(
        load_table(spark, sf_dir, "documents"),
        {"train": 0.8, "val": 0.1, "test": 0.1},
    )
    return cross_corpus_contamination(
        docs.filter(F.col("split") != "test"),
        docs.filter(F.col("split") == "test"),
        broadcast_bench=False,
    )


def _q52_oracle() -> str:
    from ..operators.packing import pack_sequences_sql

    return pack_sequences_sql(budget=512)


@register("q52_sequence_packing", _q52_oracle())
def q52(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy token-budget sequence packing per source
    (operators/packing.py) — the training-batch construction step.
    Iterative semantics (bin fill resets at boundaries, so no window
    cumsum can express it), yet fully oracle-checked: the DuckDB twin
    runs the same recurrence as a recursive CTE. The Spark side is
    applyInPandas per shard under the one-batch-per-group contract."""
    from ..operators.packing import pack_sequences

    docs = load_table(spark, sf_dir, "documents")
    return pack_sequences(docs, budget=512)


def _q55_oracle() -> str:
    return f"""
WITH RECURSIVE jp AS ({_jaccard_pairs_sql(0.3)}),
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM jp
  UNION
  SELECT doc_b AS a, doc_a AS b FROM jp
), reach AS (
  SELECT a AS id, a AS r FROM edges
  UNION
  SELECT e.a AS id, r.r AS r FROM edges e JOIN reach r ON e.b = r.id
)
SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id
"""


@register("q55_dedup_clusters", _q55_oracle())
def q55(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS: connected components over the q26 Jaccard
    pair graph (operators/graph.py — alternating large-star/small-star
    contraction, O(log diameter) rounds; star-shaped dup clusters
    collapse in ~2 regardless of size), giving each document the
    minimum doc_id of its component as a deterministic canonical
    representative. This is the step that turns pairwise similarity
    into keep/drop decisions (q93 resolves them). The oracle computes
    the same components via recursive transitive closure — an
    independent formulation, so a contraction bug cannot cancel out.

    Threshold 0.3, deliberately tighter than exploratory q26 (0.01):
    the corpus's jaccard distribution is bimodal — true near-dups sit
    at ≥0.5 and topical noise below 0.1 (the 0.2-0.5 cut yields the
    identical edge set), so 0.3 clusters actual duplicates instead of
    chaining topics, and the component graph stays sparse at any
    scale."""
    from ..operators.dedup import ngram_jaccard_pairs
    from ..operators.graph import connected_components

    docs = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(
        docs, block_cols=("lang",), k=3, threshold=0.3, max_df=1000
    )
    return connected_components(pairs, "doc_a", "doc_b").select(
        F.col("id").alias("doc_id"), "cluster_id"
    )


_Q56_ORACLE = f"""
SELECT t AS token,
       count(*) AS n_occurrences,
       count(DISTINCT doc_id) AS n_docs
FROM (
  SELECT doc_id, unnest(string_split({_NORM_SQL}, ' ')) AS t
  FROM documents
)
GROUP BY t
ORDER BY n_occurrences DESC, token ASC
LIMIT 100
"""


@register("q56_vocab_top100", _Q56_ORACLE)
def q56(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary heavy hitters: exact global top-100 tokens by
    occurrence count (tie-broken by token for a deterministic LIMIT
    boundary) plus document frequency. Scale shape: the explode never
    leaves the map side raw — partial aggregation reduces the shuffle
    to the vocabulary (not token instances), and the global
    sort+limit moves only per-partition top-100s to one reducer."""
    from ..operators.text import normalize_text, tokens

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(tokens(normalize_text("text"))).alias("token")
    )
    return (
        toks.groupBy("token")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
        .orderBy(F.desc("n_occurrences"), F.asc("token"))
        .limit(100)
    )


# ---------------------------------------------------------------------------
# q58 — repetition signals (duplicate n-gram fractions)
# ---------------------------------------------------------------------------

_Q58_ORACLE = """
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
), g AS (
  SELECT doc_id,
         len(toks) AS n_tokens,
         list_transform(generate_series(1, len(toks) - 1),
                        i -> array_to_string(list_slice(toks, i, i + 1), ' ')) AS g2,
         list_transform(generate_series(1, len(toks) - 2),
                        i -> array_to_string(list_slice(toks, i, i + 2), ' ')) AS g3
  FROM t)
SELECT doc_id,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       CASE WHEN len(g2) > 0
            THEN CAST(len(g2) - len(list_distinct(g2)) AS DOUBLE) / len(g2)
            ELSE 0.0 END AS dup_2gram_frac,
       CASE WHEN len(g3) > 0
            THEN CAST(len(g3) - len(list_distinct(g3)) AS DOUBLE) / len(g3)
            ELSE 0.0 END AS dup_3gram_frac
FROM g
"""


@register("q58_repetition_signals", _Q58_ORACLE)
def q58(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition quality signal (Gopher-style duplicate n-gram
    fraction) per document. Entirely row-local array algebra — zero
    shuffles, zero UDFs, so at 100 TB it runs at parquet scan speed
    with full whole-stage codegen. The fractions are integer counts
    through a single IEEE division, bit-exact vs the DuckDB twin.

    Staged-token attribute rule: tokens and each n-gram array
    materialize in their own projections; the fraction body references
    its array three times, and inlining the transform into each use
    site re-runs tokenization per copy (measured 13 s → ~1 s at
    sf0.1)."""
    from ..catalog import spread_for_compute
    from ..operators.text import (
        duplicate_fraction_from_ngrams,
        ngrams,
        tokens,
    )

    docs = spread_for_compute(load_table(spark, sf_dir, "documents"))
    staged = docs.select("doc_id", tokens(F.col("text")).alias("toks"))
    arrs = staged.select(
        "doc_id",
        F.size("toks").cast("long").alias("n_tokens"),
        ngrams(F.col("toks"), 2).alias("g2"),
        ngrams(F.col("toks"), 3).alias("g3"),
    )
    return arrs.select(
        "doc_id",
        "n_tokens",
        duplicate_fraction_from_ngrams(F.col("g2")).alias("dup_2gram_frac"),
        duplicate_fraction_from_ngrams(F.col("g3")).alias("dup_3gram_frac"),
    )


# ---------------------------------------------------------------------------
# q59 — overlapping context-window chunking
# ---------------------------------------------------------------------------

_Q59_ORACLE = """
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
), s AS (
  -- list-valued range() + unnest instead of a lateral generate_series:
  -- DuckDB's table-function form rejects column parameters in a join
  SELECT doc_id, toks,
         unnest(range(1, len(toks) + 1, 24)) AS i
  FROM t
)
SELECT doc_id,
       CAST((i - 1) // 24 AS BIGINT) AS chunk_id,
       CAST(len(list_slice(toks, i, i + 31)) AS BIGINT) AS n_chunk_tokens,
       array_to_string(list_slice(toks, i, i + 31), ' ') AS chunk_text
FROM s
"""


@register("q59_doc_chunking", _Q59_ORACLE)
def q59(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking: 32-token chunks, stride 24 (8-token
    overlap) — the splitter that feeds tokenize+pack (q52). The row
    expansion happens inside the projection via posexplode of the
    per-document start sequence: no shuffle, bounded ~n/stride fan-out
    per row, so a 100 TB corpus chunks in a single map stage."""
    from ..operators.text import chunk_documents

    docs = load_table(spark, sf_dir, "documents")
    return chunk_documents(docs, chunk_size=32, stride=24)


# ---------------------------------------------------------------------------
# q60 — per-source TF-IDF top terms
# ---------------------------------------------------------------------------

_Q60_ORACLE = """
WITH t AS (
  SELECT source, doc_id, unnest(string_split(text, ' ')) AS term
  FROM documents
), tf AS (
  SELECT source, term, COUNT(*) AS tf FROM t GROUP BY source, term
), dfq AS (
  SELECT term, COUNT(DISTINCT doc_id) AS df FROM t GROUP BY term
), n AS (
  SELECT COUNT(*) AS n_docs FROM documents
), scored AS (
  SELECT source, term, tf, df,
         tf * (CAST(n_docs AS DOUBLE) / df) AS score
  FROM tf JOIN dfq USING (term) CROSS JOIN n
), ranked AS (
  SELECT source, term, tf, df, score,
         row_number() OVER (
           PARTITION BY source ORDER BY score DESC, term ASC) AS rnk
  FROM scored)
SELECT source, term, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
       score, CAST(rnk AS BIGINT) AS rnk
FROM ranked WHERE rnk <= 5
"""


@register("q60_tfidf_top_terms", _Q60_ORACLE)
def q60(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source TF-IDF top-5 terms. IDF is the raw ratio N/df (one
    IEEE division, one multiply — ln() is deliberately avoided because
    libm results are not bit-portable across engines; the RANKING is
    identical either way since ln is monotone in N/df).

    Scale shape: both aggregations partial-combine, so the shuffles
    carry at most |vocab x sources| and |vocab| rows — corpus-size
    independent. The ranking window partitions by source over the
    ALREADY-AGGREGATED vocab-bounded frame (thousands of rows, not the
    corpus), so the low-cardinality-partition trap flagged for q47/q40
    does not apply: the window input is dimension-sized by
    construction."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    terms = docs.select(
        "source", "doc_id", F.explode(F.split(F.col("text"), " ")).alias("term")
    )
    tf = terms.groupBy("source", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = terms.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    w = Window.partitionBy("source").orderBy(F.desc("score"), F.asc("term"))
    return (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "score",
            F.col("tf") * (F.col("n_docs").cast("double") / F.col("df")),
        )
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 5)
        .select(
            "source", "term", "tf", "df", "score",
            F.col("rnk").cast("long").alias("rnk"),
        )
    )


# ---------------------------------------------------------------------------
# q65 — LSH candidates verified with exact Jaccard (full near-dup path)
# ---------------------------------------------------------------------------


def _q65_oracle(threshold: float = 0.3) -> str:
    return f"""
{_minhash_cte()},
verified AS (
  SELECT c.doc_a, c.doc_b,
         CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
           / CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))
                  AS DOUBLE) AS jaccard
  FROM cand c
  JOIN base a ON c.doc_a = a.doc_id
  JOIN base b ON c.doc_b = b.doc_id
)
SELECT doc_a, doc_b, jaccard FROM verified WHERE jaccard >= {threshold!r}
"""


@register("q65_lsh_verified_pairs", _q65_oracle())
def q65(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPLETE scale-path near-dedup pipeline in one plan: MinHash
    LSH proposes candidate pairs (q28's operator), exact shingle-set
    Jaccard verifies them (verify_pairs_jaccard), and only pairs above
    threshold survive — at 100 TB the quadratic work is confined to the
    LSH-bounded candidate set while verification touches |candidates|
    rows. The jaccard value is one IEEE division of exact integers, so
    the whole two-stage pipeline is value-exact against the DuckDB twin
    (candidates CTE shared with q28's oracle)."""
    from ..operators.dedup import minhash_lsh_candidates, verify_pairs_jaccard

    docs = load_table(spark, sf_dir, "documents")
    # minhash_lsh_candidates persists the signatures for its one eager
    # candidate job: Catalyst has no CSE across the banded self-join,
    # and the cache halves the query (3.1 -> 1.8 s at sf0.1). The
    # cache is a few MB (64 longs/doc).
    cand = minhash_lsh_candidates(docs, num_hashes=64, bands=16, k=3)
    return verify_pairs_jaccard(docs, cand, k=3, threshold=0.3)


# ---------------------------------------------------------------------------
# q66 — deterministic training-mixture resampling (epochs per language)
# ---------------------------------------------------------------------------

_MIX_WEIGHTS = {"en": 2.25, "de": 1.5, "zh": 0.5}


def _q66_oracle() -> str:
    from ..operators.sampling import mixture_resample_sql

    n_sql, unnest_sql = mixture_resample_sql(_MIX_WEIGHTS, group_col="lang")
    return f"""
WITH expanded AS (
  SELECT doc_id, lang, {n_sql} AS n_copies, {unnest_sql} AS copy_id
  FROM documents
  WHERE {n_sql} > 0
)
SELECT doc_id, lang, CAST(n_copies AS BIGINT) AS n_copies,
       CAST(copy_id AS BIGINT) AS copy_id
FROM expanded
"""


@register("q66_mixture_resample", _q66_oracle())
def q66(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic fractional up/down-sampling to a target training
    mixture (operators/sampling.py::mixture_resample): language weights
    {en: 2.25, de: 1.5, zh: 0.5, *: 1.0} — 2 guaranteed epochs of en
    plus a reproducible quarter more, half of zh dropped. Row-local
    hash coin flips + in-projection explode: zero shuffles, so the
    re-weight runs at parquet scan speed at any corpus size."""
    from ..operators.sampling import mixture_resample

    docs = load_table(spark, sf_dir, "documents")
    return mixture_resample(docs, _MIX_WEIGHTS, group_col="lang").select(
        "doc_id", "lang", "n_copies", F.col("copy_id").cast("long")
    )


# ---------------------------------------------------------------------------
# q67 — incremental-ingest novelty filter (cross-corpus anti-join dedup)
# ---------------------------------------------------------------------------


def _q67_oracle() -> str:
    case = _split_case_sql()
    return f"""
WITH labeled AS (
  SELECT doc_id, source, text, {case} AS split FROM documents
), existing AS (
  SELECT DISTINCT md5({_NORM_SQL}) AS fp FROM labeled WHERE split = 'train'
), incoming AS (
  SELECT doc_id, source, md5({_NORM_SQL}) AS fp
  FROM labeled WHERE split <> 'train'
)
SELECT i.doc_id, i.source
FROM incoming i
WHERE NOT EXISTS (SELECT 1 FROM existing e WHERE e.fp = i.fp)
"""


@register("q67_novelty_ingest", _q67_oracle())
def q67(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingest novelty filter: an incoming batch (the
    non-train splits, standing in for today's crawl) is kept only where
    its normalized-text fingerprint is unseen in the existing corpus
    (the train split) — exact dedup ACROSS corpora as a left-anti join
    on 16-byte fingerprints (operators/dedup.py::novel_documents).
    Both sides reduce to hashes before the shuffle; the anti-join key
    is uniform md5, so no skew at 100 TB."""
    from ..operators.dedup import novel_documents
    from ..operators.sampling import hash_split

    docs = hash_split(
        load_table(spark, sf_dir, "documents"),
        {"train": 0.8, "val": 0.1, "test": 0.1},
    )
    incoming = docs.filter(F.col("split") != "train")
    existing = docs.filter(F.col("split") == "train")
    return novel_documents(incoming, existing).select("doc_id", "source")


# ---------------------------------------------------------------------------
# q69 — per-label embedding centroids (vector aggregation)
# ---------------------------------------------------------------------------

_Q69_ORACLE = """
WITH e AS (
  SELECT label, embedding::DOUBLE[] AS v,
         unnest(range(0, len(embedding))) AS dim
  FROM embeddings
), q AS (
  SELECT label, dim, CAST(floor(v[dim + 1] * 1000000.0) AS BIGINT) AS vq
  FROM e
), g AS (
  SELECT CAST(label AS BIGINT) AS label, dim,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(vq) AS BIGINT) AS s
  FROM q GROUP BY label, dim
)
SELECT label, dim, n,
       CAST(s AS DOUBLE) / 1000000.0 / n AS centroid
FROM g
"""


@register("q69_label_centroids", _Q69_ORACLE)
def q69(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroids — the vector aggregation behind
    class prototypes / IVF seeding: posexplode to (label, dim, value),
    partial-agg sums map-side, one shuffle of |labels|x|dims| cells
    (corpus-size independent, like the IVF centroid update).

    Cross-engine float rule: a float sum's value depends on reduction
    order, and double→decimal cast ROUNDING differs between engines at
    dyadic ties (Spark HALF_UP vs DuckDB HALF_EVEN — a float32 with a
    coarse mantissa lands exactly on .5 at the 12th decimal often
    enough to matter). So the declared query sums floor-quantized
    integers (floor is unambiguous; v*1e6 is the same IEEE multiply on
    both sides) and divides once at the end. The production path is the
    same plan with a plain double sum — same shuffle shape, no
    quantization."""
    emb = load_table(spark, sf_dir, "embeddings")
    ex = emb.select(
        F.col("label").cast("long").alias("label"),
        F.posexplode(F.col("embedding")).alias("dim", "val"),
    )
    q = ex.select(
        "label",
        F.col("dim").cast("long").alias("dim"),
        F.floor(F.col("val").cast("double") * F.lit(1000000.0))
        .cast("long")
        .alias("vq"),
    )
    g = q.groupBy("label", "dim").agg(
        F.count(F.lit(1)).alias("n"), F.sum("vq").alias("s")
    )
    return g.select(
        "label",
        "dim",
        "n",
        (F.col("s").cast("double") / F.lit(1000000.0) / F.col("n")).alias(
            "centroid"
        ),
    )


# ---------------------------------------------------------------------------
# q70 — JSONL source/sink roundtrip proof
# ---------------------------------------------------------------------------

_CKSUM = "('0x' || substring(md5(text), 1, 12))::BIGINT"

_Q70_ORACLE = f"""
SELECT source,
       count(*) AS n_docs,
       CAST(sum(length(text)) AS BIGINT) AS total_chars,
       CAST(sum({_CKSUM}) AS BIGINT) AS text_cksum,
       CAST(sum(n_chars) AS BIGINT) AS n_chars_sum
FROM documents GROUP BY source
"""


@register("q70_jsonl_roundtrip", _Q70_ORACLE)
def q70(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSONL source/sink proof: land the corpus as line-delimited JSON
    (sources/text_corpus.py — the splittable interchange format of
    training pipelines, generalizing the reference's JSON lake,
    /root/reference/export.py:89-108), read it back with the declared
    schema, and aggregate an order-insensitive content checksum per
    source. The oracle computes the same aggregate from the PARQUET
    table, so matching values prove the JSON write→read roundtrip is
    lossless (text bytes, ids, counters) — not just row counts.

    Checksum is a sum of 48-bit md5 prefixes: sums of 500..5k such
    terms stay far under 2^63, both engines do exact BIGINT math, and
    the order-insensitivity makes it partitioning-independent."""
    import os
    import tempfile

    from ..sources.text_corpus import (
        DOCUMENTS_SCHEMA,
        read_jsonl,
        write_jsonl,
    )

    docs = load_table(spark, sf_dir, "documents")
    sf_tag = os.path.basename(sf_dir.rstrip("/"))
    # applicationId in the path: two concurrent sessions on the same sf
    # (bench + compare_oracle --plain) must not clobber each other's
    # files mid-read
    app_tag = spark.sparkContext.applicationId
    path = os.path.join(
        tempfile.gettempdir(), f"spark_graft_jsonl_{app_tag}_{sf_tag}", "documents"
    )
    write_jsonl(docs, path)
    back = read_jsonl(spark, path, DOCUMENTS_SCHEMA)
    cksum = F.conv(F.substring(F.md5("text"), 1, 12), 16, 10).cast("long")
    return back.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.length("text")).alias("total_chars"),
        F.sum(cksum).alias("text_cksum"),
        F.sum("n_chars").alias("n_chars_sum"),
    )


# ---------------------------------------------------------------------------
# q71 — source-level shingle-Jaccard similarity matrix
# ---------------------------------------------------------------------------

_Q71_ORACLE = f"""
WITH base AS (
  SELECT source, doc_id,
         list_distinct(list_transform(
           generate_series(1, greatest(len(string_split({_NORM_SQL}, ' ')) - 2, 1)),
           i -> array_to_string(string_split({_NORM_SQL}, ' ')[i:i+2], ' ')
         )) AS sh
  FROM documents
), src_sh AS (
  SELECT DISTINCT source, unnest(sh) AS shingle FROM base
), sizes AS (
  SELECT source, count(*) AS n_sh FROM src_sh GROUP BY source
), inter AS (
  SELECT l.source AS source_a, r.source AS source_b, count(*) AS n_inter
  FROM src_sh l JOIN src_sh r
    ON l.shingle = r.shingle AND l.source < r.source
  GROUP BY 1, 2
)
SELECT i.source_a, i.source_b,
       CAST(i.n_inter AS BIGINT) AS n_inter,
       CAST(i.n_inter AS DOUBLE)
         / (sa.n_sh + sb.n_sh - i.n_inter) AS jaccard
FROM inter i
JOIN sizes sa ON i.source_a = sa.source
JOIN sizes sb ON i.source_b = sb.source
"""


@register("q71_source_similarity", _Q71_ORACLE)
def q71(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level provenance analytics: pairwise shingle-Jaccard
    between SOURCES (not documents) — the overlap matrix a data-mixing
    team reads before weighting sources (q66). Same staged shingle
    posting as the doc-level dedup family, collapsed to distinct
    (source, shingle) BEFORE the self-join, so join fan-out per shingle
    is bounded by |sources|² (a few hundred), never |docs|² — the
    aggregation granularity, not the corpus size, bounds the shuffle.
    Jaccard is exact integers through one IEEE division."""
    from ..operators.dedup import shingle_posting

    docs = load_table(spark, sf_dir, "documents")
    posting = shingle_posting(docs, block_cols=("source",), k=3)
    # pinned: the distinct (source, shingle) frame feeds THREE
    # consumers (sizes + both self-join sides) — unpinned, the whole
    # tokenize+shingle+distinct pipeline ran once per consumer
    src_sh = posting.select("source", "shingle").distinct() \
        .transform(_pin)
    sizes = src_sh.groupBy("source").agg(F.count(F.lit(1)).alias("n_sh"))
    left = src_sh.alias("l")
    right = src_sh.alias("r")
    inter = (
        left.join(
            right,
            (F.col("l.shingle") == F.col("r.shingle"))
            & (F.col("l.source") < F.col("r.source")),
        )
        .groupBy(
            F.col("l.source").alias("source_a"),
            F.col("r.source").alias("source_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(
        F.col("source").alias("source_a"), F.col("n_sh").alias("n_a")
    )
    sb = sizes.select(
        F.col("source").alias("source_b"), F.col("n_sh").alias("n_b")
    )
    return (
        inter.join(F.broadcast(sa), "source_a")
        .join(F.broadcast(sb), "source_b")
        .select(
            "source_a",
            "source_b",
            "n_inter",
            (
                F.col("n_inter").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
            ).alias("jaccard"),
        )
    )


# ---------------------------------------------------------------------------
# q75 — weight-proportional systematic sample via distributed prefix sum
# ---------------------------------------------------------------------------

_Q75_ORACLE = """
WITH c AS (
  SELECT doc_id, source, n_chars,
         sum(n_chars) OVER (
           ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_w
  FROM documents
)
SELECT doc_id, source, n_chars, CAST(cum_w AS BIGINT) AS cum_w,
       CAST(cum_w // 5000 - (cum_w - n_chars) // 5000 AS BIGINT) AS n_hits
FROM c
WHERE cum_w // 5000 - (cum_w - n_chars) // 5000 > 0
"""


@register("q75_weighted_sample", _Q75_ORACLE)
def q75(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-proportional (PPS) systematic sample of documents, sized
    by character count: rows whose cumulative-weight interval crosses a
    5000-char grid point. The global running sum is the DISTRIBUTED
    prefix-sum (operators/windows.py::scalable_cumsum — range
    repartition + driver-side P-row offset scan + per-partition local
    windows), not a partition-less ``Window.orderBy`` that would funnel
    100 TB through one task. Selection itself is row-local integer
    arithmetic — no rand(), no ln(), bit-identical in any engine."""
    from ..operators.sampling import weighted_systematic_sample

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    return weighted_systematic_sample(
        docs, weight_col="n_chars", stride=5000
    )


# ---------------------------------------------------------------------------
# q79 — IVF search against a fixed codebook (value-exact ANN)
# ---------------------------------------------------------------------------


def _q79_oracle(n_cents: int = 16, dim: int = 64, nprobe: int = 2, k: int = 5) -> str:
    from ..operators.similarity import _hyperplanes

    cents = _hyperplanes(n_cents, dim, seed=0xC0DE)
    values = ",\n    ".join(
        f"({i}, [{', '.join(repr(x) for x in c)}]::DOUBLE[])"
        for i, c in enumerate(cents)
    )
    return f"""
WITH cents(ci, c) AS (VALUES
    {values}
), e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
), dists AS (
  SELECT vec_id, ci,
         -2.0 * list_dot_product(v, c) + list_dot_product(c, c) AS d
  FROM e CROSS JOIN cents
), ranked_cells AS (
  SELECT vec_id, ci,
         row_number() OVER (PARTITION BY vec_id ORDER BY d, ci) AS rn
  FROM dists
), corpus_cell AS (
  SELECT e.vec_id AS neighbor_id, e.v AS cv, r.ci AS cell
  FROM e JOIN ranked_cells r ON e.vec_id = r.vec_id AND r.rn = 1
), probes AS (
  SELECT e.vec_id AS query_id, e.v AS qv, r.ci AS cell
  FROM e JOIN ranked_cells r ON e.vec_id = r.vec_id AND r.rn <= {nprobe}
  WHERE e.vec_id < 20
), scored AS (
  SELECT query_id, neighbor_id,
         list_dot_product(qv, cv)
           / (sqrt(list_dot_product(qv, qv))
              * sqrt(list_dot_product(cv, cv))) AS score
  FROM corpus_cell JOIN probes USING (cell)
  WHERE query_id != neighbor_id
), final AS (
  SELECT query_id, neighbor_id, score,
         row_number() OVER (
           PARTITION BY query_id
           ORDER BY score DESC, neighbor_id ASC) AS rank
  FROM scored)
SELECT query_id, neighbor_id, score, CAST(rank AS BIGINT) AS rank
FROM final WHERE rank <= {k}
"""


@register("q79_ivf_codebook_topk", _q79_oracle())
def q79(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN search against a fixed codebook — the production
    retrieval shape: codebooks train rarely (q39's k-means, rows-only
    by nature), searches run constantly. Cell assignment runs on the
    SCALE path (Arrow-batched matmul against the closed-over codebook,
    plan size constant in |cells| — similarity.codebook_ivf_topk
    assignment='arrow'); in-cell scoring is the sequential-fold cosine
    with an exact DuckDB twin, so the search is still value-oracle-
    checked end to end (assignment parity arrow vs literal is pinned
    by test_codebook_ivf_arrow_matches_literal). Together q39 + q79
    split the IVF pipeline exactly where a real system splits it
    (train artifact vs serve plan)."""
    from ..operators.similarity import _hyperplanes, codebook_ivf_topk

    emb = load_table(spark, sf_dir, "embeddings")
    cents = _hyperplanes(16, 64, seed=0xC0DE)
    return codebook_ivf_topk(
        emb, emb.filter(F.col("vec_id") < 20), cents, k=5, nprobe=2
    )


# ---------------------------------------------------------------------------
# q86 — Python UDTF (table function) sentence splitter
# ---------------------------------------------------------------------------

_Q86_ORACLE = """
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
), u AS (
  SELECT doc_id, toks, unnest(range(1, len(toks) + 1, 10)) AS i FROM t
)
SELECT doc_id,
       CAST((i - 1) // 10 AS BIGINT) AS sent_idx,
       array_to_string(list_slice(toks, i, i + 9), ' ') AS sentence,
       CAST(len(list_slice(toks, i, i + 9)) AS BIGINT) AS n_tokens
FROM u
"""


@register("q86_udtf_sentences", _Q86_ORACLE)
def q86(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (Spark 4 table function) — the row-generating
    extension point beyond explode: a segmenter emitting one row per
    10-token span, registered with ``F.udtf`` and invoked LATERALLY
    per document (~n_tokens/10 output rows per input row). The parity
    scope deliberately needs no UDTFs (SURVEY.md §2.10 — explode
    covers the reference's only generator shape); this declares the
    capability for pipelines whose row expansion is genuinely
    procedural (sentence/paragraph segmenters, parser emitters).
    Value-exact vs the DuckDB unnest twin.

    Scale note: a UDTF is the Python slow path (row-at-a-time process
    boundary) — THIS regular split is pure column algebra in q59's
    chunker, which is the hot-path form; reach for a UDTF only when
    the generator logic cannot be expressed with array functions."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="sent_idx: bigint, sentence: string, n_tokens: bigint")
    class SegmentSplit:
        def eval(self, text: str):  # noqa: ANN001
            if text is None:
                return
            toks = text.split(" ")
            for j, start in enumerate(range(0, len(toks), 10)):
                span = toks[start : start + 10]
                yield j, " ".join(span), len(span)

    docs = load_table(spark, sf_dir, "documents")
    docs.createOrReplaceTempView("_q86_docs")
    spark.udtf.register("segment_split", SegmentSplit)
    return spark.sql(
        """
        SELECT d.doc_id, s.sent_idx, s.sentence, s.n_tokens
        FROM _q86_docs d, LATERAL segment_split(d.text) s
        """
    )


# ---------------------------------------------------------------------------
# q88 — tokenizer vocabulary coverage / OOV rate
# ---------------------------------------------------------------------------

_Q88_ORACLE = """
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
), vocab AS (
  SELECT token FROM (
    SELECT token, count(*) AS cnt FROM tok GROUP BY token
    ORDER BY cnt DESC, token ASC LIMIT 100
  )
), tagged AS (
  SELECT t.doc_id, t.token,
         CASE WHEN v.token IS NOT NULL THEN 1 END AS hit
  FROM tok t LEFT JOIN vocab v ON t.token = v.token
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(count(*) - count(hit) AS BIGINT) AS n_oov,
       CAST(count(*) - count(hit) AS DOUBLE) / count(*) AS oov_rate
FROM tagged GROUP BY doc_id
"""


@register("q88_vocab_coverage", _Q88_ORACLE)
def q88(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-coverage QA: per-document out-of-vocabulary rate
    against the corpus's own top-100 token vocabulary (the check run
    before committing to a tokenizer/vocab for training). The vocab is
    an aggregate bounded by |vocab| (deterministic count-then-token
    tiebreak), broadcast into a membership probe over the token
    stream; per-doc counts partial-combine map-side and the OOV rate
    is exact integers through one IEEE division."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("token")
    )
    vocab = (
        tok.groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("token"))
        .limit(100)
        .select("token")
        .withColumn("_hit", F.lit(1))
    )
    tagged = tok.join(F.broadcast(vocab), "token", "left")
    return tagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        (F.count(F.lit(1)) - F.count("_hit")).alias("n_oov"),
        (
            (F.count(F.lit(1)) - F.count("_hit")).cast("double")
            / F.count(F.lit(1))
        ).alias("oov_rate"),
    )


# ---------------------------------------------------------------------------
# q89 — per-source language diversity (Gini impurity, ln-free)
# ---------------------------------------------------------------------------

_Q89_ORACLE = """
WITH c AS (
  SELECT source, lang, count(*) AS cnt FROM documents GROUP BY source, lang
), s AS (
  SELECT source,
         CAST(sum(cnt) AS BIGINT) AS n_docs,
         CAST(count(*) AS BIGINT) AS n_langs,
         CAST(sum(cnt * cnt) AS BIGINT) AS sum_sq
  FROM c GROUP BY source
)
SELECT source, n_docs, n_langs,
       CAST(n_docs * n_docs - sum_sq AS DOUBLE) / (n_docs * n_docs)
         AS lang_gini
FROM s
"""


@register("q89_lang_diversity", _Q89_ORACLE)
def q89(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source language diversity as GINI IMPURITY (1 − Σp²) —
    chosen over Shannon entropy deliberately: entropy needs ln(),
    whose libm results are not bit-portable across engines, while
    Gini is pure rational arithmetic — exact integer numerator and
    denominator through ONE IEEE division. Two dimension-bounded
    aggregations ((source, lang) then source); the shuffle carries
    |sources×langs| partial counts regardless of corpus size.
    Overflow bound: n_docs² stays in int64 up to ~3e9 docs per
    source; beyond that, promote the final expression to decimal(38)
    (counts themselves are nowhere near the limit)."""
    docs = load_table(spark, sf_dir, "documents")
    c = docs.groupBy("source", "lang").agg(F.count(F.lit(1)).alias("cnt"))
    s = c.groupBy("source").agg(
        F.sum("cnt").alias("n_docs"),
        F.count(F.lit(1)).alias("n_langs"),
        F.sum(F.col("cnt") * F.col("cnt")).alias("sum_sq"),
    )
    n2 = F.col("n_docs") * F.col("n_docs")
    return s.select(
        "source",
        "n_docs",
        "n_langs",
        ((n2 - F.col("sum_sq")).cast("double") / n2).alias("lang_gini"),
    )


# ---------------------------------------------------------------------------
# q92 — deterministic global training-order shuffle
# ---------------------------------------------------------------------------

_Q92_ORACLE = """
WITH keyed AS (
  SELECT doc_id,
         ('0x' || substring(md5('ep1:' || CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT
           AS shuffle_key
  FROM documents
)
SELECT doc_id, shuffle_key,
       CAST(row_number() OVER (ORDER BY shuffle_key, doc_id) AS BIGINT) AS pos
FROM keyed
"""


@register("q92_training_shuffle", _Q92_ORACLE)
def q92(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle order for training epochs: every
    doc gets a seeded pseudo-random key (48-bit md5 prefix of
    seed:doc_id — reproducible across runs, engines, and retries; a
    new seed per epoch gives a fresh permutation) and its GLOBAL
    position in that order. The position comes from the distributed
    two-phase rank (operators/windows.py::two_phase_rank with a
    constant group), NOT a partition-less ``row_number() OVER (ORDER
    BY ...)`` that would funnel 100 TB through one task — data-loader
    shards then read contiguous pos ranges.

    ``pos`` is the true global ROW NUMBER (``grn_col``), not the rank:
    rank collapses shuffle_key ties to their minimum position, and
    48-bit keys collide with near-certainty at billions of docs
    (~1800 expected collisions at 1e9 rows by birthday math), which
    would duplicate and skip positions and break the contiguous-shard
    contract. The row number breaks ties by doc_id, exactly matching
    the oracle's ``row_number() OVER (ORDER BY shuffle_key, doc_id)``
    at any scale."""
    from ..operators.windows import scalable_row_number

    docs = load_table(spark, sf_dir, "documents")
    keyed = docs.select(
        "doc_id",
        F.conv(
            F.substring(F.md5(F.concat(F.lit("ep1:"), F.col("doc_id").cast("string"))), 1, 12),
            16,
            10,
        )
        .cast("long")
        .alias("shuffle_key"),
        F.lit(0).alias("_all"),
    )
    ranked = scalable_row_number(
        keyed, ("shuffle_key", "doc_id"), out_col="pos"
    )
    return ranked.select("doc_id", "shuffle_key", F.col("pos").cast("long"))


# ---------------------------------------------------------------------------
# q93 — near-dup cluster RESOLUTION (the keep/drop decision)
# ---------------------------------------------------------------------------


def _q93_oracle() -> str:
    return f"""
WITH RECURSIVE jp AS ({_jaccard_pairs_sql(0.3)}),
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM jp
  UNION
  SELECT doc_b AS a, doc_a AS b FROM jp
), reach AS (
  SELECT a AS id, a AS r FROM edges
  UNION
  SELECT e.a AS id, r.r AS r FROM edges e JOIN reach r ON e.b = r.id
), comp AS (
  SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id
), labeled AS (
  SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS cluster_id, d.n_chars
  FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
)
SELECT doc_id, cluster_id,
       row_number() OVER (
         PARTITION BY cluster_id ORDER BY n_chars DESC, doc_id) = 1 AS keep
FROM labeled
"""


@register("q93_dedup_resolve", _q93_oracle())
def q93(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The END of the dedup story: q55's clusters resolved to keep/drop
    decisions over the FULL corpus — per cluster keep the best member
    (longest text, doc_id tiebreak); documents in no cluster keep
    themselves. Output is one row per document, the exact shape a
    training-data filter consumes.

    Scale shape: components only exist for documents that appear in a
    similarity pair (sparse by construction), so the components frame
    is small relative to the corpus and the label join broadcasts or
    AQE-shuffles cheaply; the keep window runs ONLY over the clustered
    subset (comp-sized). Documents outside the component frame are
    singletons by construction (their cluster_id is their own doc_id,
    which can never equal a component label — labels are minima over
    comp members), so their keep decision is the literal True and
    they ride a broadcast anti-join branch that never crosses an
    exchange — at 100 TB the corpus-wide cluster_id window of the
    literal oracle transcription would shuffle every document to
    decide a column that is constant for all but the dup-pair
    minority.

    Pair source: this query deliberately keeps the oracle-simple
    n-gram-Jaccard posting join (max_df-capped) so the whole
    resolution has a compact SQL twin; the 100 TB production shape —
    LSH candidates → exact-Jaccard verify → components → the SAME
    keep/drop window — is declared separately as q96
    (q96_dedup_resolve_lsh), whose pair generation is banding-bounded
    by construction and plan-guarded against corpus self-joins."""
    from ..operators.dedup import ngram_jaccard_pairs
    from ..operators.graph import connected_components

    docs = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(
        docs, block_cols=("lang",), k=3, threshold=0.3, max_df=1000
    )
    comp = connected_components(pairs, "doc_a", "doc_b").select(
        F.col("id").alias("doc_id"), "cluster_id"
    )
    return _resolve_keep(docs, comp)


def _resolve_keep(docs: DataFrame, comp: DataFrame) -> DataFrame:
    """Shared q93/q96 keep/drop resolution with the singleton split
    (see the q93 docstring's scale-shape paragraph): the per-cluster
    window runs over the comp-sized clustered subset only; documents
    outside comp are singletons whose keep is the literal True — both
    join branches broadcast the sparse comp frame, so the corpus
    never crosses an exchange. The broadcast is count-gated (the
    pagerank_integer broadcast_vertices posture) because the comp
    frame is RDD-backed (driver union-find labels) with unknown
    stats: without the hint the anti join plans as a corpus-shuffling
    SortMergeJoin, with an unconditional hint a giant dup-heavy comp
    could not fall back. The count is driver-cheap — on the
    small-graph path comp is already driver-local data."""
    hint = F.broadcast if comp.count() <= 5_000_000 else (lambda df: df)
    comp = hint(comp)
    base = docs.select("doc_id", "n_chars")
    clustered = base.join(comp, "doc_id")
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("n_chars"), F.asc("doc_id")
    )
    kept = clustered.select(
        "doc_id",
        "cluster_id",
        (F.row_number().over(w) == 1).alias("keep"),
    )
    singles = base.join(comp.select("doc_id"), "doc_id", "left_anti").select(
        "doc_id",
        F.col("doc_id").alias("cluster_id"),
        F.lit(True).alias("keep"),
    )
    return kept.unionByName(singles)


# ---------------------------------------------------------------------------
# q96 — scale-path dedup resolution (LSH-fed, end-to-end)
# ---------------------------------------------------------------------------


def _q96_oracle(threshold: float = 0.3) -> str:
    """q65's candidate CTE chain (md5 MinHash + LSH banding + exact
    Jaccard verify) feeding q93's recursive-closure components and
    keep/drop window — the whole scale pipeline in one twin."""
    cte = _minhash_cte().replace("WITH base", "WITH RECURSIVE base", 1)
    return f"""
{cte},
verified AS (
  SELECT c.doc_a, c.doc_b
  FROM cand c
  JOIN base a ON c.doc_a = a.doc_id
  JOIN base b ON c.doc_b = b.doc_id
  WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
          / CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))
                 AS DOUBLE) >= {threshold!r}
), edges AS (
  SELECT doc_a AS a, doc_b AS b FROM verified
  UNION
  SELECT doc_b AS a, doc_a AS b FROM verified
), reach AS (
  SELECT a AS id, a AS r FROM edges
  UNION
  SELECT e.a AS id, r.r AS r FROM edges e JOIN reach r ON e.b = r.id
), comp AS (
  SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id
), labeled AS (
  SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS cluster_id, d.n_chars
  FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
)
SELECT doc_id, cluster_id,
       row_number() OVER (
         PARTITION BY cluster_id ORDER BY n_chars DESC, doc_id) = 1 AS keep
FROM labeled
"""


@register("q96_dedup_resolve_lsh", _q96_oracle())
def q96(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB dedup RESOLUTION pipeline end to end — the scale-path
    twin of q93: MinHash LSH proposes candidates (banding-bounded — the
    pair space is confined to same-(band, bucket) collisions, never a
    corpus self-join), exact shingle-Jaccard verifies them, star
    contraction forms clusters from the verified edges, and a per-
    cluster window resolves keep/drop (longest text wins, doc_id
    tiebreak; unclustered documents keep themselves). One row per
    document — the exact frame a training-data filter consumes.

    q93 keeps the oracle-simple quadratic-capped pair source
    (ngram_jaccard_pairs with max_df); this query composes the same
    resolution over the LSH path the engine actually ships at scale
    (q65's candidates → verify → q55's components)."""
    from ..operators.dedup import minhash_lsh_candidates, verify_pairs_jaccard
    from ..operators.graph import connected_components

    docs = load_table(spark, sf_dir, "documents")
    cand = minhash_lsh_candidates(docs, num_hashes=64, bands=16, k=3)
    verified = verify_pairs_jaccard(docs, cand, k=3, threshold=0.3)
    comp = connected_components(verified, "doc_a", "doc_b").select(
        F.col("id").alias("doc_id"), "cluster_id"
    )
    # same singleton split as q93 (see _resolve_keep): the keep window
    # touches only the comp-sized clustered subset
    return _resolve_keep(docs, comp)


# ---------------------------------------------------------------------------
# q94 — int8 embedding quantization + reconstruction error
# ---------------------------------------------------------------------------

_Q94_ORACLE = """
WITH staged AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
), scaled AS (
  SELECT vec_id, v,
         greatest(list_max(list_transform(v, x -> abs(x))) / 127.0, 1e-12)
           AS scale
  FROM staged
), recon AS (
  SELECT vec_id, scale,
         list_transform(v, x -> x - round(x / scale) * scale) AS r,
         list_transform(v, x -> CAST(round(x / scale) AS BIGINT)) AS q
  FROM scaled
)
SELECT vec_id, scale,
       CAST(list_sum(q) AS BIGINT) AS q_sum,
       round(list_dot_product(r, r) / len(r) * 1e12) / 1e12 AS recon_mse
FROM recon
"""


@register("q94_embedding_quantize", _Q94_ORACLE)
def q94(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization of the embedding column — the
    standard 4x storage/bandwidth compression for a 100 TB embedding
    store — with per-vector scale (max|x|/127) and the reconstruction
    MSE that monitors quantization quality. Pure within-row column
    algebra (transform + the q27-proven sequential-fold dot), JVM-side,
    zero shuffle: runs at parquet scan speed. The MSE is quantized at
    1e-12 — its per-element ``x - q*s`` is the FMA-contractible shape
    that bit q64 (see PLANS.md cross-engine float rule #2)."""
    emb = load_table(spark, sf_dir, "embeddings")
    staged = emb.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    scaled = staged.select(
        "vec_id",
        "v",
        F.greatest(
            F.array_max(F.transform("v", lambda x: F.abs(x))) / F.lit(127.0),
            F.lit(1e-12),
        ).alias("scale"),
    )
    recon = scaled.select(
        "vec_id",
        "scale",
        F.transform(
            "v", lambda x: x - F.round(x / F.col("scale")) * F.col("scale")
        ).alias("r"),
        F.transform(
            "v", lambda x: F.round(x / F.col("scale")).cast("long")
        ).alias("q"),
    )
    mse = dot(F.col("r"), F.col("r")) / F.size("r")
    return recon.select(
        "vec_id",
        "scale",
        F.aggregate("q", F.lit(0).cast("long"), lambda a, x: a + x).alias("q_sum"),
        (F.round(mse * F.lit(1e12)) / F.lit(1e12)).alias("recon_mse"),
    )


# ---------------------------------------------------------------------------
# q95 — multi-probe LSH top-k (the recall lever, oracle-checked)
# ---------------------------------------------------------------------------


def _q95_oracle(bits: int = 6, dim: int = 64, probes: int = 2, k: int = 5) -> str:
    """DuckDB twin of lsh_topk(probes>0): same literal hyperplanes as
    q32's oracle, plus per-bit |dot| confidence ranking and XOR bit
    flips for the probe buckets (ties on |dot| break by bit index,
    matching the (abs, index) struct sort Spark side)."""
    from ..operators.similarity import _hyperplanes

    planes = _hyperplanes(bits, dim)

    def pl(p):
        return "[" + ", ".join(repr(x) for x in p) + "]"

    bucket = "\n       + ".join(
        f"(CASE WHEN list_dot_product(v, {pl(plane)}) >= 0 "
        f"THEN {1 << j} ELSE 0 END)"
        for j, plane in enumerate(planes)
    )
    bit_rows = "\n  UNION ALL\n  ".join(
        f"SELECT query_id, qv, bucket, {j} AS j, "
        f"abs(list_dot_product(qv, {pl(plane)})) AS abs_dot FROM q"
        for j, plane in enumerate(planes)
    )
    return f"""
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
), b AS (
  SELECT vec_id, v,
       {bucket} AS bucket
  FROM e
), q AS (
  SELECT vec_id AS query_id, v AS qv, bucket FROM b WHERE vec_id < 20
), c AS (
  SELECT vec_id AS neighbor_id, v AS cv, bucket FROM b
), qbits AS (
  {bit_rows}
), ranked_bits AS (
  SELECT query_id, qv, bucket, j,
         row_number() OVER (
           PARTITION BY query_id ORDER BY abs_dot, j) AS conf_rank
  FROM qbits
), probes AS (
  SELECT query_id, qv, bucket FROM q
  UNION ALL
  SELECT query_id, qv, xor(bucket, 1 << j) AS bucket
  FROM ranked_bits WHERE conf_rank <= {probes}
), scored AS (
  SELECT query_id, neighbor_id,
         list_dot_product(qv, cv)
           / (sqrt(list_dot_product(qv, qv))
              * sqrt(list_dot_product(cv, cv))) AS score
  FROM c JOIN probes USING (bucket) WHERE query_id != neighbor_id
), final AS (
  SELECT query_id, neighbor_id, score,
         row_number() OVER (
           PARTITION BY query_id
           ORDER BY score DESC, neighbor_id ASC) AS rank
  FROM scored)
SELECT query_id, neighbor_id, score, CAST(rank AS BIGINT) AS rank
FROM final WHERE rank <= {k}
"""


@register("q95_lsh_multiprobe_topk", _q95_oracle())
def q95(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe hyperplane-LSH top-k: besides its exact bucket each
    query probes the buckets one bit-flip away on its 2 least-confident
    bits (smallest |v·h_j| — the vector sits nearest those
    hyperplanes), recovering recall that 2^bits bucketing prunes away
    at (1+probes)x candidate volume. Corpus vectors still index into
    exactly ONE bucket (probe-count-independent layout). The oracle
    recomputes confidence ranking, XOR flips, and in-bucket cosine from
    the same literal hyperplanes — the whole recall lever is
    value-exact, not just unit-asserted."""
    emb = load_table(spark, sf_dir, "embeddings")
    out = lsh_topk(
        emb, emb.filter(F.col("vec_id") < 20), k=5, bits=6, probes=2
    )
    return out.withColumn("rank", F.col("rank").cast("long"))


# ---------------------------------------------------------------------------
# q97 — intra-document segment dedup (repeated-boilerplate removal)
# ---------------------------------------------------------------------------

_Q97_SEG = 8  # tokens per non-overlapping segment

_Q97_ORACLE = f"""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
), s AS (
  SELECT doc_id,
         list_transform(range(1, len(toks) + 1, {_Q97_SEG}),
                        i -> array_to_string(
                               list_slice(toks, i, i + {_Q97_SEG - 1}), ' '))
           AS segs
  FROM t
), kept AS (
  SELECT doc_id, segs,
         list_filter(segs, (x, i) -> list_position(segs, x) = i) AS keep
  FROM s
)
SELECT doc_id,
       CAST(len(segs) AS BIGINT) AS n_segments,
       CAST(len(keep) AS BIGINT) AS n_kept,
       (CAST(len(segs) - len(keep) AS DOUBLE) / len(segs)) AS removed_frac,
       array_to_string(keep, ' ') AS cleaned_text
FROM kept
"""


@register("q97_intradoc_dedup", _Q97_ORACLE)
def q97(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document dedup — the removal counterpart of q58's
    repetition *signal*: the document is cut into non-overlapping
    8-token segments, every segment that repeats an earlier one in the
    SAME document is dropped (first occurrence wins, preserving
    order), and the cleaned text is re-assembled. This is the
    boilerplate-stripping pass (repeated nav bars, footers, quoted
    reply chains) an LLM corpus runs before inter-document dedup.

    Scale shape: ENTIRELY row-local array algebra — tokenize, slice,
    first-occurrence filter (``array_position == index``), re-join —
    zero shuffles, zero UDFs, full whole-stage codegen, so at 100 TB
    it runs at parquet scan speed like q58/q94. The first-occurrence
    filter is O(segments²) per row in the worst case, but segments
    per document is bounded (len/8) and the constant is a JVM array
    scan, not a Python loop.

    Staged-attribute rule (q58's lesson): ``toks`` and ``segs`` each
    materialize in their own projection — the filter body references
    ``segs`` per-element and inlining the tokenize+slice expression
    would re-run it per comparison.

    Spark's lambda index is 0-based where DuckDB's is 1-based; the
    twin conditions ``array_position == i+1`` / ``list_position = i``
    express the same first-occurrence test."""
    from ..catalog import spread_for_compute
    from ..operators.text import (
        first_occurrence_filter,
        token_segments,
        tokens,
    )

    docs = spread_for_compute(load_table(spark, sf_dir, "documents"))
    staged = docs.select("doc_id", tokens(F.col("text")).alias("toks"))
    segs = staged.select(
        "doc_id", token_segments(F.col("toks"), _Q97_SEG).alias("segs")
    )
    kept = segs.select(
        "doc_id",
        "segs",
        first_occurrence_filter(F.col("segs")).alias("keep"),
    )
    return kept.select(
        "doc_id",
        F.size("segs").cast("long").alias("n_segments"),
        F.size("keep").cast("long").alias("n_kept"),
        (
            (F.size("segs") - F.size("keep")).cast("double")
            / F.size("segs")
        ).alias("removed_frac"),
        F.array_join("keep", " ").alias("cleaned_text"),
    )


# ---------------------------------------------------------------------------
# q98 — distributed Bloom-filter membership (bloom-pruned novelty join)
# ---------------------------------------------------------------------------

_Q98_M = 1 << 16  # filter width m (bits)
_Q98_K = 3  # hash functions


def _q98_bits_sql(fp_expr: str) -> str:
    """DuckDB: the k bloom bit positions of a fingerprint, one row per
    (row, j) via a range() lateral — md5 32-bit prefix mod m, the same
    engine-portable construction as the HLL/MinHash family."""
    return (
        f"('0x' || substring(md5('bloom' || CAST(t.j AS VARCHAR) || ':' || "
        f"{fp_expr}), 1, 8))::BIGINT % {_Q98_M}"
    )


_Q98_ORACLE = f"""
WITH base AS (
  SELECT doc_id, md5({{norm}}) AS fp FROM documents
), corpus AS (
  SELECT * FROM base WHERE doc_id % 10 != 0
), probes AS (
  SELECT * FROM base WHERE doc_id % 10 = 0
), cbits AS (
  SELECT DISTINCT {_q98_bits_sql('fp')} AS bit
  FROM corpus CROSS JOIN range(1, {_Q98_K + 1}) t(j)
), pbits AS (
  SELECT doc_id, fp, {_q98_bits_sql('fp')} AS bit
  FROM probes CROSS JOIN range(1, {_Q98_K + 1}) t(j)
), agg AS (
  SELECT p.doc_id, p.fp, bool_and(cb.bit IS NOT NULL) AS maybe_member
  FROM pbits p LEFT JOIN cbits cb ON p.bit = cb.bit
  GROUP BY p.doc_id, p.fp
)
SELECT a.doc_id, a.maybe_member,
       (ex.fp IS NOT NULL) AS exact_member,
       (a.maybe_member AND ex.fp IS NULL) AS false_positive
FROM agg a
LEFT JOIN (SELECT DISTINCT fp FROM corpus) ex ON a.fp = ex.fp
""".format(norm=_NORM_SQL)


@register("q98_bloom_membership", _Q98_ORACLE)
def q98(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Bloom-filter membership — the m-BOUNDED alternative
    to q67's exact fingerprint anti-join for "is this incoming doc
    already in the corpus?" at 100 TB.

    Why it scales: the filter side collapses the ENTIRE corpus to at
    most m=2^16 distinct bit rows (k md5-derived positions per
    fingerprint, then distinct) — a relation bounded by a CONSTANT, not
    by corpus size, so it broadcasts no matter how big the corpus is.
    Probes explode to k tiny (doc_id, bit) rows, broadcast-hash-join
    the bit set, and ``bool_and`` per probe gives the maybe-member
    verdict — the corpus itself never shuffles.

    The exact verify then runs ONLY on bloom-accepted probes (Bloom
    filters have no false negatives, so maybe=false ⇒ not a member):
    the expensive fingerprint equi-join against the full corpus is
    pruned to the hit set — the production bloom-pruned-join pattern
    (Spark's own runtime row-level-filtering does the same with
    InSubquery blooms). ``false_positive`` rows measure the filter's
    realized error at these parameters.

    Engine-portable construction (md5 prefix → BIGINT mod m) so the
    whole filter — bits, verdicts, false positives — is value-exact
    against the DuckDB twin, same as the HLL/MinHash family."""
    from ..operators.dedup import bloom_membership
    from ..operators.text import normalize_text

    docs = load_table(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id", F.md5(normalize_text(F.col("text"))).alias("fp")
    )
    corpus = base.filter(F.col("doc_id") % 10 != 0)
    probes = base.filter(F.col("doc_id") % 10 == 0)

    # The verdict frame is referenced TWICE below (the bloom-pruned
    # exact branch filters it; the final join reads it again) — without
    # materialization the whole scan→bits→join→groupBy pipeline
    # executes once per reference (confirmed in PLAN_SNAPSHOTS: two
    # identical subtrees, ReuseExchange did not fire). One eager
    # localCheckpoint of the |probes|-row verdict halves the query; at
    # cluster scale the same role is played by persisting the verdict.
    agg = bloom_membership(
        corpus, probes, m=_Q98_M, k=_Q98_K
    ).transform(_pin)

    # bloom-pruned exact verify: only maybe-hits touch the corpus join
    exact = (
        agg.filter(F.col("maybe_member"))
        .join(
            corpus.select("fp").distinct().withColumn("_ex", F.lit(True)),
            "fp",
            "left",
        )
        .select("doc_id", F.coalesce("_ex", F.lit(False)).alias("exact_member"))
    )
    return (
        agg.join(exact, "doc_id", "left")
        .select(
            "doc_id",
            "maybe_member",
            F.coalesce("exact_member", F.lit(False)).alias("exact_member"),
        )
        .withColumn(
            "false_positive", F.col("maybe_member") & ~F.col("exact_member")
        )
    )


# ---------------------------------------------------------------------------
# q101 — count-min sketch heavy hitters (portable frequency estimates)
# ---------------------------------------------------------------------------

_Q101_D = 4
_Q101_W = 16  # deliberately tiny so the 31-token testdata vocabulary
# actually collides (~2 tokens/cell) and the min-over-rows estimator is
# exercised with real overcounts; a production sketch uses w = 2^12+
# (error ~ 2N/w with N total occurrences)


def _q101_cm_sql(token_expr: str) -> str:
    return (
        f"('0x' || substring(md5('cm' || CAST(t.j AS VARCHAR) || ':' || "
        f"{token_expr}), 1, 8))::BIGINT % {_Q101_W}"
    )


_Q101_ORACLE = f"""
WITH toks AS (
  SELECT unnest(string_split({_NORM_SQL}, ' ')) AS token FROM documents
), exact AS (
  SELECT token, CAST(COUNT(*) AS BIGINT) AS exact_count
  FROM toks GROUP BY token
), top AS (
  SELECT token, exact_count FROM exact
  ORDER BY exact_count DESC, token ASC LIMIT 20
), cells AS (
  SELECT t.j AS j, {_q101_cm_sql('token')} AS cell,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM toks CROSS JOIN range(0, {_Q101_D}) t(j)
  GROUP BY 1, 2
), est AS (
  SELECT token, MIN(cnt) AS cm_estimate
  FROM (
    SELECT top.token, c.cnt
    FROM top CROSS JOIN range(0, {_Q101_D}) t(j)
    JOIN cells c
      ON c.j = t.j AND c.cell = {_q101_cm_sql('top.token')}
  ) GROUP BY token
)
SELECT top.token, top.exact_count, est.cm_estimate,
       est.cm_estimate - top.exact_count AS overcount
FROM top JOIN est ON top.token = est.token
"""


@register("q101_count_min_heavy_hitters", _Q101_ORACLE)
def q101(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min heavy hitters — the FREQUENCY twin of the portable-HLL
    distinct sketch (q31 vs exact q21): estimate the top-20 tokens'
    occurrence counts from a depth×width count-min sketch
    (operators/sketches.py::count_min_estimates) and emit them next to
    the exact counts, overcount included, so the sketch's one-sided
    error is measured in-query (cm_estimate >= exact_count always).

    Scale shape: the sketch aggregation is bounded by the CONSTANT
    depth×width whatever the corpus size — at 100 TB this is how you
    find heavy hitters without shuffling the full vocabulary — and
    cell counts are plain sums, so per-partition/per-day sketches
    merge by addition (the store-sketches-merge-later posture). The
    exact side here is the verification anchor, same as q21's role
    for the HLL. Width is deliberately tiny (16) so the testdata's
    31-token vocabulary actually collides and nonzero overcounts
    prove the estimator path; every step is md5/integer algebra,
    bit-identical in DuckDB."""
    from ..operators.sketches import count_min_estimates
    from ..operators.text import normalize_text, tokens

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(tokens(normalize_text("text"))).alias("token")
    )
    exact = toks.groupBy("token").agg(
        F.count(F.lit(1)).alias("exact_count")
    )
    top = exact.orderBy(F.desc("exact_count"), F.asc("token")).limit(20)
    est = count_min_estimates(
        toks, "token", top.select("token"), depth=_Q101_D, width=_Q101_W
    )
    return top.join(est, "token").select(
        "token",
        "exact_count",
        "cm_estimate",
        (F.col("cm_estimate") - F.col("exact_count")).alias("overcount"),
    )


# ---------------------------------------------------------------------------
# q103 — SimHash hamming-radius pairs (pigeonhole blocks + exact verify)
# ---------------------------------------------------------------------------


def _q103_oracle(threshold: int = 3, n_blocks: int = 4) -> str:
    return f"""
{_simhash_cte()},
blocks AS (
  SELECT doc_id, simhash, t.b AS b,
         (simhash >> (t.b * 16)) & 65535 AS bv
  FROM sims CROSS JOIN range(0, {n_blocks}) t(b)
), cand AS (
  SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b,
         l.simhash AS sim_a, r.simhash AS sim_b
  FROM blocks l JOIN blocks r
    ON l.b = r.b AND l.bv = r.bv AND l.doc_id < r.doc_id
)
SELECT doc_a, doc_b,
       CAST(bit_count(xor(sim_a, sim_b)) AS BIGINT) AS hamming
FROM cand
WHERE bit_count(xor(sim_a, sim_b)) <= {threshold}
"""


@register("q103_simhash_hamming_pairs", _q103_oracle())
def q103(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup PAIRS — the consumer that completes the SimHash
    story the way q65 completes MinHash: pigeonhole block bucketing
    (hamming <= 3 over 4 blocks forces at least one identical 16-bit
    block) proposes candidates from a (block, value) equi-join — never
    an all-pairs scan — and exact xor+popcount verifies each. The
    signature frame is localCheckpoint-materialized once (doc_id +
    one long — tiny) so the token-hash voting pipeline doesn't run
    twice through the self-join's two chains (the same single-
    materialization rule as minhash_lsh_candidates and the CC node
    set)."""
    from ..operators.dedup import simhash64, simhash_hamming_pairs

    docs = load_table(spark, sf_dir, "documents")
    sims = simhash64(docs).transform(_pin)
    return simhash_hamming_pairs(sims, threshold=3, n_blocks=4)


# ---------------------------------------------------------------------------
# q104 — HLL sketch merge proof (store sketches, merge later)
# ---------------------------------------------------------------------------


def _q104_oracle() -> str:
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
    # NULL discipline mirrors hll_distinct_sql / the Spark register
    # frame exactly: NULL values hash to (b=NULL, rho=NULL), the
    # register sum counts only non-NULL buckets, count(b) skips NULLs
    # — without the explicit CASE the rho ELSE branch would absorb
    # NULL h as RMAX and the sum would add a phantom register,
    # diverging from Spark the moment a text is NULL.
    est = (
        f"{EST_NUMERATOR!r} / (coalesce(sum(CASE WHEN b IS NOT NULL"
        f" THEN 1::BIGINT << ({RMAX} - m) END), 0)"
        f" + ({M} - count(b)) * {1 << RMAX}::BIGINT)::DOUBLE"
    )
    return f"""
WITH h AS (
  SELECT lang, source,
         CASE WHEN text IS NULL THEN NULL
              ELSE ('0x' || substring(md5(text), 1, {HASH_BITS // 4}))::BIGINT
         END AS h
  FROM documents
), k AS (
  SELECT lang, source,
         h >> {R} AS b,
         CASE WHEN h IS NULL THEN NULL
         {rho_branches}
         ELSE {RMAX} END AS rho
  FROM h
), partial AS (
  SELECT lang, source, b, max(rho) AS m FROM k GROUP BY 1, 2, 3
), merged_regs AS (
  SELECT lang, b, max(m) AS m FROM partial GROUP BY 1, 2
), merged AS (
  SELECT lang, {est} AS merged_distinct FROM merged_regs GROUP BY lang
), direct_regs AS (
  SELECT lang, b, max(rho) AS m FROM k GROUP BY 1, 2
), direct AS (
  SELECT lang, {est} AS direct_distinct FROM direct_regs GROUP BY lang
)
SELECT m.lang, m.merged_distinct, d.direct_distinct,
       m.merged_distinct = d.direct_distinct AS sketch_merge_exact
FROM merged m JOIN direct d ON m.lang = d.lang
"""


@register("q104_hll_merge", _q104_oracle())
def q104(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch RE-AGGREGATION proof — the operational heart of the
    store-sketches-merge-later posture every sketch in this engine
    claims (HLL q31, count-min q101, bin histograms q102): per-(lang,
    source) HLL register frames — the form a 100 TB pipeline lands as
    a table per partition/day/source — are MERGED to per-lang by
    ``max`` over registers, finalized, and emitted NEXT TO the
    estimate built directly at the lang grain. max is associative, so
    the two are bit-identical; the query emits both plus the equality
    flag, so the driver's value hash breaks if merge semantics ever
    drift from direct construction.

    Scale shape: the partial register frame is bounded by
    |groups|×m rows regardless of corpus size; the merge shuffle
    carries registers, never values — re-profiling a petabyte after a
    partition lands costs |new partition| + |registers|, not a full
    rescan. Same md5/integer construction as q31, so everything is
    value-exact cross-engine."""
    from ..operators.sketches import (
        hll_estimate_from_registers,
        hll_register_frame,
    )

    docs = load_table(spark, sf_dir, "documents")
    partial = hll_register_frame(docs, ["lang", "source"], "text")
    merged_regs = partial.groupBy("lang", "_b").agg(
        F.max("_m").alias("_m")
    )
    merged = hll_estimate_from_registers(
        merged_regs, ["lang"], out_col="merged_distinct"
    )
    direct = hll_estimate_from_registers(
        hll_register_frame(docs, ["lang"], "text"),
        ["lang"],
        out_col="direct_distinct",
    )
    return (
        merged.join(direct, "lang")
        .withColumn(
            "sketch_merge_exact",
            F.col("merged_distinct") == F.col("direct_distinct"),
        )
    )


def _ppm_media(docs: DataFrame) -> DataFrame:
    """Media rows (MEDIA_SCHEMA) holding one real PPM image per
    ``(doc_id, n_chars)`` row: an 8×h RGB gradient, h = 6 + 2·(n_chars
    mod 5), pixel byte i = (n_chars + i) mod 256 — the closed form the
    q105/q179 oracles recompute."""
    import numpy as np
    import pandas as pd

    from ..operators.multimodal import MEDIA_SCHEMA, encode_ppm

    def render(batches):
        for pdf in batches:
            rows = []
            for did, nc in zip(pdf["doc_id"], pdf["n_chars"]):
                h = 6 + int(nc) % 5 * 2
                n_px = 8 * h * 3
                arr = (
                    ((int(nc) + np.arange(n_px)) % 256)
                    .astype(np.uint8)
                    .reshape(h, 8, 3)
                )
                rows.append(
                    {
                        "media_id": did,
                        "kind": "image",
                        "meta": {
                            "width": 8,
                            "height": h,
                            "channels": 3,
                            "sample_rate": None,
                            "duration_ms": None,
                            "codec": "ppm",
                        },
                        "content": encode_ppm(arr),
                    }
                )
            yield pd.DataFrame(rows, columns=[f.name for f in MEDIA_SCHEMA])

    return docs.mapInPandas(render, MEDIA_SCHEMA)


def _wav_media(docs: DataFrame) -> DataFrame:
    """Media rows (MEDIA_SCHEMA) holding one real 16 kHz PCM WAV clip
    per ``(doc_id, n_chars)`` row: n = 160 + 80·(n_chars mod 5) int16
    samples, sample i = (31·n_chars + 7i) mod 2^16 − 2^15 — the closed
    form the q106/q194 oracles recompute."""
    import numpy as np
    import pandas as pd

    from ..operators.multimodal import MEDIA_SCHEMA, encode_wav

    def render(batches):
        for pdf in batches:
            rows = []
            for did, nc in zip(pdf["doc_id"], pdf["n_chars"]):
                n = 160 + int(nc) % 5 * 80
                s = (
                    (int(nc) * 31 + np.arange(n) * 7) % 65536 - 32768
                ).astype(np.int16)
                rows.append(
                    {
                        "media_id": did,
                        "kind": "audio",
                        "meta": {
                            "width": None,
                            "height": None,
                            "channels": 1,
                            "sample_rate": 16000,
                            "duration_ms": n * 1000 // 16000,
                            "codec": "pcm16",
                        },
                        "content": encode_wav(s, sample_rate=16000),
                    }
                )
            yield pd.DataFrame(rows, columns=[f.name for f in MEDIA_SCHEMA])

    return docs.mapInPandas(render, MEDIA_SCHEMA)


# ---------------------------------------------------------------------------
# q105 — REAL PPM codec roundtrip, value-proven (multimodal upgrade)
# ---------------------------------------------------------------------------

_Q105_ORACLE = """
WITH d AS (
  SELECT doc_id, n_chars, 6 + (n_chars % 5) * 2 AS h FROM documents
), px AS (
  SELECT doc_id, n_chars, h, unnest(range(0, 24 * h)) AS i FROM d
), vals AS (
  SELECT doc_id, h, i, (n_chars + i) % 256 AS p, i // (3 * h) AS chunk
  FROM px
), chunks AS (
  SELECT doc_id, chunk,
         CAST(CAST(CAST(SUM(p) AS DOUBLE) / (3 * h) AS FLOAT) AS DOUBLE)
           AS chunk_mean
  FROM vals GROUP BY doc_id, chunk, h
), means AS (
  SELECT doc_id, CAST(SUM(p) AS DOUBLE) / (24 * h) AS mean_intensity
  FROM vals GROUP BY doc_id, h
)
SELECT d.doc_id AS media_id,
       CAST(10 + length(CAST(d.h AS VARCHAR)) + 24 * d.h AS BIGINT)
         AS n_bytes,
       m.mean_intensity,
       CAST(c.chunk AS INTEGER) AS chunk,
       c.chunk_mean
FROM d
JOIN means m ON d.doc_id = m.doc_id
JOIN chunks c ON d.doc_id = c.doc_id
"""


@register("q105_ppm_codec_roundtrip", _Q105_ORACLE)
def q105(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image codec, value-proven end to end: each document
    deterministically renders an 8×h RGB gradient (pixel i =
    (n_chars + i) mod 256), is ENCODED to actual binary-PPM bytes
    (operators/multimodal.encode_ppm), flows through the Arrow media
    pipeline, and is DECODED BACK by the native P6 parser
    (decode_ppm, codec='ppm' — pure bytes + numpy, no libraries)
    inside media_features; the per-image mean intensity and 8 pooled
    chunk means come from the decoded pixels. The DuckDB twin computes
    the same statistics from the gradient's closed form — so any
    header-formatting, stride, channel-order, or truncation bug in
    EITHER codec direction breaks the value hash. This upgrades the
    multimodal surface from stub-only (q34/q54's md5-chain fake) to a
    real decodable format; compressed formats keep the explicit
    library extension point.

    Float determinism: all sums are exact integer sums in double
    range; each emitted value is one correctly-rounded division (plus
    the float32 roundtrip both engines apply to the feature), so no
    quantization is needed. Image heights vary per doc and pixel
    counts are multiples of the 8-dim feature (24h = 8·3h), keeping
    the pooling reshape exact."""
    from ..operators.multimodal import media_features

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")

    media = _ppm_media(docs)
    feats = media_features(media, codec="ppm")
    return feats.select(
        "media_id",
        "n_bytes",
        "mean_intensity",
        F.posexplode("feature"),
    ).select(
        "media_id",
        "n_bytes",
        "mean_intensity",
        F.col("pos").cast("int").alias("chunk"),
        F.col("col").cast("double").alias("chunk_mean"),
    )


# ---------------------------------------------------------------------------
# q106 — REAL WAV codec roundtrip (audio)
# ---------------------------------------------------------------------------

_Q106_ORACLE = """
WITH d AS (
  SELECT doc_id, n_chars, 160 + (n_chars % 5) * 80 AS n FROM documents
), s AS (
  SELECT doc_id, n, n_chars, unnest(range(0, n)) AS i FROM d
), v AS (
  SELECT doc_id, n, ((n_chars * 31 + i * 7) % 65536) - 32768 AS s
  FROM s
), agg AS (
  SELECT doc_id, n,
         CAST(SUM(s) AS DOUBLE) / n AS mean_amplitude,
         sqrt(CAST(SUM(s * s) AS DOUBLE) / n) AS rms
  FROM v GROUP BY doc_id, n
)
SELECT doc_id AS media_id,
       CAST(44 + 2 * n AS BIGINT) AS n_bytes,
       CAST(n AS BIGINT) AS n_samples,
       16000 AS sample_rate,
       CAST(n * 1000 // 16000 AS INTEGER) AS duration_ms,
       mean_amplitude, rms
FROM agg
"""


@register("q106_wav_codec_roundtrip", _Q106_ORACLE)
def q106(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio codec, value-proven: each document renders a
    deterministic int16 sawtooth (sample i = (n_chars·31 + 7i) mod
    2^16 − 2^15), is encoded to actual RIFF/PCM WAV bytes
    (encode_wav), flows through the Arrow media pipeline, and is
    decoded back by the native chunk-walking parser (decode_wav)
    inside audio_features — sample count, byte size, duration, mean
    amplitude, and RMS all come from the DECODED samples and must
    match the closed-form DuckDB twin. Any header-layout, endianness,
    or truncation bug in either direction breaks the value hash.
    The audio twin of q105's PPM proof."""
    from ..operators.multimodal import audio_features

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")

    media = _wav_media(docs)
    return audio_features(media)


# ---------------------------------------------------------------------------
# q107 — REAL y4m codec + frame sampling (video)
# ---------------------------------------------------------------------------

_Q107_ORACLE = """
WITH d AS (
  SELECT doc_id, n_chars, 3 + n_chars % 3 AS f FROM documents
), fr AS (
  SELECT doc_id, n_chars, unnest(range(0, f, 2)) AS k FROM d
), px AS (
  SELECT doc_id, n_chars, k, unnest(range(0, 16)) AS j FROM fr
)
SELECT doc_id AS media_id,
       CAST(k AS INTEGER) AS frame_idx,
       CAST(k * 200 AS INTEGER) AS ts_ms,
       CAST(SUM((n_chars + k * 16 + j) % 256) AS DOUBLE) / 16 AS mean_luma
FROM px GROUP BY doc_id, k
"""


@register("q107_y4m_frame_sample", _Q107_ORACLE)
def q107(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video codec + frame sampling, value-proven: each document
    renders a deterministic 4×4 C444 YUV clip (luma pixel j of frame
    k = (n_chars + 16k + j) mod 256, 3-5 frames at 5 fps), is encoded
    to actual YUV4MPEG2 bytes (encode_y4m), and sample_frames_y4m
    decodes it back and emits every 2nd frame's timestamp and ACTUAL
    Y-plane mean — the row-expanding video shape (q54's stub twin) on
    genuine video bytes, checked against the gradient's closed form.
    Completes the real-codec triple: PPM image (q105), WAV audio
    (q106), y4m video (here)."""
    import numpy as np
    import pandas as pd

    from ..operators.multimodal import (
        MEDIA_SCHEMA,
        encode_y4m,
        sample_frames_y4m,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")

    def render(batches):
        for pdf in batches:
            rows = []
            for did, nc in zip(pdf["doc_id"], pdf["n_chars"]):
                f = 3 + int(nc) % 3
                frames = np.empty((f, 3, 4, 4), dtype=np.uint8)
                for k in range(f):
                    frames[k, 0] = (
                        ((int(nc) + k * 16 + np.arange(16)) % 256)
                        .astype(np.uint8)
                        .reshape(4, 4)
                    )
                    frames[k, 1:] = 128
                rows.append(
                    {
                        "media_id": did,
                        "kind": "video",
                        "meta": {
                            "width": 4,
                            "height": 4,
                            "channels": 3,
                            "sample_rate": None,
                            "duration_ms": f * 200,
                            "codec": "y4m",
                        },
                        "content": encode_y4m(frames, fps=5),
                    }
                )
            yield pd.DataFrame(rows, columns=[f.name for f in MEDIA_SCHEMA])

    media = docs.mapInPandas(render, MEDIA_SCHEMA)
    return sample_frames_y4m(media, every_n=2)


# ---------------------------------------------------------------------------
# q108 — incremental top-k maintenance (delta-only rescoring)
# ---------------------------------------------------------------------------

_Q108_ORACLE = """
WITH q AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
  FROM embeddings WHERE vec_id < 20 AND vec_id % 10 != 0),
c AS (
  SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings),
scored AS (
  SELECT query_id, neighbor_id,
         list_dot_product(qv, cv)
           / (sqrt(list_dot_product(qv, qv))
              * sqrt(list_dot_product(cv, cv))) AS score
  FROM c, q WHERE query_id != neighbor_id),
ranked AS (
  SELECT query_id, neighbor_id, score,
         row_number() OVER (
           PARTITION BY query_id
           ORDER BY score DESC, neighbor_id ASC) AS rank
  FROM scored)
SELECT query_id, neighbor_id, score, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= 5
"""


@register("q108_incremental_topk", _Q108_ORACLE)
def q108(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL top-k maintenance — the pattern a 100 TB similarity
    index lives by (EDBT'20 incremental top-k; REPOSE's partial-result
    reuse): when a delta batch lands, score queries against the DELTA
    ONLY and merge with the prior per-query top-k, never rescanning
    the base corpus. Correct because any member of the union's top-k
    is either a delta vector or was already in the base top-k (a base
    vector outside the prior top-k is dominated by k base vectors that
    all remain in the union), provided the merge uses the same total
    order (score desc, id asc) as the per-side cuts.

    The ORACLE is the direct full-corpus recompute, so the equality
    the driver checks IS the incremental-maintenance theorem,
    value-exact: per-pair cosine is corpus-independent, so the merged
    scores are bit-identical to the recompute's. Base = vec_id %% 10
    != 0, delta = the rest; queries are base members (mirrors a
    production reference set)."""
    from ..operators.similarity import brute_force_topk
    from ..operators.windows import top_k_per_group

    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.filter(F.col("vec_id") % 10 != 0)
    delta = emb.filter(F.col("vec_id") % 10 == 0)
    queries = base.filter(F.col("vec_id") < 20)
    prior = brute_force_topk(base, queries, k=5)
    fresh = brute_force_topk(delta, queries, k=5)
    merged = prior.select("query_id", "neighbor_id", "score").unionAll(
        fresh.select("query_id", "neighbor_id", "score")
    )
    return top_k_per_group(
        merged,
        ["query_id"],
        [F.desc("score"), F.asc("neighbor_id")],
        k=5,
        keep_rank="rank",
    ).withColumn("rank", F.col("rank").cast("long"))


# ---------------------------------------------------------------------------
# q109 — per-source boilerplate n-gram profile (document-frequency mining)
# ---------------------------------------------------------------------------

_Q109_DF_MIN = 5  # bigram must appear in >= this many docs of one source

_Q109_ORACLE = f"""
WITH t AS (
  SELECT doc_id, source, string_split(text, ' ') AS toks FROM documents
), b AS (
  SELECT DISTINCT doc_id, source, ngram FROM (
    SELECT doc_id, source,
           unnest(list_transform(range(1, len(toks)),
                                 i -> toks[i] || ' ' || toks[i + 1])) AS ngram
    FROM t)
), df AS (
  SELECT source, ngram, COUNT(*) AS df FROM b GROUP BY 1, 2
), n AS (
  SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY 1
)
SELECT df.source, df.ngram, CAST(df.df AS BIGINT) AS df,
       CAST(df.df AS DOUBLE) / n.n_docs AS df_frac
FROM df JOIN n ON df.source = n.source
WHERE df.df >= {_Q109_DF_MIN}
"""


@register("q109_boilerplate_ngrams", _Q109_ORACLE)
def q109(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-SOURCE boilerplate n-gram mining — the CCNet/RefinedWeb
    prepass that finds phrases repeated across many documents of the
    same origin (nav bars, cookie banners, license footers): for every
    (source, bigram), the DOCUMENT frequency (distinct docs containing
    it, via a row-local ``array_distinct`` before the explode so a
    doc-internal repeat counts once), kept where df >= {_Q109_DF_MIN},
    plus the fraction of the source's docs affected. Downstream a
    cleaner strips these n-grams; this query is the profile itself.

    Scale shape: the dedup counting trick from q20 applied to n-grams —
    ``array_distinct`` per row turns COUNT(DISTINCT doc_id) into a
    plain COUNT(*), so the (source, ngram) aggregation gets a MAP-SIDE
    partial combine (no distinct-Expand, no two-level shuffle) and the
    exchange carries one row per distinct (doc, ngram), not per token.
    The per-source doc totals are a tiny agg (|sources| rows) joined
    back with an explicit broadcast — the fact side never reshuffles
    for it. At 100 TB: one fine-grained shuffle keyed by (source,
    ngram); hot n-grams combine map-side first, so skew lands on
    combiners, not the wire."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", F.split("text", " ").alias("toks")
    )
    per_doc = docs.select(
        "doc_id",
        "source",
        F.explode(F.array_distinct(ngrams(F.col("toks"), 2))).alias("ngram"),
    )
    df = per_doc.groupBy("source", "ngram").agg(
        F.count("*").cast("long").alias("df")
    )
    n_docs = (
        load_table(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(F.count("*").alias("n_docs"))
    )
    return (
        df.filter(F.col("df") >= _Q109_DF_MIN)
        .join(F.broadcast(n_docs), "source")
        .select(
            "source",
            "ngram",
            "df",
            (F.col("df").cast("double") / F.col("n_docs")).alias("df_frac"),
        )
    )


# ---------------------------------------------------------------------------
# q110 — token-budget corpus selection (greedy quality fill, global scan)
# ---------------------------------------------------------------------------

_Q110_FRAC = 0.4  # select best docs until 40% of the corpus token mass

_Q110_ORACLE = f"""
WITH t AS (
  SELECT doc_id,
         len(string_split(text, ' ')) AS n_tokens,
         CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
           / len(string_split(text, ' ')) AS diversity
  FROM documents
), tot AS (
  SELECT SUM(n_tokens) AS total FROM t
), c AS (
  SELECT doc_id, n_tokens, diversity,
         SUM(n_tokens) OVER (ORDER BY diversity DESC, doc_id
                             ROWS UNBOUNDED PRECEDING) AS cum_tokens
  FROM t
)
SELECT c.doc_id, CAST(c.n_tokens AS BIGINT) AS n_tokens, c.diversity,
       CAST(c.cum_tokens AS BIGINT) AS cum_tokens
FROM c, tot
WHERE c.cum_tokens - c.n_tokens < {_Q110_FRAC} * tot.total
"""


@register("q110_token_budget_select", _Q110_ORACLE)
def q110(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget corpus selection — the data-mixing step that picks
    the highest-quality documents until a global token budget is full
    (here: lexical diversity desc, budget = {_Q110_FRAC:.0%} of the
    corpus token mass; a doc is taken while the budget is not yet
    exhausted BEFORE it, so the boundary doc that crosses the line is
    included — the greedy-fill convention).

    Scale shape: the selection needs an exact GLOBAL running sum in
    quality order — the single-task ``Window.orderBy`` trap — so it
    rides :func:`scalable_cumsum` (two-phase distributed prefix sum:
    range-exchange on (−diversity, doc_id), P-row stats collect,
    broadcast offsets). The corpus total is the kernel's driver-stats
    grand total, attached as a literal (``total_col``) — no separate
    aggregate subtree; the budget predicate is then row-local. At 100 TB
    the only data-size shuffle is the range exchange itself — the same
    cost q92's training shuffle already pays — and everything else is
    tiny-side broadcast. Scores/tiebreaks are computed identically in
    both engines (double division, doc_id asc), so the cut set is
    value-exact, not approximate."""
    from ..catalog import spread_for_compute
    from ..operators.windows import scalable_cumsum

    docs = spread_for_compute(load_table(spark, sf_dir, "documents"))
    staged = docs.select("doc_id", F.split("text", " ").alias("toks"))
    t = staged.select(
        "doc_id",
        F.size("toks").cast("long").alias("n_tokens"),
        (
            F.size(F.array_distinct("toks")).cast("double") / F.size("toks")
        ).alias("diversity"),
    ).withColumn("neg_div", -F.col("diversity"))
    # the grand total rides the cumsum kernel's driver stats as a
    # literal (total_col) — the separate t.agg(sum) subtree re-ran the
    # docs scan + split + array_distinct in its own execution
    c = scalable_cumsum(
        t,
        ("neg_div", "doc_id"),
        "n_tokens",
        out_col="cum_tokens",
        total_col="total",
    )
    return (
        c.filter(
            (F.col("cum_tokens") - F.col("n_tokens"))
            < F.lit(_Q110_FRAC) * F.col("total")
        )
        .select("doc_id", "n_tokens", "diversity", "cum_tokens")
    )


# ---------------------------------------------------------------------------
# q111 — cross-document segment dedup (global first-occurrence, hash shuffle)
# ---------------------------------------------------------------------------

_Q111_SEG = 8  # tokens per non-overlapping segment (q97's unit)

_Q111_ORACLE = f"""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
), s AS (
  SELECT doc_id,
         list_transform(range(1, len(toks) + 1, {_Q111_SEG}),
                        i -> array_to_string(
                               list_slice(toks, i, i + {_Q111_SEG - 1}), ' '))
           AS segs
  FROM t
), occ AS (
  SELECT doc_id, CAST(u.idx AS INTEGER) AS idx, u.seg AS seg
  FROM (SELECT doc_id,
               unnest(list_transform(segs, (x, i) -> {{'idx': i, 'seg': x}}))
                 AS u
        FROM s)
), win AS (
  SELECT doc_id, idx, seg,
         row_number() OVER (PARTITION BY seg ORDER BY doc_id, idx) AS rn
  FROM occ
), kept AS (
  SELECT doc_id, list(seg ORDER BY idx) AS keep
  FROM win WHERE rn = 1 GROUP BY doc_id
)
SELECT s.doc_id,
       CAST(len(s.segs) AS BIGINT) AS n_segments,
       CAST(coalesce(len(k.keep), 0) AS BIGINT) AS n_kept,
       CAST(len(s.segs) - coalesce(len(k.keep), 0) AS DOUBLE)
         / len(s.segs) AS removed_frac,
       coalesce(array_to_string(k.keep, ' '), '') AS cleaned_text
FROM s LEFT JOIN kept k ON s.doc_id = k.doc_id
"""


@register("q111_crossdoc_dedup", _Q111_ORACLE)
def q111(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CROSS-document segment dedup — q97's global sibling and the
    segment-granular middle ground between doc-level exact dedup (q20)
    and near-dup clustering (q96): every {_Q111_SEG}-token segment
    keeps its globally FIRST occurrence (min (doc_id, idx)) and every
    later occurrence — in the same doc or any other — is dropped; the
    cleaned text is re-assembled in original order. This is the
    ExactSubstr-style pass (Lee et al., "Deduplicating Training Data
    Makes Language Models Better") at fixed segment granularity.

    Scale shape — the shuffles carry HASHES, never text:
    1. occurrences project (doc_id, idx, md5(seg)) — 16-byte keys;
    2. winners = groupBy(hash).agg(MIN(struct(doc_id, idx))) — a plain
       min, so it combines MAP-SIDE (no window over the exploded
       frame, which would shuffle the segment text);
    3. the keep-set joins back hash→hash, reduces to per-doc kept-idx
       arrays (ints), and the cleaned text is rebuilt ROW-LOCALLY by
       re-deriving the doc's own segments and filtering by index
       membership — the document body itself crosses the wire exactly
       once (the final doc_id agg of idx ints joined to the base).
    At 100 TB: two fine-grained shuffles (hash 16 B/seg, doc_id + int
    list), both with partial aggregation; worst-case hot segment (a
    boilerplate line shared by millions of docs) degenerates into a
    min-combine, not a window sort. Full-width md5 makes a collision
    (2^-128) not a realistic failure mode."""
    from ..catalog import spread_for_compute
    from ..operators.text import token_segments

    docs = spread_for_compute(load_table(spark, sf_dir, "documents"))
    base = docs.select("doc_id", F.split("text", " ").alias("toks")).select(
        "doc_id", token_segments(F.col("toks"), _Q111_SEG).alias("segs")
    )
    occ = (
        base.select("doc_id", F.posexplode("segs").alias("idx", "seg"))
        .select("doc_id", "idx", F.md5("seg").alias("h"))
        # materialize ONCE (rows are 16 B hash + two ints): occ feeds
        # both the winner election and the keep-join, and without the
        # pin Catalyst re-derives it from the parquet text twice —
        # three full corpus scans instead of two (q96's same pattern)
        .transform(_pin)
    )
    winners = occ.groupBy("h").agg(
        F.min(F.struct("doc_id", "idx")).alias("w")
    )
    kept_idx = (
        occ.join(winners, "h")
        .filter(
            (F.col("doc_id") == F.col("w.doc_id"))
            & (F.col("idx") == F.col("w.idx"))
        )
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list("idx")).alias("keep_idx"))
    )
    joined = base.join(kept_idx, "doc_id", "left").withColumn(
        "keep_idx",
        F.coalesce(F.col("keep_idx"), F.array().cast("array<int>")),
    )
    kept = joined.withColumn(
        "keep",
        F.filter(
            "segs", lambda s, i: F.array_contains(F.col("keep_idx"), i)
        ),
    )
    return kept.select(
        "doc_id",
        F.size("segs").cast("long").alias("n_segments"),
        F.size("keep").cast("long").alias("n_kept"),
        (
            (F.size("segs") - F.size("keep")).cast("double") / F.size("segs")
        ).alias("removed_frac"),
        F.array_join("keep", " ").alias("cleaned_text"),
    )


# ---------------------------------------------------------------------------
# q112 — end-to-end corpus pipeline (quality -> dedup -> budget -> shuffle)
# ---------------------------------------------------------------------------

_Q112_FRAC = 0.6  # token budget: 60% of the surviving corpus token mass

_Q112_ORACLE = f"""
WITH feats AS (
  SELECT doc_id, text,
         len(string_split(text, ' ')) AS n_tokens,
         CAST(len(list_filter(string_split(text, ' '),
                              t -> t IN ('the', 'a'))) AS DOUBLE)
           / len(string_split(text, ' ')) AS stop_ratio,
         CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
           / len(string_split(text, ' ')) AS diversity
  FROM documents
), quality AS (
  SELECT * FROM feats
  WHERE n_tokens >= 10 AND stop_ratio > 0 AND stop_ratio <= 0.6
), keepers AS (
  SELECT MIN(doc_id) AS doc_id
  FROM (SELECT doc_id, {_NORM_SQL} AS nt FROM quality) t
  GROUP BY nt
), deduped AS (
  SELECT q.doc_id, q.n_tokens, q.diversity
  FROM quality q JOIN keepers k ON q.doc_id = k.doc_id
), tot AS (
  SELECT SUM(n_tokens) AS total FROM deduped
), cum AS (
  SELECT doc_id, n_tokens, diversity,
         SUM(n_tokens) OVER (ORDER BY diversity DESC, doc_id
                             ROWS UNBOUNDED PRECEDING) AS cum_tokens
  FROM deduped
), sel AS (
  SELECT cum.doc_id, cum.n_tokens FROM cum, tot
  WHERE cum.cum_tokens - cum.n_tokens < {_Q112_FRAC} * tot.total
), keyed AS (
  SELECT doc_id, n_tokens,
         ('0x' || substring(md5('ep1:' || CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT
           AS shuffle_key
  FROM sel
)
SELECT CAST(row_number() OVER (ORDER BY shuffle_key, doc_id) AS BIGINT) AS pos,
       doc_id, CAST(n_tokens AS BIGINT) AS n_tokens, shuffle_key
FROM keyed
"""


@register("q112_corpus_pipeline", _Q112_ORACLE)
def q112(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The END-TO-END corpus pipeline a user of this engine actually
    runs before training, composed from the proven stages: C4-style
    quality filter (q23's keep rule) → exact dedup, first occurrence
    wins (q20's keeper) → token-budget selection at {_Q112_FRAC:.0%}
    of the surviving token mass (q110's greedy fill) → deterministic
    training shuffle with contiguous global positions (q92's epoch
    order). One declared query value-proves the COMPOSITION — stage
    boundaries (which rows survive into the next stage, in what
    order) are exactly where hand-off bugs live, and none of the
    per-stage oracles would catch them.

    Scale shape inherits from the stages: the quality filter is
    row-local scan algebra; dedup's winner election is a hash-groupBy
    on normalized text with map-side partial MIN (the only shuffle
    that carries text) followed by a fine-grained doc_id semi-join;
    the budget fill rides `scalable_cumsum` (range exchange +
    broadcast offsets); the final order rides `two_phase_rank`'s
    global row number. No partition-less window, no driver-side data
    loop anywhere — the composition adds zero shuffles beyond what
    the stages individually pay."""
    from ..catalog import spread_for_compute
    from ..operators.text import normalize_text, quality_keep
    from ..operators.windows import scalable_cumsum, scalable_row_number

    docs = spread_for_compute(load_table(spark, sf_dir, "documents"))
    quality = docs.filter(quality_keep("text"))
    winners = (
        quality.groupBy(normalize_text("text").alias("nt"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    deduped = quality.join(winners, "doc_id", "leftsemi")
    t = (
        deduped.select("doc_id", F.split("text", " ").alias("toks"))
        .select(
            "doc_id",
            F.size("toks").cast("long").alias("n_tokens"),
            (
                F.size(F.array_distinct("toks")).cast("double")
                / F.size("toks")
            ).alias("diversity"),
        )
        .withColumn("neg_div", -F.col("diversity"))
    )
    # grand total as a literal (total_col) — the separate t.agg(sum)
    # subtree re-ran the quality filter + dedup semi-join + tokenize
    # once more per execution, plus a 1-row broadcast join
    c = scalable_cumsum(
        t,
        ("neg_div", "doc_id"),
        "n_tokens",
        out_col="cum_tokens",
        total_col="total",
    )
    sel = (
        c
        .filter(
            (F.col("cum_tokens") - F.col("n_tokens"))
            < F.lit(_Q112_FRAC) * F.col("total")
        )
        .select("doc_id", "n_tokens")
    )
    # pin the budget-selected frame: the final ranking kernel
    # evaluates its input twice (range-bounds sampling + exchange),
    # and unpinned each pass re-ran the budget cumsum window + joins;
    # lazy — the sampling pass is the materializing action
    keyed = sel.select(
        "doc_id",
        "n_tokens",
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("ep1:"), F.col("doc_id").cast("string"))),
                1,
                12,
            ),
            16,
            10,
        )
        .cast("long")
        .alias("shuffle_key"),
        F.lit(0).alias("_all"),
    ).transform(_pin_lazy)
    ranked = scalable_row_number(
        keyed, ("shuffle_key", "doc_id"), out_col="pos"
    )
    return ranked.select(
        F.col("pos").cast("long").alias("pos"),
        "doc_id",
        "n_tokens",
        "shuffle_key",
    )


# ---------------------------------------------------------------------------
# q114 — SemDeDup: cell-bounded semantic deduplication verdict
# ---------------------------------------------------------------------------

_Q114_TAU = 0.42  # just under the corpus's max intra-cell cosine
                  # (~0.513 at sf0.01) so drops are non-empty (16/500)


def _q114_oracle(n_cents: int = 16, dim: int = 64, tau: float = _Q114_TAU) -> str:
    from ..operators.similarity import _hyperplanes

    cents = _hyperplanes(n_cents, dim, seed=0xC0DE)
    values = ",\n    ".join(
        f"({i}, [{', '.join(repr(x) for x in c)}]::DOUBLE[])"
        for i, c in enumerate(cents)
    )
    return f"""
WITH cents(ci, c) AS (VALUES
    {values}
), e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
), dists AS (
  SELECT vec_id, ci,
         -2.0 * list_dot_product(v, c) + list_dot_product(c, c) AS d
  FROM e CROSS JOIN cents
), assigned AS (
  SELECT vec_id, ci AS cell FROM (
    SELECT vec_id, ci,
           row_number() OVER (PARTITION BY vec_id ORDER BY d, ci) AS rn
    FROM dists) t
  WHERE rn = 1
), cellv AS (
  SELECT e.vec_id, a.cell, e.v FROM e JOIN assigned a USING (vec_id)
), dropped AS (
  SELECT DISTINCT hi.vec_id
  FROM cellv hi JOIN cellv lo
    ON hi.cell = lo.cell AND lo.vec_id < hi.vec_id
  WHERE list_dot_product(hi.v, lo.v)
          / (sqrt(list_dot_product(hi.v, hi.v))
             * sqrt(list_dot_product(lo.v, lo.v))) >= {tau!r}
)
SELECT a.vec_id, CAST(a.cell AS INTEGER) AS cell,
       (d.vec_id IS NULL) AS keep
FROM assigned a LEFT JOIN dropped d ON a.vec_id = d.vec_id
"""


@register("q114_semantic_dedup", _q114_oracle())
def q114(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic dedup verdict (SemDeDup shape): every embedding is
    assigned to its nearest codebook cell (the q79 codebook — Arrow
    matmul assignment, plan constant in |cells|), and a vector is
    DROPPED iff a same-cell neighbor with a smaller vec_id sits at
    cosine >= {tau}. The declared output is the full (vec_id, cell,
    keep) verdict table, so the quadratic step, the assignment AND the
    keep rule are all value-oracle-checked at once.

    Scale: pair generation never leaves a cell — with a ~sqrt(N)-cell
    codebook each posting list is ~sqrt(N) rows and the per-cell
    self-join is executor-sized (AQE skew-join covers hot cells);
    dropped ids rejoin as a 8-byte-key left join, vectors shuffle into
    the pair join exactly once. See operators/similarity.py::
    semantic_dedup."""
    from ..operators.similarity import _hyperplanes, semantic_dedup

    emb = load_table(spark, sf_dir, "embeddings")
    cents = _hyperplanes(16, 64, seed=0xC0DE)
    return semantic_dedup(emb, cents, threshold=_Q114_TAU)


# ---------------------------------------------------------------------------
# q116 — Levenshtein-1 pair mining via deletion-neighborhood blocking
# ---------------------------------------------------------------------------

_Q116_ORACLE = """
WITH c AS (SELECT c_name FROM customer WHERE c_mktsegment = 'BUILDING')
SELECT a.c_name AS name_a, b.c_name AS name_b,
       CAST(levenshtein(a.c_name, b.c_name) AS INTEGER) AS dist
FROM c a JOIN c b
  ON a.c_name < b.c_name
 AND abs(length(a.c_name) - length(b.c_name)) <= 1
WHERE levenshtein(a.c_name, b.c_name) <= 1
"""


@register("q116_edit_distance_pairs", _Q116_ORACLE)
def q116(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy-matching pair mining: every distinct pair of customer
    names (one segment) within Levenshtein distance 1, computed by
    deletion-neighborhood blocking + exact verify (operators/dedup.py::
    edit_distance_pairs) instead of the |V|² scan the oracle runs —
    the entity-resolution / typo-clustering primitive a corpus
    pipeline applies to vocabularies, titles and author strings.

    The oracle IS the quadratic baseline (with a sound length-band
    prefilter), so this query doubles as the differential proof that
    the blocking scheme loses no pairs on real data; a planted-typo
    unit test pins the insert/delete/substitute cases individually.

    Scale: the blocked join shuffles 8-byte variant hashes (~L+1 per
    string); candidates are bounded by variant-group sizes, and the
    only per-candidate work is one codegen'd levenshtein."""
    from ..operators.dedup import edit_distance_pairs

    cust = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_name")
    )
    return edit_distance_pairs(cust, "c_name", max_dist=1)


# ---------------------------------------------------------------------------
# q117 — temperature-flattened mixture from in-plan corpus statistics
# ---------------------------------------------------------------------------

_Q117_U48 = (
    "('0x' || substring(md5('temp-mix-v1' || (doc_id)::VARCHAR), 1, 12))"
    "::BIGINT"
)

_Q117_ORACLE = f"""
WITH stats AS (
  SELECT source, SUM(n_chars) AS gmass FROM documents GROUP BY source
), tot AS (
  SELECT SUM(n_chars) AS tmass FROM documents
), w AS (
  SELECT source,
         least(8.0, 0.5 * sqrt(CAST(tmass AS DOUBLE) / CAST(gmass AS DOUBLE))) AS w
  FROM stats CROSS JOIN tot
), n AS (
  SELECT d.doc_id, d.source,
         (CAST(floor(w) AS BIGINT)
          + CASE WHEN {_Q117_U48}
                   < CAST((w - floor(w)) * 281474976710656.0 AS BIGINT)
                 THEN 1 ELSE 0 END) AS n_copies
  FROM documents d JOIN w USING (source)
)
SELECT doc_id, source, n_copies,
       CAST(unnest(range(0, n_copies)) AS BIGINT) AS copy_id
FROM n WHERE n_copies > 0
"""


@register("q117_temperature_mixture", _Q117_ORACLE)
def q117(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-flattened training mixture (alpha = 0.5): per-source
    epochs min(8, 0.5·sqrt(M/m_s)) computed from the corpus's OWN
    character masses in-plan (operators/sampling.py::
    temperature_mixture) — the multilingual-LM sampling rule, where
    q66's weights are a hand-written dict. Per-row expansion rides the
    shared deterministic-coin kernel (expand_by_weight), so the emitted
    multiset is bit-identical in any engine that mirrors the
    expression — sqrt is correctly rounded everywhere, which is exactly
    why the temperature is fixed at 1/2 instead of a pow() exponent."""
    from ..operators.sampling import temperature_mixture

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    return temperature_mixture(docs).select(
        "doc_id", "source", "n_copies", "copy_id"
    )


# ---------------------------------------------------------------------------
# q118 — Levenshtein-2 pair mining (delete-neighborhood, k=2 tier)
# ---------------------------------------------------------------------------

_Q118_ORACLE = """
WITH c AS (SELECT c_name FROM customer WHERE c_mktsegment = 'BUILDING')
SELECT a.c_name AS name_a, b.c_name AS name_b,
       CAST(levenshtein(a.c_name, b.c_name) AS INTEGER) AS dist
FROM c a JOIN c b
  ON a.c_name < b.c_name
 AND abs(length(a.c_name) - length(b.c_name)) <= 2
WHERE levenshtein(a.c_name, b.c_name) <= 2
"""


@register("q118_edit_distance2_pairs", _Q118_ORACLE)
def q118(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The k=2 tier of fuzzy pair mining: distance-<=2 pairs via the
    delete-<=2 neighborhood (SymSpell blocking — ~L²/2 8-byte variant
    hashes per string buy candidates that track the true neighbor
    count; a PassJoin segment scheme would degenerate to the cross
    product on this corpus's constant 'Customer#' prefix — see
    operators/dedup.py::edit_distance_pairs). Same differential
    structure as q116: the oracle is the quadratic baseline, so every
    driver row proves blocking completeness at the wider radius
    (8270 pairs at sf0.01 vs q116's 779)."""
    from ..operators.dedup import edit_distance_pairs

    cust = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_name")
    )
    return edit_distance_pairs(cust, "c_name", max_dist=2)


# ---------------------------------------------------------------------------
# q121 — per-source distribution divergence (Bhattacharyya / Hellinger)
# ---------------------------------------------------------------------------

_Q121_ORACLE = """
WITH t AS (
  SELECT source, unnest(string_split(text, ' ')) AS term FROM documents
), a AS (
  SELECT source, term, COUNT(*) AS a FROM t GROUP BY source, term
), tot AS (
  SELECT term, COUNT(*) AS tot FROM t GROUP BY term
), srcmass AS (
  SELECT source, COUNT(*) AS amass FROM t GROUP BY source
), allmass AS (
  SELECT COUNT(*) AS tmass FROM t
), contrib AS (
  SELECT a.source,
         CAST(sqrt(CAST(a.a * (tot.tot - a.a) AS DOUBLE))
              AS DECIMAL(38, 12)) AS c
  FROM a JOIN tot USING (term)
), bc AS (
  SELECT source, CAST(SUM(c) AS DOUBLE) AS bc_sum FROM contrib GROUP BY source
), scored AS (
  SELECT bc.source, srcmass.amass, allmass.tmass,
         round(bc.bc_sum / sqrt(CAST(srcmass.amass AS DOUBLE)
                                * CAST(allmass.tmass - srcmass.amass AS DOUBLE))
               * 1e9) / 1e9 AS bc_norm
  FROM bc JOIN srcmass USING (source) CROSS JOIN allmass
)
SELECT source, CAST(amass AS BIGINT) AS n_tokens, bc_norm,
       round(sqrt(greatest(0.0, 1.0 - bc_norm)) * 1e9) / 1e9 AS hellinger
FROM scored
"""


@register("q121_source_divergence", _Q121_ORACLE)
def q121(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source unigram-distribution divergence from the REST of the
    corpus — the mixture-health metric a data pipeline watches to
    catch a source drifting off-distribution (dedup gone wrong,
    crawler contamination, a source collapsing to boilerplate).

    KL/JS divergence needs ln(), which is not bit-portable across
    engines (libm differs by ulps) — the q60/q89 rule. The
    Bhattacharyya coefficient BC = sum_i sqrt(p_i * q_i) needs only
    sqrt, which IEEE 754 requires to be CORRECTLY rounded, so every
    per-term contribution sqrt(a_i * b_i) is bit-identical in any
    engine (a_i, b_i exact int64 counts; the product must stay under
    2^53 for the double cast to be exact — per-term counts beyond
    ~9e15 products mean a >petatoken single term, far past any real
    vocab). Hellinger distance = sqrt(1 - BC_norm) then inherits
    portability.

    The remaining hazard is the SUM over the vocab — IEEE addition is
    order-dependent — solved by quantizing each contribution to
    DECIMAL(38,12) before aggregation (exact, associative): a
    scale-12 decimal midpoint at magnitude >= 1 is not representable
    as a double, so round-to-nearest can never tie and both engines
    quantize identically; the dsum pattern, generalized to irrational
    inputs. One residual: DuckDB's DECIMAL->DOUBLE cast is doubly
    rounded (int128 -> double, then /1e12) and measured 1 ulp off
    Spark's correctly-rounded BigDecimal conversion, so the two
    emitted multi-op doubles are quantized to 1e-9 (PLANS.md float
    rule #2, the q102 treatment).

    Scale shape: two partial-combined aggregations bounded by
    |sources x vocab| and |vocab|; the divergence math is row-local
    over the vocab-sized frame. The corpus-sized explode never
    crosses a shuffle carrying text — only (source, term) keys."""
    docs = load_table(spark, sf_dir, "documents")
    terms = docs.select(
        "source", F.explode(F.split(F.col("text"), " ")).alias("term")
    )
    a = terms.groupBy("source", "term").agg(F.count(F.lit(1)).alias("a"))
    tot = terms.groupBy("term").agg(F.count(F.lit(1)).alias("tot"))
    srcmass = terms.groupBy("source").agg(F.count(F.lit(1)).alias("amass"))
    allmass = terms.agg(F.count(F.lit(1)).alias("tmass"))
    contrib = a.join(tot, "term").select(
        "source",
        F.sqrt((F.col("a") * (F.col("tot") - F.col("a"))).cast("double"))
        .cast(T.DecimalType(38, 12))
        .alias("c"),
    )
    bc = contrib.groupBy("source").agg(
        F.sum("c").cast("double").alias("bc_sum")
    )
    scored = (
        bc.join(F.broadcast(srcmass), "source")
        .crossJoin(F.broadcast(allmass))
        .withColumn(
            "bc_norm",
            F.round(
                F.col("bc_sum")
                / F.sqrt(
                    F.col("amass").cast("double")
                    * (F.col("tmass") - F.col("amass")).cast("double")
                )
                * 1e9
            )
            / 1e9,
        )
    )
    return scored.select(
        "source",
        F.col("amass").alias("n_tokens"),
        "bc_norm",
        (
            F.round(
                F.sqrt(F.greatest(F.lit(0.0), F.lit(1.0) - F.col("bc_norm")))
                * 1e9
            )
            / 1e9
        ).alias("hellinger"),
    )
