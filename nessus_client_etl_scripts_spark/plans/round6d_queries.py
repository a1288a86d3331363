"""Round-6 tenth wave — q177…q179: pair-mining and feature-
engineering verbs a training-data pipeline still needs.

- q177 margin-based mutual-kNN pair mining (the bitext-mining verb of
  Artetxe & Schwenk 2019: score(x, y) = cos(x, y) normalized by the
  mean cosine of each side's k nearest neighbours, keep mutual best
  matches) — the alignment step that builds parallel-pair corpora.
- q178 leave-one-out target encoding with additive smoothing — the
  classical ML feature-engineering verb, leakage-safe by construction
  (each row's own target is subtracted from its group statistic; the
  q167 leakage theme applied to features instead of splits).
- q179 perceptual image dedup via dHash over the REAL PPM decode path
  — near-duplicate image detection as decode → integer difference
  hash → groupBy, value-proven end to end through the actual codec
  (the q105 proof upgraded from "roundtrip stats" to a full dedup
  verdict).

Float portability per PLANS.md: q177 quantizes embeddings to exact
integers (floor(x·4096), the q39/q176 rule) so every dot product and
norm is an exact integer; each emitted score is then a fixed chain of
correctly-rounded IEEE ops (sqrt/ mul/ div/ round) identical in both
engines. q178 emits exact integer cents plus micro-rounded divisions
of exact integer moments. q179 is integer-only end to end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..operators.similarity import collect_bounded_side, round_half_away
from ..operators.text import normalize_text
from .corpus_queries import _NORM_SQL, _ppm_media, _wav_media
from .testdata_queries import register
from ..pins import pin as _pin

# ---------------------------------------------------------------------------
# q177 — margin-based mutual-kNN pair mining (bitext-mining shape)
# ---------------------------------------------------------------------------

_Q177_SCALE = 4096.0
_Q177_K = 4

_Q177_ORACLE = f"""
WITH e AS (
  SELECT vec_id,
         list_transform(embedding::DOUBLE[],
                        x -> floor(x * {_Q177_SCALE!r})) AS v
  FROM embeddings
), n AS (
  SELECT vec_id, v, list_dot_product(v, v) AS nv FROM e
), a AS (
  SELECT vec_id AS a_id, v AS av, nv AS na FROM n WHERE vec_id % 2 = 0
), b AS (
  SELECT vec_id AS b_id, v AS bv, nv AS nb FROM n WHERE vec_id % 2 = 1
), p AS (
  SELECT a_id, b_id,
         CAST(round(1000000000000.0
              * (list_dot_product(av, bv) / (sqrt(na) * sqrt(nb))))
              AS BIGINT) AS cos_pico
  FROM a CROSS JOIN b
), ranked AS (
  SELECT a_id, b_id, cos_pico,
         row_number() OVER (PARTITION BY a_id
                            ORDER BY cos_pico DESC, b_id) AS ra,
         row_number() OVER (PARTITION BY b_id
                            ORDER BY cos_pico DESC, a_id) AS rb
  FROM p
), sa AS (
  SELECT a_id, SUM(cos_pico) AS sa_pico FROM ranked
  WHERE ra <= {_Q177_K} GROUP BY a_id
), sb AS (
  SELECT b_id, SUM(cos_pico) AS sb_pico FROM ranked
  WHERE rb <= {_Q177_K} GROUP BY b_id
)
SELECT r.a_id, r.b_id, r.cos_pico,
       CAST(sa.sa_pico AS BIGINT) AS sa_pico,
       CAST(sb.sb_pico AS BIGINT) AS sb_pico,
       CAST(round(1000000.0 * (({2 * _Q177_K} * r.cos_pico)
            / (sa.sa_pico + sb.sb_pico))) AS BIGINT) AS margin_micro
FROM ranked r
JOIN sa USING (a_id) JOIN sb USING (b_id)
WHERE r.ra = 1 AND r.rb = 1
"""


def _q177_best(side, other, id_name: str, other_name: str, sum_name: str):
    """One kNN direction: for every ``side`` row, its best ``other``
    vector (ties → lower id) plus the sum of its top-k cos_pico values.

    The other side rides into the executors as a closed-over (n × d)
    numpy matrix — the same bytes the previous broadcast join shipped —
    and each Arrow batch scores with ONE matmul. All inputs are
    floor-quantized integers, so the dot products and norms are exact
    in any summation order; the pico chain (round(1e12·dot/(√·√))) is
    the same 4-op IEEE sequence the oracle runs. The stable argsort on
    -pico breaks ties toward the lower matrix index = the lower other
    id (rows are sorted by id), matching the oracle's ORDER BY
    cos_pico DESC, id ASC.

    The collect is HARD-BOUNDED (collect_bounded_side): at 100 TB the
    ``other`` side must arrive pre-bucketed (q95's LSH multiprobe path)
    so each slice fits the bound; an unbucketed corpus raises instead
    of OOMing the driver."""
    import numpy as np
    import pandas as pd

    rows = sorted(collect_bounded_side(other), key=lambda r: r["vec_id"])
    o_ids = np.array([r["vec_id"] for r in rows], dtype=np.int64)
    O = np.array([r["v"] for r in rows], dtype=np.float64)
    o_nsq = np.sqrt(np.array([r["nv"] for r in rows], dtype=np.float64))

    def score(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            M = np.stack(pdf["v"].to_numpy()).astype(np.float64, copy=False)
            nsq = np.sqrt(pdf["nv"].to_numpy(dtype=np.float64))
            pico = round_half_away(
                1e12 * ((M @ O.T) / (nsq[:, None] * o_nsq[None, :]))
            )
            order = np.argsort(-pico, axis=1, kind="stable")
            top = order[:, :_Q177_K]
            s = np.take_along_axis(pico, top, axis=1).sum(axis=1)
            best = top[:, 0]
            yield pd.DataFrame(
                {
                    id_name: pdf["vec_id"].to_numpy(dtype=np.int64),
                    other_name: o_ids[best],
                    "cos_pico": pico[
                        np.arange(len(best)), best
                    ].astype(np.int64),
                    sum_name: s.astype(np.int64),
                }
            )

    return side.mapInPandas(
        score,
        schema=(
            f"{id_name} long, {other_name} long, "
            f"cos_pico long, {sum_name} long"
        ),
    )


@register("q177_margin_bitext_mine", _Q177_ORACLE)
def q177(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Margin-based mutual-kNN pair mining (the CCMatrix/LASER
    bitext-mining verb): two corpus sides (here the even/odd vec_id
    halves standing in for two languages), cosine kNN in BOTH
    directions, and a pair survives iff each side is the other's
    nearest neighbour; its margin score divides the pair cosine by
    the mean of the two sides' k-NN cosines, down-weighting hubs that
    are "near everything".

    Float rule: embeddings quantize to exact integers
    (floor(x·4096) — the q39/q176 rule), so dot products and norms
    are exact; cos_pico = round(1e12·num/(√na·√nb)) is a fixed
    4-op IEEE chain, the k-NN sums are exact integer sums of pico
    values, and the margin is ONE division of exact integers scaled
    and rounded — every step bit-equal in Spark and DuckDB.

    Scale: the kNN stage is per-row top-k against the OTHER side's
    broadcast matrix — one Arrow matmul per batch, never a
    materialized pair frame (an earlier formulation built the |A|×|B|
    cross join and ranked it with two windows: 3× slower at sf0.1 and
    superlinear, since the windows shuffle the full pair set twice).
    Each direction's pass emits only its best pair + its kNN sum —
    |A|+|B| rows total — and the mutual-best check is an equi-join of
    those two narrow frames. The other side closes over the UDF
    exactly as the old broadcast join shipped it; at 100 TB you run
    the SAME two passes per LSH bucket (q28/q95's path) so each side
    only meets its bucket."""
    emb = load_table(spark, sf_dir, "embeddings")
    vq = F.transform(
        F.col("embedding"),
        lambda x: F.floor(x * F.lit(_Q177_SCALE)).cast("double"),
    )
    n = emb.select(
        "vec_id",
        vq.alias("v"),
    ).withColumn(
        "nv",
        F.aggregate(
            F.zip_with("v", "v", lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
    )
    a = n.filter(F.col("vec_id") % 2 == 0)
    b = n.filter(F.col("vec_id") % 2 == 1)
    a_top = _q177_best(a, b, "a_id", "b_id", "sa_pico")
    b_top = _q177_best(b, a, "b_id", "a_id", "sb_pico").drop("cos_pico")
    return (
        a_top.join(b_top, ["a_id", "b_id"])  # mutual best ⇔ both passes
        # nominated the same pair (cos_pico is identical math, either copy)
        .select(
            "a_id",
            "b_id",
            "cos_pico",
            "sa_pico",
            "sb_pico",
            F.round(
                F.lit(1e6)
                * (
                    (F.lit(2 * _Q177_K) * F.col("cos_pico"))
                    / (F.col("sa_pico") + F.col("sb_pico"))
                )
            )
            .cast("long")
            .alias("margin_micro"),
        )
    )


# ---------------------------------------------------------------------------
# q178 — leave-one-out target encoding with additive smoothing
# ---------------------------------------------------------------------------

_Q178_M = 20  # smoothing pseudo-count

_Q178_ORACLE = f"""
WITH o AS (
  SELECT o_orderkey, o_orderpriority AS priority,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
), g AS (
  SELECT priority, SUM(cents) AS s_g, count(*) AS n_g
  FROM o GROUP BY priority
), tot AS (
  SELECT SUM(cents) AS s_all, count(*) AS n_all FROM o
)
SELECT o.o_orderkey, o.priority, o.cents,
       CAST(g.n_g AS BIGINT) AS n_g,
       CAST(round(1000000.0
            * ((g.s_g - o.cents) / CAST(g.n_g - 1 AS DOUBLE)))
            AS BIGINT) AS loo_micro,
       CAST(round(1000000.0
            * (((g.s_g - o.cents)
                + {_Q178_M} * (CAST(t.s_all AS DOUBLE) / t.n_all))
               / CAST(g.n_g - 1 + {_Q178_M} AS DOUBLE)))
            AS BIGINT) AS smooth_micro
FROM o JOIN g USING (priority) CROSS JOIN tot t
"""


@register("q178_target_encoding", _Q178_ORACLE)
def q178(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out target encoding with additive smoothing — the ML
    feature-engineering verb: each order's priority is replaced by
    the mean target (order value, exact cents) of the OTHER rows in
    its priority group, shrunk toward the global mean by m pseudo-
    counts. Subtracting the row's own target makes the feature
    leakage-safe by construction (q167's theme at the feature grain).

    Exactness: cents, group sums and counts are exact integers;
    loo = (S_g − y)/(n_g − 1) is one correctly-rounded division of
    exact integers; the smoothed variant adds one global-mean
    division and one fused multiply-add-free chain written
    identically in both engines — then micro-rounded.

    Scale: ONE partial-combine aggregation to |priorities| group
    rows, broadcast back into a row-local projection — no row-frame
    shuffle at all; adding more encoded columns costs more counters,
    not more scans."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_orderpriority").alias("priority"),
        F.round(F.col("o_totalprice") * 100)
        .cast("long")
        .alias("cents"),
    )
    g = o.groupBy("priority").agg(
        F.sum("cents").alias("s_g"), F.count("*").alias("n_g")
    )
    tot = o.agg(
        F.sum("cents").alias("s_all"), F.count("*").alias("n_all")
    )
    gmean = F.col("s_all").cast("double") / F.col("n_all")
    return (
        o.join(F.broadcast(g), "priority")
        .join(F.broadcast(tot))
        .select(
            "o_orderkey",
            "priority",
            "cents",
            F.col("n_g").cast("long").alias("n_g"),
            F.round(
                F.lit(1e6)
                * (
                    (F.col("s_g") - F.col("cents"))
                    / (F.col("n_g") - 1).cast("double")
                )
            )
            .cast("long")
            .alias("loo_micro"),
            F.round(
                F.lit(1e6)
                * (
                    (
                        (F.col("s_g") - F.col("cents"))
                        + F.lit(_Q178_M) * gmean
                    )
                    / (F.col("n_g") - 1 + _Q178_M).cast("double")
                )
            )
            .cast("long")
            .alias("smooth_micro"),
        )
    )


# ---------------------------------------------------------------------------
# q179 — perceptual image dedup: dHash over the REAL PPM decode path
# ---------------------------------------------------------------------------

_Q179_ORACLE = """
WITH d AS (
  SELECT doc_id, n_chars, 6 + (n_chars % 5) * 2 AS h FROM documents
), px AS (
  SELECT doc_id, h, n_chars, unnest(range(0, 24 * h)) AS i FROM d
), gray AS (
  SELECT doc_id, h, (i // 3) // 8 AS row, (i // 3) % 8 AS col,
         SUM((n_chars + i) % 256) AS gs
  FROM px GROUP BY doc_id, h, (i // 3) // 8, (i // 3) % 8
), bsum AS (
  SELECT doc_id, (8 * row + 7) // h AS band, col, SUM(gs) AS g
  FROM gray GROUP BY doc_id, (8 * row + 7) // h, col
), grid AS (
  SELECT d.doc_id, b.band, c.col, coalesce(s.g, 0) AS g
  FROM d
  CROSS JOIN (SELECT unnest(range(0, 8)) AS band) b
  CROSS JOIN (SELECT unnest(range(0, 8)) AS col) c
  LEFT JOIN bsum s
    ON s.doc_id = d.doc_id AND s.band = b.band AND s.col = c.col
), hash AS (
  SELECT lo.doc_id,
         SUM(CASE WHEN lo.g < hi.g
             THEN (1::BIGINT << (lo.band * 8 + lo.col))
             ELSE 0 END) AS dhash
  FROM grid lo
  JOIN grid hi ON hi.doc_id = lo.doc_id
             AND hi.band = lo.band + 1 AND hi.col = lo.col
  WHERE lo.band < 7
  GROUP BY lo.doc_id
)
SELECT hash.doc_id AS media_id, CAST(hash.dhash AS BIGINT) AS dhash,
       CAST(10 + length(CAST(d.h AS VARCHAR)) + 24 * d.h AS BIGINT)
         AS n_bytes,
       CAST(count(*) OVER (PARTITION BY dhash) AS BIGINT)
         AS group_size,
       hash.doc_id = MIN(hash.doc_id) OVER (PARTITION BY dhash)
         AS keep
FROM hash JOIN d ON d.doc_id = hash.doc_id
"""


@register("q179_image_dhash_dedup", _Q179_ORACLE)
def q179(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual image dedup: every document renders its q105
    gradient image, is ENCODED to real binary-PPM bytes, decoded back
    by the native P6 parser inside :func:`image_dhash`, and reduced
    to a 56-bit integer difference hash (integer band pooling +
    neighbour comparisons — no float anywhere); images sharing a hash
    form a duplicate group and the smallest media_id is kept. The
    DuckDB twin replays the hash in closed form from the gradient
    formula, so a bug in EITHER codec direction or in the band/bit
    packing breaks the value hash — this upgrades q105's roundtrip
    proof to a full dedup verdict (dHash ≅ the multimodal analogue of
    q25's text fingerprint).

    Scale: pixels never shuffle — the mapInPandas stage emits 24
    bytes per image; dedup is ONE groupBy on the hash (map-side
    combine) joined back for the verdict. Near-dup (Hamming ≤ t)
    upgrades reuse q103's band-bucketing on the same hash column."""
    from ..operators.multimodal import image_dhash

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "n_chars"
    )

    media = _ppm_media(docs)
    hashed = image_dhash(media, codec="ppm")
    groups = hashed.groupBy("dhash").agg(
        F.count("*").cast("long").alias("group_size"),
        F.min("media_id").alias("_canon"),
    )
    return hashed.join(groups, "dhash").select(
        "media_id",
        "dhash",
        "n_bytes",
        "group_size",
        (F.col("media_id") == F.col("_canon")).alias("keep"),
    )


# ---------------------------------------------------------------------------
# q180 — Fellegi–Sunter record-linkage weights
# ---------------------------------------------------------------------------

_Q180_TAU = 0.5

_Q180_ORACLE = f"""
WITH base AS (
  SELECT doc_id, lang, source, n_chars,
         {_NORM_SQL} AS norm,
         list_distinct(list_transform(
           generate_series(1, greatest(len(string_split({_NORM_SQL}, ' ')) - 2, 1)),
           i -> array_to_string(string_split({_NORM_SQL}, ' ')[i:i+2], ' ')
         )) AS sh,
         n_chars // 200 AS lb,
         string_split({_NORM_SQL}, ' ')[1] AS tok1
  FROM documents
), truth AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM base a JOIN base b ON a.doc_id < b.doc_id
  WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
          / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))
        >= {_Q180_TAU!r}
), rn AS (
  SELECT doc_id, source, norm,
         row_number() OVER (PARTITION BY source
                            ORDER BY norm, doc_id) AS rn
  FROM base
), cand AS (
  SELECT least(a.doc_id, b.doc_id) AS doc_a,
         greatest(a.doc_id, b.doc_id) AS doc_b
  FROM rn a JOIN rn b
    ON a.source = b.source AND b.rn - a.rn BETWEEN 1 AND 4
), labeled AS (
  SELECT c.doc_a, c.doc_b,
         (t.doc_a IS NOT NULL) AS m,
         fa.lang = fb.lang AS ag_lang,
         fa.lb = fb.lb AS ag_len,
         fa.tok1 = fb.tok1 AS ag_tok
  FROM cand c
  LEFT JOIN truth t ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b
  JOIN base fa ON fa.doc_id = c.doc_a
  JOIN base fb ON fb.doc_id = c.doc_b
), tot AS (
  SELECT
    CAST(SUM(CASE WHEN m THEN 1 ELSE 0 END) AS BIGINT) AS nm,
    CAST(SUM(CASE WHEN NOT m THEN 1 ELSE 0 END) AS BIGINT) AS nu,
    CAST(SUM(CASE WHEN m AND ag_lang THEN 1 ELSE 0 END) AS BIGINT) AS nm_lang,
    CAST(SUM(CASE WHEN NOT m AND ag_lang THEN 1 ELSE 0 END) AS BIGINT) AS nu_lang,
    CAST(SUM(CASE WHEN m AND ag_len THEN 1 ELSE 0 END) AS BIGINT) AS nm_len,
    CAST(SUM(CASE WHEN NOT m AND ag_len THEN 1 ELSE 0 END) AS BIGINT) AS nu_len,
    CAST(SUM(CASE WHEN m AND ag_tok THEN 1 ELSE 0 END) AS BIGINT) AS nm_tok,
    CAST(SUM(CASE WHEN NOT m AND ag_tok THEN 1 ELSE 0 END) AS BIGINT) AS nu_tok
  FROM labeled
), pat AS (
  SELECT ag_lang, ag_len, ag_tok,
         CAST(SUM(CASE WHEN m THEN 1 ELSE 0 END) AS BIGINT) AS n_match,
         CAST(SUM(CASE WHEN NOT m THEN 1 ELSE 0 END) AS BIGINT) AS n_unmatch
  FROM labeled GROUP BY ag_lang, ag_len, ag_tok
)
SELECT p.ag_lang, p.ag_len, p.ag_tok, p.n_match, p.n_unmatch,
       CAST(round(1000000.0 * ((
         (CASE WHEN p.ag_lang
               THEN ((t.nm_lang + 1) * (t.nu + 2))
                    / ((t.nm + 2) * (t.nu_lang + 1))
               ELSE ((t.nm - t.nm_lang + 1) * (t.nu + 2))
                    / ((t.nm + 2) * (t.nu - t.nu_lang + 1)) END)
         * (CASE WHEN p.ag_len
               THEN ((t.nm_len + 1) * (t.nu + 2))
                    / ((t.nm + 2) * (t.nu_len + 1))
               ELSE ((t.nm - t.nm_len + 1) * (t.nu + 2))
                    / ((t.nm + 2) * (t.nu - t.nu_len + 1)) END))
         * (CASE WHEN p.ag_tok
               THEN ((t.nm_tok + 1) * (t.nu + 2))
                    / ((t.nm + 2) * (t.nu_tok + 1))
               ELSE ((t.nm - t.nm_tok + 1) * (t.nu + 2))
                    / ((t.nm + 2) * (t.nu - t.nu_tok + 1)) END)))
         AS BIGINT) AS weight_micro
FROM pat p CROSS JOIN tot t
"""


@register("q180_fellegi_sunter", _Q180_ORACLE)
def q180(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi–Sunter record-linkage scoring: the sorted-neighborhood
    candidates (blocked on source this time, so the field comparisons
    stay informative) are labeled against the exact 3-shingle Jaccard
    truth (the q175 pair), each pair reduced to a 3-bit agreement
    pattern over (lang, length-bucket, first-token), and every
    pattern gets its classical match weight: the product over fields
    of m_k/u_k (agree) or (1−m_k)/(1−u_k) (disagree), with Laplace
    +1/+2 smoothing so no ratio divides by zero. The weight ORDERS
    patterns for clerical review — the decision layer q175's blocker
    evaluation feeds into.

    Exactness: m/u never materialize as floats — each smoothed ratio
    is ONE division of exact integer PRODUCTS ((nm_k+1)·(nu+2) etc.,
    < 2^53), and the pattern weight is the fixed left-associated
    product of three correctly-rounded doubles, micro-rounded — the
    q173 dyadic discipline applied to likelihood ratios.

    Scale: candidates are the linear SN frame; labels come from ONE
    equi-join against the truth pairs; the m/u table is a single
    conditional aggregation (8 counters, one scan — the q172 rule);
    patterns are ≤ 2³ rows, so the weight algebra is driver-trivial
    and the whole plan shuffles id pairs, never documents."""
    from ..operators.dedup import (
        ngram_jaccard_pairs,
        sorted_neighborhood_pairs,
    )

    docs = load_table(spark, sf_dir, "documents")
    fields = docs.select(
        "doc_id",
        "lang",
        F.floor(F.col("n_chars") / 200).cast("long").alias("lb"),
        F.split(normalize_text("text"), " ")[0].alias("tok1"),
    )
    truth = (
        ngram_jaccard_pairs(docs, k=3, threshold=_Q180_TAU)
        .select("doc_a", "doc_b", F.lit(True).alias("_t"))
    )
    cand = sorted_neighborhood_pairs(
        docs, block_cols=("source",), k=3, window=5
    ).select(
        F.least("doc_a", "doc_b").alias("doc_a"),
        F.greatest("doc_a", "doc_b").alias("doc_b"),
    )
    fa = fields.select(
        F.col("doc_id").alias("doc_a"),
        F.col("lang").alias("lang_a"),
        F.col("lb").alias("lb_a"),
        F.col("tok1").alias("tok1_a"),
    )
    fb = fields.select(
        F.col("doc_id").alias("doc_b"),
        F.col("lang").alias("lang_b"),
        F.col("lb").alias("lb_b"),
        F.col("tok1").alias("tok1_b"),
    )
    labeled = (
        cand.join(truth, ["doc_a", "doc_b"], "left")
        .join(fa, "doc_a")
        .join(fb, "doc_b")
        .select(
            F.col("_t").isNotNull().alias("m"),
            (F.col("lang_a") == F.col("lang_b")).alias("ag_lang"),
            (F.col("lb_a") == F.col("lb_b")).alias("ag_len"),
            (F.col("tok1_a") == F.col("tok1_b")).alias("ag_tok"),
        )
    )

    def cnt(cond):
        return F.sum(F.when(cond, 1).otherwise(0)).cast("long")

    m = F.col("m")
    # pinned: pat (≤2³ rows) feeds the output AND the tot marginals
    # below — unpinned, the candidate+truth join subtree would run
    # once per consumer
    pat = labeled.groupBy("ag_lang", "ag_len", "ag_tok").agg(
        cnt(m).alias("n_match"),
        cnt(~m).alias("n_unmatch"),
    ).transform(_pin)
    # the m/u totals are exact MARGINALS of the ≤2³-row pattern table
    # (each labeled row lands in exactly one pattern group, and every
    # tot counter conditions only on m and the group keys), so they
    # fold out of `pat` instead of a SECOND full aggregate over
    # `labeled` — the old twin-aggregate form re-executed the entire
    # candidate+truth join subtree (66 Exchanges / 28 scans before).
    # Boolean-NULL parity: cnt(m & ag_x) skips NULL-ag rows exactly as
    # summing n_match over ag_x = TRUE groups does.
    def marg(flag: str, src: str):
        # otherwise(0), so an all-false flag yields 0 like the old
        # cnt() form, never a NULL that would poison the ratios
        return F.sum(
            F.when(F.col(flag), F.col(src)).otherwise(F.lit(0))
        ).cast("long")

    tot = pat.agg(
        F.sum("n_match").cast("long").alias("nm"),
        F.sum("n_unmatch").cast("long").alias("nu"),
        marg("ag_lang", "n_match").alias("nm_lang"),
        marg("ag_lang", "n_unmatch").alias("nu_lang"),
        marg("ag_len", "n_match").alias("nm_len"),
        marg("ag_len", "n_unmatch").alias("nu_len"),
        marg("ag_tok", "n_match").alias("nm_tok"),
        marg("ag_tok", "n_unmatch").alias("nu_tok"),
    )

    def ratio(field: str):
        nm_k, nu_k = F.col(f"nm_{field}"), F.col(f"nu_{field}")
        nm, nu = F.col("nm"), F.col("nu")
        return F.when(
            F.col(f"ag_{field}"),
            ((nm_k + 1) * (nu + 2)) / ((nm + 2) * (nu_k + 1)),
        ).otherwise(
            ((nm - nm_k + 1) * (nu + 2)) / ((nm + 2) * (nu - nu_k + 1))
        )

    return pat.crossJoin(F.broadcast(tot)).select(
        "ag_lang",
        "ag_len",
        "ag_tok",
        "n_match",
        "n_unmatch",
        F.round(
            F.lit(1e6) * ((ratio("lang") * ratio("len")) * ratio("tok"))
        )
        .cast("long")
        .alias("weight_micro"),
    )


# ---------------------------------------------------------------------------
# q181 — survivorship: golden-record construction per cluster
# ---------------------------------------------------------------------------

_Q181_ORACLE = f"""
WITH n AS (
  SELECT doc_id, lang, source, n_chars,
         array_to_string(string_split({_NORM_SQL}, ' ')[1:3], ' ')
           AS ckey
  FROM documents
), g AS (
  SELECT ckey,
         CAST(count(*) AS BIGINT) AS n_members,
         CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
         CAST(SUM(n_chars) AS BIGINT) AS total_chars,
         MIN(doc_id) AS cluster_id,
         MIN(source) AS source_min
  FROM n GROUP BY ckey HAVING count(*) >= 2
), donor AS (
  SELECT ckey, doc_id AS text_donor FROM (
    SELECT ckey, doc_id,
           row_number() OVER (PARTITION BY ckey
                              ORDER BY n_chars DESC, doc_id) AS rn
    FROM n) t WHERE rn = 1
), langm AS (
  SELECT ckey, lang AS lang_mode FROM (
    SELECT ckey, lang,
           row_number() OVER (PARTITION BY ckey
                              ORDER BY count(*) DESC, lang) AS rn
    FROM n GROUP BY ckey, lang) t WHERE rn = 1
)
SELECT g.cluster_id, g.ckey, g.n_members, g.n_sources,
       g.total_chars, d.text_donor, l.lang_mode, g.source_min
FROM g JOIN donor d USING (ckey) JOIN langm l USING (ckey)
"""


@register("q181_survivorship", _Q181_ORACLE)
def q181(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivorship / golden-record construction — the master-data
    step AFTER dedup finds clusters (q93/q96 decide keep/drop; this
    verb MERGES): within each entity cluster (here the 3-token
    normalized-prefix key — the same natural blocking key family as
    q134), each golden field follows its own survivorship rule:
    longest-text donor for the content (ties to the smallest id),
    modal language (ties lexicographic), lexicographically-first
    source, plus completeness metadata (member/source counts, total
    chars). Single-member clusters pass through unchanged and are
    filtered here to keep the output the interesting merge set.

    Scale: one groupBy for the cluster stats, one high-cardinality
    window for the donor (partition key = cluster key, no funnel),
    and a two-level count-then-rank for the mode — every shuffle
    carries (key, counters), never text. Adding a survivorship rule
    adds a counter or a rank, not a scan."""
    docs = load_table(spark, sf_dir, "documents")
    n = docs.select(
        "doc_id",
        "lang",
        "source",
        "n_chars",
        F.array_join(
            F.slice(F.split(normalize_text("text"), " "), 1, 3), " "
        ).alias("ckey"),
    )
    g = (
        n.groupBy("ckey")
        .agg(
            F.count("*").cast("long").alias("n_members"),
            F.countDistinct("source").cast("long").alias("n_sources"),
            F.sum("n_chars").cast("long").alias("total_chars"),
            F.min("doc_id").alias("cluster_id"),
            F.min("source").alias("source_min"),
        )
        .filter(F.col("n_members") >= 2)
    )
    donor = (
        n.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("ckey").orderBy(
                    F.desc("n_chars"), F.asc("doc_id")
                )
            ),
        )
        .filter(F.col("rn") == 1)
        .select("ckey", F.col("doc_id").alias("text_donor"))
    )
    langm = (
        n.groupBy("ckey", "lang")
        .agg(F.count("*").alias("_c"))
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("ckey").orderBy(
                    F.desc("_c"), F.asc("lang")
                )
            ),
        )
        .filter(F.col("rn") == 1)
        .select("ckey", F.col("lang").alias("lang_mode"))
    )
    return g.join(donor, "ckey").join(langm, "ckey").select(
        "cluster_id",
        "ckey",
        "n_members",
        "n_sources",
        "total_chars",
        "text_donor",
        "lang_mode",
        "source_min",
    )


# ---------------------------------------------------------------------------
# q182 — CUSUM changepoint surface over hourly event counts
# ---------------------------------------------------------------------------

_Q182_ORACLE = """
WITH h AS (
  SELECT event_type, date_trunc('hour', ts) AS hour,
         CAST(count(*) AS BIGINT) AS c
  FROM events GROUP BY event_type, date_trunc('hour', ts)
), t AS (
  SELECT event_type, CAST(SUM(c) AS BIGINT) AS s,
         CAST(count(*) AS BIGINT) AS n
  FROM h GROUP BY event_type
), d AS (
  SELECT h.event_type, h.hour, h.c, t.n * h.c - t.s AS dev
  FROM h JOIN t USING (event_type)
), p AS (
  SELECT event_type, hour, c, dev,
         SUM(dev) OVER (PARTITION BY event_type ORDER BY hour
                        ROWS UNBOUNDED PRECEDING) AS pref
  FROM d
), cu AS (
  SELECT event_type, hour, c, dev,
         pref - least(0, MIN(pref) OVER (PARTITION BY event_type
                   ORDER BY hour ROWS UNBOUNDED PRECEDING))
           AS cusum_pos,
         greatest(0, MAX(pref) OVER (PARTITION BY event_type
                   ORDER BY hour ROWS UNBOUNDED PRECEDING)) - pref
           AS cusum_neg
  FROM p
)
SELECT event_type, hour, c, dev,
       CAST(cusum_pos AS BIGINT) AS cusum_pos,
       CAST(cusum_neg AS BIGINT) AS cusum_neg,
       cusum_pos > 0 AND cusum_pos = MAX(cusum_pos)
         OVER (PARTITION BY event_type ORDER BY hour
               ROWS UNBOUNDED PRECEDING) AS is_peak
FROM cu
"""


@register("q182_cusum_changepoint", _Q182_ORACLE)
def q182(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint surface: per event type, the classic
    two-sided cumulative-sum statistic over hourly counts, kept EXACT
    by scaling deviations to integers (dev = n·c − S — deviation from
    the mean times n, so no division ever happens) and by the
    prefix-sum identity C⁺_t = P_t − min(0, min_{j≤t} P_j) /
    C⁻_t = max(0, max_{j≤t} P_j) − P_t, which turns the max(0, ·)
    RECURRENCE into two running-extreme windows (the q158/q160
    family). is_peak marks new positive-excursion records — the
    argmax of C⁺ is the standard changepoint estimate.

    Scale: the windows run over the hourly AGGREGATE (|hours|·|types|
    rows — bounded by the time span, not the event volume); the only
    corpus-sized operation is the first partial-combine count. A
    years-long 100 TB event stream still yields tens of thousands of
    window rows per type."""
    ev = load_table(spark, sf_dir, "events")
    h = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hour")
    ).agg(F.count("*").cast("long").alias("c"))
    t = h.groupBy("event_type").agg(
        F.sum("c").cast("long").alias("s"),
        F.count("*").cast("long").alias("n"),
    )
    d = h.join(F.broadcast(t), "event_type").withColumn(
        "dev", F.col("n") * F.col("c") - F.col("s")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("hour")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    p = d.withColumn("pref", F.sum("dev").over(w))
    cu = p.select(
        "event_type",
        "hour",
        "c",
        "dev",
        (
            F.col("pref") - F.least(F.lit(0), F.min("pref").over(w))
        ).alias("cusum_pos"),
        (
            F.greatest(F.lit(0), F.max("pref").over(w)) - F.col("pref")
        ).alias("cusum_neg"),
    )
    return cu.withColumn(
        "is_peak",
        (F.col("cusum_pos") > 0)
        & (F.col("cusum_pos") == F.max("cusum_pos").over(w)),
    )


# ---------------------------------------------------------------------------
# q183 — hour-of-day activity bitmaps + audience overlap
# ---------------------------------------------------------------------------

_Q183_ORACLE = """
WITH ub AS (
  SELECT user_id, event_type,
         CAST(SUM(DISTINCT 1::BIGINT << hour(ts)) AS BIGINT) AS bm
  FROM events GROUP BY user_id, event_type
), pairs AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b,
         bit_count(a.bm & b.bm) AS inter_bits,
         bit_count(a.bm | b.bm) AS union_bits
  FROM ub a JOIN ub b
    ON a.user_id = b.user_id AND a.event_type < b.event_type
)
SELECT type_a, type_b,
       CAST(count(*) AS BIGINT) AS n_both,
       CAST(SUM(CASE WHEN inter_bits > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_cohour,
       CAST(SUM(inter_bits) AS BIGINT) AS sum_inter_bits,
       CAST(SUM(union_bits) AS BIGINT) AS sum_union_bits,
       CAST(round(CAST(SUM(CAST(round((1000000.0 * inter_bits)
                                      / union_bits) AS BIGINT))
                       AS DOUBLE) / count(*)) AS BIGINT)
         AS mean_jacc_micro
FROM pairs GROUP BY type_a, type_b
"""


@register("q183_activity_bitmap", _Q183_ORACLE)
def q183(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitmap-index encoding of user activity: each (user, event
    type) collapses to a 24-bit hour-of-day bitmap — built portably
    as SUM(DISTINCT 1<<hour), which equals the bitwise OR because the
    summands are distinct powers of two — then audience overlap
    between event types is pure bit algebra per user (AND/OR +
    popcount), aggregated to co-activity metrics per type pair. The
    roaring-bitmap idea at the grain where it is exact and portable.

    Exactness: bitmaps, popcounts, and the co-hour counters are exact
    integers; the per-user hour-Jaccard is micro-rounded BEFORE the
    mean (sum of exact ints, one division, one round) so no float
    accumulates across rows.

    Scale: one partial-combine groupBy builds 8-byte bitmaps (the
    corpus collapses to |users|·|types| longs); the pair join is
    per-user and bounded by |types|² per user — no corpus-sized
    shuffle after the first aggregation. Wider spans (day-of-year)
    chunk into multiple longs the same way."""
    ev = load_table(spark, sf_dir, "events").withColumn(
        "hr", F.hour("ts")
    )
    ub = ev.groupBy("user_id", "event_type").agg(
        F.sum_distinct(F.expr("shiftleft(CAST(1 AS BIGINT), hr)"))
        .cast("long")
        .alias("bm")
    )
    a = ub.select(
        "user_id",
        F.col("event_type").alias("type_a"),
        F.col("bm").alias("bm_a"),
    )
    b = ub.select(
        "user_id",
        F.col("event_type").alias("type_b"),
        F.col("bm").alias("bm_b"),
    )
    pairs = (
        a.join(b, "user_id")
        .filter(F.col("type_a") < F.col("type_b"))
        .select(
            "type_a",
            "type_b",
            F.bit_count(
                F.col("bm_a").bitwiseAND(F.col("bm_b"))
            ).alias("inter_bits"),
            F.bit_count(
                F.col("bm_a").bitwiseOR(F.col("bm_b"))
            ).alias("union_bits"),
        )
    )
    jacc = F.round(
        (F.lit(1000000.0) * F.col("inter_bits")) / F.col("union_bits")
    ).cast("long")
    return (
        pairs.withColumn("jacc_micro", jacc)
        .groupBy("type_a", "type_b")
        .agg(
            F.count("*").cast("long").alias("n_both"),
            F.sum(F.when(F.col("inter_bits") > 0, 1).otherwise(0))
            .cast("long")
            .alias("n_cohour"),
            F.sum("inter_bits").cast("long").alias("sum_inter_bits"),
            F.sum("union_bits").cast("long").alias("sum_union_bits"),
            F.round(
                F.sum("jacc_micro").cast("double") / F.count("*")
            )
            .cast("long")
            .alias("mean_jacc_micro"),
        )
    )


# ---------------------------------------------------------------------------
# q184 — calibration curve (reliability diagram) for a quality score
# ---------------------------------------------------------------------------

_Q184_SCORE_SQL = (
    "(CAST(len(list_filter(string_split(text, ' '),"
    " t -> t IN ('the', 'a'))) AS DOUBLE)"
    " / len(string_split(text, ' ')))"
)

_Q184_ORACLE = f"""
WITH s AS (
  SELECT doc_id,
         least(CAST(floor({_Q184_SCORE_SQL} * 10) AS BIGINT), 9) AS bin,
         CAST(round(1000000.0 * {_Q184_SCORE_SQL}) AS BIGINT)
           AS score_micro,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
  FROM documents
)
SELECT bin,
       CAST(count(*) AS BIGINT) AS n,
       CAST(SUM(pos) AS BIGINT) AS n_pos,
       CAST(round(CAST(SUM(score_micro) AS DOUBLE) / count(*))
            AS BIGINT) AS mean_score_micro,
       CAST(round((1000000.0 * SUM(pos)) / count(*)) AS BIGINT)
         AS pos_rate_micro,
       abs(CAST(round(CAST(SUM(score_micro) AS DOUBLE) / count(*))
                AS BIGINT)
           - CAST(round((1000000.0 * SUM(pos)) / count(*)) AS BIGINT))
         AS gap_micro,
       count(*) * abs(CAST(round(CAST(SUM(score_micro) AS DOUBLE)
                                 / count(*)) AS BIGINT)
           - CAST(round((1000000.0 * SUM(pos)) / count(*)) AS BIGINT))
         AS weighted_gap
FROM s GROUP BY bin
"""


@register("q184_calibration_curve", _Q184_ORACLE)
def q184(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration curve (reliability diagram) for a classifier-style
    score: the stopword-ratio quality signal (q23's feature) treated
    as a probability that a document is English, binned into deciles;
    each bin emits predicted confidence (mean score) next to observed
    outcome rate (fraction actually 'en') and the |conf − acc| gap —
    the per-bin terms of Expected Calibration Error. The model-eval
    verb next to q173's ranking agreement: it tells a pipeline
    whether a quality/filter score can be thresholded at face value
    before gating a 100 TB corpus with it.

    Exactness: the score is ONE division of exact token counts;
    per-row micro-rounding happens before any aggregation, so bin
    sums are exact integers and each emitted statistic is one
    correctly-rounded division (the q183/q178 discipline). Bin edges
    use floor(score·10) — floor of a correctly-rounded product is
    unambiguous (the q39 quantization rule).

    Scale: one conditional aggregation to ≤10 bin rows; adding bins
    or a second score column adds counters, not scans."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n_stop = F.size(F.filter(toks, lambda t: t.isin("the", "a")))
    score = n_stop.cast("double") / F.size(toks)
    s = docs.select(
        F.least(F.floor(score * 10).cast("long"), F.lit(9)).alias(
            "bin"
        ),
        F.round(F.lit(1000000.0) * score).cast("long").alias(
            "score_micro"
        ),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("pos"),
    )
    agg = s.groupBy("bin").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("pos").cast("long").alias("n_pos"),
        F.round(F.sum("score_micro").cast("double") / F.count("*"))
        .cast("long")
        .alias("mean_score_micro"),
        F.round((F.lit(1000000.0) * F.sum("pos")) / F.count("*"))
        .cast("long")
        .alias("pos_rate_micro"),
    )
    gap = F.abs(F.col("mean_score_micro") - F.col("pos_rate_micro"))
    return agg.select(
        "bin",
        "n",
        "n_pos",
        "mean_score_micro",
        "pos_rate_micro",
        gap.alias("gap_micro"),
        (F.col("n") * gap).alias("weighted_gap"),
    )


# ---------------------------------------------------------------------------
# q185 — exact two-sample Kolmogorov–Smirnov drift test
# ---------------------------------------------------------------------------

_Q185_A = "click"
_Q185_B = "purchase"

_Q185_ORACLE = f"""
WITH e AS (
  SELECT event_type, CAST(round(value * 1000000) AS BIGINT) AS vm
  FROM events WHERE event_type IN ('{_Q185_A}', '{_Q185_B}')
), m AS (
  SELECT vm,
         CAST(SUM(CASE WHEN event_type = '{_Q185_A}'
                  THEN 1 ELSE 0 END) AS BIGINT) AS c1,
         CAST(SUM(CASE WHEN event_type = '{_Q185_B}'
                  THEN 1 ELSE 0 END) AS BIGINT) AS c2
  FROM e GROUP BY vm
), t AS (
  SELECT CAST(SUM(c1) AS BIGINT) AS n1, CAST(SUM(c2) AS BIGINT) AS n2
  FROM m
), c AS (
  SELECT vm,
         CAST(SUM(c1) OVER (ORDER BY vm ROWS UNBOUNDED PRECEDING)
              AS BIGINT) AS cc1,
         CAST(SUM(c2) OVER (ORDER BY vm ROWS UNBOUNDED PRECEDING)
              AS BIGINT) AS cc2
  FROM m
), d AS (
  SELECT vm, abs(t.n2 * c.cc1 - t.n1 * c.cc2) AS diff
  FROM c CROSS JOIN t
), mx AS (
  SELECT CAST(MAX(diff) AS BIGINT) AS d_scaled FROM d
)
SELECT t.n1, t.n2, mx.d_scaled,
       CAST(round(1000000.0 * (CAST(mx.d_scaled AS DOUBLE)
            / (CAST(t.n1 AS DOUBLE) * CAST(t.n2 AS DOUBLE))))
            AS BIGINT) AS ks_micro,
       (SELECT MIN(vm) FROM d WHERE d.diff = mx.d_scaled)
         AS at_val_micro
FROM t CROSS JOIN mx
"""


@register("q185_ks_drift", _Q185_ORACLE)
def q185(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT two-sample Kolmogorov–Smirnov statistic between two
    event-type value distributions — the distribution-drift verb next
    to q121's Bhattacharyya: where q121 integrates over the whole
    distribution, KS reports the single worst ECDF gap and WHERE it
    occurs (at_val_micro — the natural alert threshold). Everything
    is integer: with D = max|n2·F1 − n1·F2| over the merged support,
    the statistic is a max of exact products of counts; only the
    final normalization D/(n1·n2) is floating (one division,
    micro-rounded). n1·n2 stays under 2^53 up to ~9·10^7 rows per
    side; beyond that, pre-bin values (q102) and run the same
    algebra on the binned ECDF.

    Scale: per-value counts come from one partial-combine groupBy;
    the cumulative counts ride the repo's scalable prefix-sums (one
    range exchange, no single-task global window); the argmax is an
    aggregate plus a broadcast-filtered min — no sorted collect."""
    from ..operators.windows import scalable_prefix_sums

    ev = load_table(spark, sf_dir, "events")
    e = ev.filter(
        F.col("event_type").isin(_Q185_A, _Q185_B)
    ).select(
        "event_type",
        F.round(F.col("value") * 1000000).cast("long").alias("vm"),
    )
    m = e.groupBy("vm").agg(
        F.sum(F.when(F.col("event_type") == _Q185_A, 1).otherwise(0))
        .cast("long")
        .alias("c1"),
        F.sum(F.when(F.col("event_type") == _Q185_B, 1).otherwise(0))
        .cast("long")
        .alias("c2"),
    )
    # n1/n2 are the prefix kernel's driver-stats grand totals,
    # attached as literals (total_cols) — the separate m.agg subtree
    # re-ran the events scan + rollup in its own execution, plus a
    # 1-row broadcast cross, both gone
    cum = scalable_prefix_sums(
        m,
        ("vm",),
        val_cols=("c1", "c2"),
        total_cols={"c1": "n1", "c2": "n2"},
    )
    d = cum.select(
        "vm",
        "n1",
        "n2",
        F.abs(
            F.col("n2") * F.col("cum_c1")
            - F.col("n1") * F.col("cum_c2")
        ).alias("diff"),
    )
    mx = d.agg(F.max("diff").cast("long").alias("d_scaled"))
    return (
        d.join(F.broadcast(mx), F.col("diff") == F.col("d_scaled"))
        .groupBy("n1", "n2", "d_scaled")
        .agg(F.min("vm").alias("at_val_micro"))
        .select(
            "n1",
            "n2",
            "d_scaled",
            F.round(
                F.lit(1000000.0)
                * (
                    F.col("d_scaled").cast("double")
                    / (
                        F.col("n1").cast("double")
                        * F.col("n2").cast("double")
                    )
                )
            )
            .cast("long")
            .alias("ks_micro"),
            "at_val_micro",
        )
    )


# ---------------------------------------------------------------------------
# q186 — join-key skew histogram (power-of-two frequency buckets)
# ---------------------------------------------------------------------------

_Q186_MAX_EXP = 20


def _pow2_bucket_sql(col: str, max_exp: int = _Q186_MAX_EXP) -> str:
    """CASE ladder bucket = floor(log2(cnt)) from exact integer
    comparisons only — no log(), so bit-portable (generated from the
    same loop as the Spark expression)."""
    whens = "\n".join(
        f"    WHEN {col} < {1 << (k + 1)} THEN {k}"
        for k in range(max_exp)
    )
    return f"CASE\n{whens}\n    ELSE {max_exp} END"


def _pow2_bucket_col(col, max_exp: int = _Q186_MAX_EXP):
    expr = F.lit(max_exp)
    for k in reversed(range(max_exp)):
        expr = F.when(col < (1 << (k + 1)), F.lit(k)).otherwise(expr)
    return expr


_Q186_ORACLE = f"""
WITH k AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS cnt
  FROM events GROUP BY user_id
), tot AS (
  SELECT CAST(SUM(cnt) AS BIGINT) AS n_total FROM k
), b AS (
  SELECT CAST({_pow2_bucket_sql('cnt')} AS BIGINT) AS bucket_exp,
         CAST(count(*) AS BIGINT) AS n_keys,
         CAST(SUM(cnt) AS BIGINT) AS n_rows,
         CAST(MAX(cnt) AS BIGINT) AS max_cnt
  FROM k GROUP BY bucket_exp
)
SELECT b.bucket_exp, b.n_keys, b.n_rows, b.max_cnt,
       CAST(round((1000000.0 * b.n_rows) / t.n_total) AS BIGINT)
         AS pct_rows_micro
FROM b CROSS JOIN tot t
"""


@register("q186_join_skew_histogram", _Q186_ORACLE)
def q186(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew histogram — the diagnostic that decides BEFORE a
    100 TB join whether the plain hash join is safe or the salted
    path (q57/q85) / AQE skew handling is needed: key frequencies
    bucketed by floor(log2) into power-of-two classes, each bucket
    reporting how many keys, how many rows, the worst key, and the
    row share. A heavy tail concentrated in high buckets = salt or
    broadcast; a flat histogram = shuffle freely. The log2 comes from
    an exact-integer CASE ladder (generated by the same loop in both
    engines), not log() — the q121 no-libm rule.

    Scale: ONE partial-combine count per key, then a ≤21-row
    aggregation; nothing after the first groupBy is corpus-sized.
    This is the profile-before-join verb sitting next to q149's join
    cardinality estimate and q76's column profile."""
    ev = load_table(spark, sf_dir, "events")
    k = ev.groupBy("user_id").agg(
        F.count("*").cast("long").alias("cnt")
    )
    tot = k.agg(F.sum("cnt").cast("long").alias("n_total"))
    b = k.groupBy(
        _pow2_bucket_col(F.col("cnt")).cast("long").alias("bucket_exp")
    ).agg(
        F.count("*").cast("long").alias("n_keys"),
        F.sum("cnt").cast("long").alias("n_rows"),
        F.max("cnt").cast("long").alias("max_cnt"),
    )
    return b.crossJoin(F.broadcast(tot)).select(
        "bucket_exp",
        "n_keys",
        "n_rows",
        "max_cnt",
        F.round((F.lit(1000000.0) * F.col("n_rows")) / F.col("n_total"))
        .cast("long")
        .alias("pct_rows_micro"),
    )


# ---------------------------------------------------------------------------
# q187 — sequence-anomaly scoring via the transition matrix
# ---------------------------------------------------------------------------

_Q187_ORACLE = """
WITH seq AS (
  SELECT user_id, event_type, ts, event_id,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev_type
  FROM events
), tr AS (
  SELECT user_id, prev_type AS a, event_type AS b FROM seq
  WHERE prev_type IS NOT NULL
), cab AS (
  SELECT a, b, CAST(count(*) AS BIGINT) AS c_ab FROM tr GROUP BY a, b
), ca AS (
  SELECT a, CAST(SUM(c_ab) AS BIGINT) AS c_a FROM cab GROUP BY a
), probs AS (
  SELECT cab.a, cab.b,
         CAST(round((1000000.0 * cab.c_ab) / ca.c_a) AS BIGINT)
           AS prob_micro
  FROM cab JOIN ca USING (a)
), scored AS (
  SELECT tr.user_id, tr.a, tr.b, p.prob_micro,
         row_number() OVER (PARTITION BY tr.user_id
                            ORDER BY p.prob_micro, tr.a, tr.b) AS rn,
         count(*) OVER (PARTITION BY tr.user_id) AS n_trans
  FROM tr JOIN probs p ON p.a = tr.a AND p.b = tr.b
)
SELECT user_id, CAST(n_trans AS BIGINT) AS n_trans,
       prob_micro AS min_prob_micro,
       a AS worst_from, b AS worst_to
FROM scored WHERE rn = 1
"""


@register("q187_sequence_anomaly", _Q187_ORACLE)
def q187(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-anomaly scoring: the corpus-wide first-order
    transition matrix (q144's artifact) turned into a per-user
    anomaly surface — each user's rarest observed transition (lowest
    transition probability, ties broken lexicographically) plus their
    transition count. The argmin transition is the explainable alert:
    'this session did X→Y, which the corpus almost never does'.
    Likelihood products need log() (not portable — q121 rule), but
    the MIN over micro-rounded per-transition probabilities is exact
    order statistics, which is what an anomaly triage actually ranks
    by.

    Scale: transitions come from a lag window partitioned by the
    high-cardinality user key; the transition matrix is |types|²
    rows, broadcast back; the per-user argmin is one groupBy-rank on
    (user, prob) — shuffle carries 3 small columns. The corpus is
    scanned once."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    tr = (
        ev.withColumn("a", F.lag("event_type").over(w))
        .filter(F.col("a").isNotNull())
        .select("user_id", "a", F.col("event_type").alias("b"))
    )
    cab = tr.groupBy("a", "b").agg(
        F.count("*").cast("long").alias("c_ab")
    )
    ca = cab.groupBy("a").agg(F.sum("c_ab").cast("long").alias("c_a"))
    probs = cab.join(ca, "a").select(
        "a",
        "b",
        F.round((F.lit(1000000.0) * F.col("c_ab")) / F.col("c_a"))
        .cast("long")
        .alias("prob_micro"),
    )
    scored = tr.join(F.broadcast(probs), ["a", "b"])
    wu = Window.partitionBy("user_id").orderBy(
        "prob_micro", "a", "b"
    )
    return (
        scored.withColumn("rn", F.row_number().over(wu))
        .withColumn(
            "n_trans",
            F.count("*").over(Window.partitionBy("user_id")),
        )
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("n_trans").cast("long").alias("n_trans"),
            F.col("prob_micro").alias("min_prob_micro"),
            F.col("a").alias("worst_from"),
            F.col("b").alias("worst_to"),
        )
    )


# ---------------------------------------------------------------------------
# q188 — memorization audit: longest verbatim shingle run vs train
# ---------------------------------------------------------------------------


def _q188_oracle() -> str:
    from .corpus_queries import _split_case_sql

    return f"""
WITH labeled AS (
  SELECT doc_id, text, {_split_case_sql()} AS split FROM documents
), toks AS (
  SELECT doc_id, split, string_split({_NORM_SQL}, ' ') AS tk
  FROM labeled
), sh AS (
  SELECT doc_id, split, i AS pos,
         array_to_string(tk[i:i+2], ' ') AS shingle
  FROM toks, unnest(generate_series(1, greatest(len(tk) - 2, 1)))
       AS u(i)
), train_sh AS (
  SELECT DISTINCT shingle FROM sh WHERE split <> 'test'
), test_sh AS (
  SELECT doc_id, pos, shingle FROM sh WHERE split = 'test'
), totals AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles
  FROM test_sh GROUP BY doc_id
), hits AS (
  SELECT t.doc_id, t.pos FROM test_sh t
  JOIN train_sh USING (shingle)
), runs AS (
  SELECT doc_id, pos,
         pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos)
           AS grp
  FROM hits
), runlen AS (
  SELECT doc_id, CAST(MAX(rl) AS BIGINT) AS max_run,
         CAST(SUM(rl) AS BIGINT) AS n_hits
  FROM (SELECT doc_id, grp, count(*) AS rl
        FROM runs GROUP BY doc_id, grp) g
  GROUP BY doc_id
)
SELECT t.doc_id, t.n_shingles,
       coalesce(r.n_hits, 0) AS n_hits,
       coalesce(r.max_run, 0) AS max_run,
       coalesce(r.max_run, 0) + 2 >= 8 AS flagged
FROM totals t LEFT JOIN runlen r USING (doc_id)
"""


@register("q188_memorization_runs", _q188_oracle())
def q188(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memorization / attribution audit (the Lee et al. 2022 /
    Carlini memorization-check shape): for every held-out (test)
    document, the LONGEST CONTIGUOUS RUN of 3-token shingles that
    appear anywhere in the train+val corpus — a max run of r shingles
    means a verbatim overlap of r+2 tokens, and docs whose longest
    run reaches 8 tokens are flagged as likely memorized/contaminated
    spans. Extends q51 (shingle overlap RATE) with POSITIONAL
    structure: rate says 'how much overlaps', runs say 'is it one
    long verbatim passage' — the signal that distinguishes
    memorization from shared vocabulary.

    The run length is the classic gaps-and-islands identity (pos −
    row_number over hit positions is constant within a consecutive
    run — the q99/q170 family), all exact integers.

    Scale: membership is an equi-join on the shingle key (the
    posting-join shape, q51); the islands window partitions on the
    high-cardinality doc key. Nothing is quadratic; the run algebra
    touches only matched positions."""
    from ..operators.sampling import hash_split

    docs = hash_split(
        load_table(spark, sf_dir, "documents"),
        {"train": 0.8, "val": 0.1, "test": 0.1},
    )
    # `tk` must be a MATERIALIZED column before the transform lambda
    # references it: a raw expression inside the lambda body is
    # re-evaluated per sequence element (the split+regex ran O(L)
    # times per doc → O(L²) per doc; 7× the whole explosion at sf0.1).
    sh = docs.withColumn(
        "tk", F.split(normalize_text("text"), " ")
    ).select(
        "doc_id",
        "split",
        F.posexplode(
            F.transform(
                F.sequence(
                    F.lit(1),
                    F.greatest(F.size("tk") - 2, F.lit(1)),
                ),
                lambda i: F.array_join(F.slice("tk", i, 3), " "),
            )
        ).alias("pos0", "shingle"),
    ).select(
        "doc_id",
        "split",
        (F.col("pos0") + 1).alias("pos"),
        "shingle",
    )
    train_sh = (
        sh.filter(F.col("split") != "test")
        .select("shingle")
        .distinct()
    )
    test_sh = sh.filter(F.col("split") == "test").select(
        "doc_id", "pos", "shingle"
    )
    totals = test_sh.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_shingles")
    )
    hits = test_sh.join(train_sh, "shingle").select("doc_id", "pos")
    wd = Window.partitionBy("doc_id").orderBy("pos")
    runs = hits.withColumn(
        "grp", F.col("pos") - F.row_number().over(wd)
    )
    runlen = (
        runs.groupBy("doc_id", "grp")
        .agg(F.count("*").alias("rl"))
        .groupBy("doc_id")
        .agg(
            F.max("rl").cast("long").alias("max_run"),
            F.sum("rl").cast("long").alias("n_hits"),
        )
    )
    return totals.join(runlen, "doc_id", "left").select(
        "doc_id",
        "n_shingles",
        F.coalesce("n_hits", F.lit(0)).cast("long").alias("n_hits"),
        F.coalesce("max_run", F.lit(0)).cast("long").alias("max_run"),
        (F.coalesce("max_run", F.lit(0)) + 2 >= 8).alias("flagged"),
    )


# ---------------------------------------------------------------------------
# q189 — exact ROC-AUC per source (Mann–Whitney U from grouped counts)
# ---------------------------------------------------------------------------

_Q189_ORACLE = f"""
WITH s AS (
  SELECT source,
         CAST(round(1000000.0 * {_Q184_SCORE_SQL}) AS BIGINT) AS vm,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
  FROM documents
), g AS (
  SELECT source, vm,
         CAST(SUM(pos) AS BIGINT) AS c_pos,
         CAST(SUM(1 - pos) AS BIGINT) AS c_neg
  FROM s GROUP BY source, vm
), c AS (
  SELECT source, vm, c_pos, c_neg,
         CAST(coalesce(SUM(c_neg) OVER (
             PARTITION BY source ORDER BY vm
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS BIGINT) AS neg_below
  FROM g
), u AS (
  SELECT source,
         CAST(SUM(c_pos * (2 * neg_below + c_neg)) AS BIGINT) AS u2,
         CAST(SUM(c_pos) AS BIGINT) AS n_pos,
         CAST(SUM(c_neg) AS BIGINT) AS n_neg
  FROM c GROUP BY source
)
SELECT source, n_pos, n_neg, u2,
       CAST(round((1000000.0 * u2) / (2.0 * n_pos * n_neg)) AS BIGINT)
         AS auc_micro
FROM u WHERE n_pos > 0 AND n_neg > 0
"""


@register("q189_exact_auc", _Q189_ORACLE)
def q189(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC-AUC of the q184 quality score as an is-English
    classifier, per source — the threshold-free companion to q184's
    calibration curve: AUC = P(score_pos > score_neg) + ties/2, i.e.
    the Mann–Whitney U statistic normalized by n_pos·n_neg. The
    integer identity avoids midrank fractions: over distinct score
    values v (ascending), 2·U = Σ_v c_pos(v)·(2·negatives_below(v) +
    c_neg(v)) — every term exact, so auc_micro is ONE correctly-
    rounded division of exact integers (the q64/q185 construction).

    Scale: the corpus collapses to (source, score) grouped counts in
    one partial-combined aggregate; the negatives-below prefix rides
    scalable_prefix_sums over the global (source, vm) order (the
    low-cardinality source never becomes a window partition — q153's
    offset trick subtracts per-source totals broadcast back); the U
    reduction is a second small aggregate. Two shuffles of grouped
    counts, nothing corpus-sized after the first groupBy."""
    from ..operators.windows import scalable_prefix_sums

    docs = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n_stop = F.size(F.filter(toks, lambda t: t.isin("the", "a")))
    score = n_stop.cast("double") / F.size(toks)
    s = docs.select(
        "source",
        F.round(F.lit(1000000.0) * score).cast("long").alias("vm"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("pos"),
    )
    g = s.groupBy("source", "vm").agg(
        F.sum("pos").cast("long").alias("c_pos"),
        F.sum(F.lit(1) - F.col("pos")).cast("long").alias("c_neg"),
    )
    cum = scalable_prefix_sums(
        g, ("source", "vm"), val_cols=("c_neg",), pin=True
    )  # two consumers: the per-source totals and the U terms
    w = Window.orderBy("source").rowsBetween(
        Window.unboundedPreceding, -1
    )  # |sources| rows — metadata-sized
    offs = (
        cum.groupBy("source")
        .agg(
            F.sum("c_pos").cast("long").alias("n_pos"),
            F.sum("c_neg").cast("long").alias("n_neg"),
        )
        .select(
            "source",
            "n_pos",
            "n_neg",
            F.coalesce(F.sum("n_neg").over(w), F.lit(0)).alias("soff"),
        )
    )
    term = cum.join(
        F.broadcast(offs.select("source", "soff")), "source"
    ).select(
        "source",
        (
            F.col("c_pos")
            * (
                F.lit(2)
                * (F.col("cum_c_neg") - F.col("c_neg") - F.col("soff"))
                + F.col("c_neg")
            )
        ).alias("t"),
    )
    u = term.groupBy("source").agg(
        F.sum("t").cast("long").alias("u2")
    )
    return (
        u.join(F.broadcast(offs.drop("soff")), "source")
        .filter((F.col("n_pos") > 0) & (F.col("n_neg") > 0))
        .select(
            "source",
            "n_pos",
            "n_neg",
            "u2",
            F.round(
                (F.lit(1000000.0) * F.col("u2"))
                / (F.lit(2.0) * F.col("n_pos") * F.col("n_neg"))
            )
            .cast("long")
            .alias("auc_micro"),
        )
    )


# ---------------------------------------------------------------------------
# q190 — split-conformal threshold gate with held-out coverage audit
# ---------------------------------------------------------------------------

_Q190_ALPHAS = (80, 90, 95)


def _q190_oracle() -> str:
    from .corpus_queries import _split_case_sql

    alphas = ", ".join(str(a) for a in _Q190_ALPHAS)
    return f"""
WITH labeled AS (
  SELECT CAST(round(1000000.0 * {_Q184_SCORE_SQL}) AS BIGINT) AS vm,
         {_split_case_sql()} AS split
  FROM documents
), cal AS (
  SELECT vm, CAST(count(*) AS BIGINT) AS cnt FROM labeled
  WHERE split <> 'test' GROUP BY vm
), ncal AS (
  SELECT CAST(SUM(cnt) AS BIGINT) AS n_cal FROM cal
), cum AS (
  SELECT vm, CAST(SUM(cnt) OVER (ORDER BY vm ROWS UNBOUNDED PRECEDING)
                  AS BIGINT) AS cc
  FROM cal
), alphas AS (
  SELECT CAST(unnest([{alphas}]) AS BIGINT) AS alpha_pct
), ks AS (
  SELECT alpha_pct, n_cal,
         (alpha_pct * (n_cal + 1) + 99) // 100 AS k
  FROM alphas CROSS JOIN ncal
), th AS (
  SELECT alpha_pct, n_cal, k,
         (SELECT MIN(vm) FROM cum WHERE cum.cc >= ks.k) AS t_micro
  FROM ks
), test AS (
  SELECT vm, CAST(count(*) AS BIGINT) AS cnt FROM labeled
  WHERE split = 'test' GROUP BY vm
), cov AS (
  SELECT th.alpha_pct,
         CAST(coalesce(SUM(test.cnt), 0) AS BIGINT) AS n_covered
  FROM th LEFT JOIN test ON test.vm <= th.t_micro
  GROUP BY th.alpha_pct
), ntest AS (
  SELECT CAST(SUM(cnt) AS BIGINT) AS n_test FROM test
)
SELECT th.alpha_pct, th.n_cal, CAST(th.k AS BIGINT) AS k, th.t_micro,
       ntest.n_test, cov.n_covered,
       CAST(round((1000000.0 * cov.n_covered) / ntest.n_test) AS BIGINT)
         AS coverage_micro
FROM th JOIN cov USING (alpha_pct) CROSS JOIN ntest
"""


@register("q190_conformal_gate", _q190_oracle())
def q190(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal threshold calibration with a held-out coverage
    audit — the distribution-free way to turn the q184 quality score
    into a gate with a guaranteed pass rate: on the calibration split
    (train+val), the alpha-level threshold is the k-th smallest score
    with k = ceil(alpha·(n_cal+1)/100) (the conformal finite-sample
    correction); the test split then reports its ACHIEVED coverage
    next to the nominal level. Exchangeability gives
    E[coverage] >= alpha — the audit shows it holding on data.

    Exactness: thresholds are order statistics read from exact
    integer cumulative counts (min vm with cum >= k); k uses integer
    ceiling division; coverage is one micro-rounded division.

    Scale: both splits collapse to (score → count) grouped frames in
    one pass each; the calibration prefix sum runs over the grouped
    frame (value-domain-sized, not corpus-sized); the 3-row alpha
    frame broadcast-nested-loop joins for the threshold and coverage
    reads. No corpus-sized shuffle after the first groupBy."""
    from ..operators.sampling import hash_split
    from ..operators.windows import scalable_prefix_sums

    docs = hash_split(
        load_table(spark, sf_dir, "documents"),
        {"train": 0.8, "val": 0.1, "test": 0.1},
    )
    toks = F.split("text", " ")
    n_stop = F.size(F.filter(toks, lambda t: t.isin("the", "a")))
    score = n_stop.cast("double") / F.size(toks)
    labeled = docs.select(
        F.round(F.lit(1000000.0) * score).cast("long").alias("vm"),
        "split",
    )
    # ONE corpus pass serves both splits: group by (vm, is_test) and
    # split the value-domain-sized grouped frame afterwards — the old
    # shape ran the scan + tokenize + score subtree once for the
    # calibration rollup and once for the test rollup. For a fixed vm
    # each is_test bucket is one group, so the filtered selects are
    # already per-vm unique. Pinned eagerly: cal feeds the prefix-sums
    # kernel (its own driver jobs) and test feeds two consumers.
    g = (
        labeled.groupBy(
            "vm", (F.col("split") == "test").alias("is_test")
        )
        .agg(F.count("*").cast("long").alias("cnt"))
        .transform(_pin)
    )
    cal = g.filter(~F.col("is_test")).select("vm", "cnt")
    cum = scalable_prefix_sums(cal, ("vm",), val_cols=("cnt",), pin=True)
    ncal = cum.agg(F.sum("cnt").cast("long").alias("n_cal"))
    alphas = F.explode(
        F.array(*[F.lit(a).cast("long") for a in _Q190_ALPHAS])
    ).alias("alpha_pct")
    ks = ncal.select(alphas, "n_cal").withColumn(
        "k",
        F.floor(
            (F.col("alpha_pct") * (F.col("n_cal") + 1) + 99) / 100
        ).cast("long"),
    )
    th = (
        cum.crossJoin(F.broadcast(ks))
        .filter(F.col("cum_cnt") >= F.col("k"))
        .groupBy("alpha_pct", "n_cal", "k")
        .agg(F.min("vm").alias("t_micro"))
    )
    test = g.filter(F.col("is_test")).select("vm", "cnt")
    ntest = test.agg(F.sum("cnt").cast("long").alias("n_test"))
    cov = (
        test.crossJoin(F.broadcast(th))
        .filter(F.col("vm") <= F.col("t_micro"))
        .groupBy("alpha_pct")
        .agg(F.sum("cnt").cast("long").alias("n_covered"))
    )
    return (
        th.join(cov, "alpha_pct", "left")
        .crossJoin(F.broadcast(ntest))
        .select(
            "alpha_pct",
            "n_cal",
            "k",
            "t_micro",
            "n_test",
            F.coalesce("n_covered", F.lit(0))
            .cast("long")
            .alias("n_covered"),
            F.round(
                (F.lit(1000000.0) * F.coalesce("n_covered", F.lit(0)))
                / F.col("n_test")
            )
            .cast("long")
            .alias("coverage_micro"),
        )
    )


# ---------------------------------------------------------------------------
# q191 — DBSCAN-style density clustering over embeddings (cell-bounded)
# ---------------------------------------------------------------------------

_Q191_EPS_PICO = 300_000_000_000  # cosine >= 0.30
_Q191_MINPTS = 2  # neighbors excluding self


def _q191_oracle() -> str:
    from ..operators.similarity import _hyperplanes

    cents = _hyperplanes(16, 64, seed=0xC0DE)
    values = ",\n    ".join(
        f"({i}, [{', '.join(repr(x) for x in c)}]::DOUBLE[])"
        for i, c in enumerate(cents)
    )
    return f"""
WITH RECURSIVE cents(ci, c) AS (VALUES
    {values}
), e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v,
         list_transform(embedding::DOUBLE[],
                        x -> floor(x * 4096.0)) AS q
  FROM embeddings
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
  SELECT e.vec_id, a.cell, e.q,
         sqrt(list_dot_product(e.q, e.q)) AS nq
  FROM e JOIN assigned a USING (vec_id)
), adj AS (
  SELECT a.vec_id AS ia, b.vec_id AS ib
  FROM cellv a JOIN cellv b
    ON a.cell = b.cell AND a.vec_id <> b.vec_id
  WHERE CAST(round(1000000000000.0
            * (list_dot_product(a.q, b.q) / (a.nq * b.nq)))
        AS BIGINT) >= {_Q191_EPS_PICO}
), nb AS (
  SELECT ia AS vec_id, CAST(count(*) AS BIGINT) AS n_nb
  FROM adj GROUP BY ia
), core AS (
  SELECT vec_id FROM nb WHERE n_nb >= {_Q191_MINPTS}
), cedges AS (
  SELECT ia AS a, ib AS b FROM adj
  JOIN core ca ON adj.ia = ca.vec_id
  JOIN core cb ON adj.ib = cb.vec_id
), reach AS (
  SELECT a AS id, a AS r FROM cedges
  UNION
  SELECT e.a AS id, r.r AS r FROM cedges e JOIN reach r ON e.b = r.id
), comp AS (
  SELECT id, min(r) AS cluster_id FROM reach GROUP BY id
), corelab AS (
  SELECT c.vec_id, COALESCE(p.cluster_id, c.vec_id) AS cluster_id
  FROM core c LEFT JOIN comp p ON c.vec_id = p.id
), borderlab AS (
  SELECT adj.ia AS vec_id, MIN(cl.cluster_id) AS cluster_id
  FROM adj JOIN corelab cl ON adj.ib = cl.vec_id
  WHERE adj.ia NOT IN (SELECT vec_id FROM core)
  GROUP BY adj.ia
)
SELECT a.vec_id, CAST(a.cell AS INTEGER) AS cell,
       COALESCE(nb.n_nb, 0) AS n_neighbors,
       CASE WHEN cl.vec_id IS NOT NULL THEN 'core'
            WHEN bl.vec_id IS NOT NULL THEN 'border'
            ELSE 'noise' END AS role,
       COALESCE(cl.cluster_id, bl.cluster_id) AS cluster_id
FROM assigned a
LEFT JOIN nb USING (vec_id)
LEFT JOIN corelab cl ON a.vec_id = cl.vec_id
LEFT JOIN borderlab bl ON a.vec_id = bl.vec_id
"""


@register("q191_dbscan_embeddings", _q191_oracle())
def q191(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DBSCAN-style density clustering over the embedding corpus,
    cell-bounded: neighbors are same-codebook-cell vectors at cosine
    >= 0.30 (the SemDeDup bounding — the q114 cell assignment reused
    verbatim), a vector is CORE with >= 2 neighbors, clusters are the
    connected components of the core-core adjacency, BORDER vectors
    attach to the minimum adjacent core cluster, and everything else
    is NOISE. One row per vector with (cell, n_neighbors, role,
    cluster_id) — the density-clustering verdict a curriculum/mixture
    builder consumes, next to q114's near-dup verdict and q55's
    dedup clusters.

    Exactness: pair cosines run on floor(x·4096) integer vectors
    (exact dot/norm in any order — the q177 rule); the eps compare is
    on the micro-rounded pico integer; roles and cluster ids are set
    algebra + the min-id components both engines compute identically.

    Scale: adjacency never leaves a cell (~N/|cells| rows each with a
    ~sqrt(N)-cell codebook) and is scored by a BLOCKED per-cell Arrow
    matmul (1024-row slabs bound memory on hot cells; the interpreted
    per-pair fold was 10× slower); the CC runs on core-core edges only
    (star contraction, O(log d) rounds, driver union-find under the
    small-graph bound); border attachment is one broadcast-joinable
    aggregate over the adjacency. The corpus-sized frames are scanned,
    never self-joined globally."""
    from ..operators.graph import connected_components
    from ..operators.similarity import _as_double, _hyperplanes, _probe_udf, dot

    emb = load_table(spark, sf_dir, "embeddings")
    cents = _hyperplanes(16, 64, seed=0xC0DE)
    vq = F.transform(
        F.col("v"), lambda x: F.floor(x * F.lit(4096.0))
    )
    assigned = (
        emb.select(
            "vec_id", _as_double("embedding").alias("v")
        )
        .withColumn("cell", F.element_at(_probe_udf(cents, 1)("v"), 1))
        .withColumn("q", vq)
        .withColumn("nq", F.sqrt(dot(F.col("q"), F.col("q"))))
        .select("vec_id", "cell", "q", "nq")
        .transform(_pin)  # consumers: both adjacency sides + verdict base
    )
    # Per-cell Arrow matmul instead of a pair join + per-pair fold:
    # the quantized inputs make the pico chain exact in any summation
    # order (the q177 rule), so the whole cell scores in one blocked
    # Q·Qᵀ — measured 4.2 s → ~0.4 s for the adjacency stage at sf0.1
    # versus the interpreted zip_with fold. Row blocks of 1024 bound
    # the in-memory slab at block × |cell| picos, so a hot cell
    # streams instead of materializing its full pair matrix.
    import numpy as np
    import pandas as pd

    def cell_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        n_rows = len(pdf)
        if n_rows < 2:
            return pd.DataFrame({"ia": [], "ib": []}, dtype="int64")
        order = np.argsort(pdf["vec_id"].to_numpy())
        ids = pdf["vec_id"].to_numpy(dtype=np.int64)[order]
        M = np.stack(pdf["q"].to_numpy()[order]).astype(
            np.float64, copy=False
        )
        nq = pdf["nq"].to_numpy(dtype=np.float64)[order]
        out_a, out_b = [], []
        for lo in range(0, n_rows, 1024):
            hi = min(lo + 1024, n_rows)
            pico = round_half_away(
                1e12
                * ((M[lo:hi] @ M.T) / (nq[lo:hi, None] * nq[None, :]))
            )
            ii, jj = np.nonzero(pico >= _Q191_EPS_PICO)
            keep = (ii + lo) < jj  # each unordered pair once
            out_a.append(ids[ii[keep] + lo])
            out_b.append(ids[jj[keep]])
        return pd.DataFrame(
            {
                "ia": np.concatenate(out_a) if out_a else [],
                "ib": np.concatenate(out_b) if out_b else [],
            },
            dtype="int64",
        )

    half = (
        assigned.groupBy("cell")
        .applyInPandas(cell_pairs, schema="ia long, ib long")
        .transform(_pin)  # pin BEFORE mirroring — the union's two
        # branches would otherwise each re-run the cell matmul
    )
    adj = half.unionByName(
        half.select(F.col("ib").alias("ia"), F.col("ia").alias("ib"))
    )
    nb = adj.groupBy(F.col("ia").alias("vec_id")).agg(
        F.count("*").cast("long").alias("n_nb")
    )
    core = nb.filter(F.col("n_nb") >= _Q191_MINPTS).select("vec_id")
    cedges = (
        adj.join(core.withColumnRenamed("vec_id", "ia"), "ia", "leftsemi")
        .join(core.withColumnRenamed("vec_id", "ib"), "ib", "leftsemi")
    )
    comp = connected_components(cedges, "ia", "ib")
    corelab = core.join(
        comp.withColumnRenamed("id", "vec_id"), "vec_id", "left"
    ).select(
        "vec_id",
        F.coalesce("cluster_id", "vec_id").alias("cluster_id"),
    )
    borderlab = (
        adj.join(core.withColumnRenamed("vec_id", "ia"), "ia", "leftanti")
        .join(
            corelab.select(
                F.col("vec_id").alias("ib"),
                F.col("cluster_id").alias("cl"),
            ),
            "ib",
        )
        .groupBy(F.col("ia").alias("vec_id"))
        .agg(F.min("cl").alias("cluster_id"))
    )
    return (
        assigned.select("vec_id", F.col("cell").cast("int").alias("cell"))
        .join(nb, "vec_id", "left")
        .join(
            corelab.withColumnRenamed("cluster_id", "core_cl").withColumn(
                "is_core", F.lit(True)
            ),
            "vec_id",
            "left",
        )
        .join(
            borderlab.withColumnRenamed("cluster_id", "border_cl"),
            "vec_id",
            "left",
        )
        .select(
            "vec_id",
            "cell",
            F.coalesce("n_nb", F.lit(0)).cast("long").alias("n_neighbors"),
            F.when(F.col("is_core"), "core")
            .when(F.col("border_cl").isNotNull(), "border")
            .otherwise("noise")
            .alias("role"),
            F.coalesce("core_cl", "border_cl").alias("cluster_id"),
        )
    )


# ---------------------------------------------------------------------------
# q192 — local clustering coefficient on the item co-interaction graph
# ---------------------------------------------------------------------------

_Q192_ORACLE = """
WITH ui AS (
  SELECT DISTINCT user_id, CAST(props->>'$.k' AS BIGINT) AS item FROM events
), co AS (
  SELECT a.item AS ia, b.item AS ib, count(*) AS nu
  FROM ui a JOIN ui b ON a.user_id = b.user_id AND a.item < b.item
  GROUP BY 1, 2
), e AS (
  SELECT ia AS a, ib AS b FROM co WHERE nu >= 40
), deg AS (
  SELECT node, CAST(count(*) AS BIGINT) AS degree FROM (
    SELECT a AS node FROM e UNION ALL SELECT b AS node FROM e
  ) GROUP BY node
), w AS (
  SELECT e1.a AS a, e1.b AS b, e2.b AS c
  FROM e e1 JOIN e e2 ON e1.b = e2.a
), tri AS (
  SELECT node, CAST(count(*) AS BIGINT) AS n_triangles
  FROM (
    SELECT unnest([w.a, w.b, w.c]) AS node
    FROM w JOIN e e3 ON w.a = e3.a AND w.c = e3.b
  )
  GROUP BY node
)
SELECT deg.node, deg.degree,
       COALESCE(tri.n_triangles, 0) AS n_triangles,
       CASE WHEN deg.degree >= 2
            THEN CAST(round((2000000.0 * COALESCE(tri.n_triangles, 0))
                 / (deg.degree * (deg.degree - 1))) AS BIGINT)
            ELSE 0 END AS lcc_micro
FROM deg LEFT JOIN tri USING (node)
"""


@register("q192_clustering_coefficient", _Q192_ORACLE)
def q192(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient per vertex of q135's item
    co-interaction graph: lcc(v) = 2·T(v) / (deg(v)·(deg(v)−1)) —
    the neighborhood-density metric that separates hub items (high
    degree, low closure) from community items (high closure), the
    standard companion to triangle counts in graph-quality audits.
    Emits (node, degree, n_triangles, lcc_micro); degree-1 vertices
    report 0 by convention.

    Exactness: degrees and triangle counts are exact integers (the
    q135 orientation — each triangle once via a<b<c); lcc_micro is
    ONE correctly-rounded division of exact integers.

    Scale: reuses q135's edge construction (per-user pair explode,
    never an item×item product) and wedge join; the degree frame is
    one unpivoted count. The wedge self-join is the bounded step —
    edges survive only with >= 40 shared users, so the graph is
    dimension-sized, and the join carries (long, long) keys."""
    from ..operators.graph import triangle_counts

    ev = load_table(spark, sf_dir, "events")
    # pinned: ui feeds both sides of the co-interaction self-join
    # (the q135 posture)
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
        .transform(_pin)  # consumers: degrees + the wedge join (×3 scans)
    )
    deg = (
        co.select(F.col("src").alias("node"))
        .unionByName(co.select(F.col("dst").alias("node")))
        .groupBy("node")
        .agg(F.count("*").cast("long").alias("degree"))
    )
    tri = triangle_counts(co).withColumnRenamed("n_triangles", "t")
    return (
        deg.join(tri.withColumnRenamed("node", "n2"),
                 deg.node == F.col("n2"), "left")
        .select(
            "node",
            "degree",
            F.coalesce("t", F.lit(0)).cast("long").alias("n_triangles"),
            F.when(
                F.col("degree") >= 2,
                F.round(
                    (F.lit(2000000.0) * F.coalesce("t", F.lit(0)))
                    / (F.col("degree") * (F.col("degree") - 1))
                ).cast("long"),
            )
            .otherwise(0)
            .alias("lcc_micro"),
        )
    )


# ---------------------------------------------------------------------------
# q193 — random-projection (JL) sketch with exact distortion audit
# ---------------------------------------------------------------------------

_Q193_K = 16
_Q193_HSCALE = 32.0  # coarse: keeps Σ(Δproj)² under 2^53 — see docstring


def _q193_planes() -> list[list[int]]:
    import math

    from ..operators.similarity import _hyperplanes

    return [
        [int(math.floor(x * _Q193_HSCALE)) for x in h]
        for h in _hyperplanes(_Q193_K, 64, seed=0x1F5EED)
    ]


def _q193_oracle() -> str:
    values = ",\n    ".join(
        f"({j}, [{', '.join(str(x) for x in h)}]::DOUBLE[])"
        for j, h in enumerate(_q193_planes())
    )
    return f"""
WITH h(j, hv) AS (VALUES
    {values}
), e AS (
  SELECT vec_id,
         list_transform(embedding::DOUBLE[],
                        x -> floor(x * 4096.0)) AS q
  FROM embeddings
), p AS (
  SELECT a.vec_id AS a_id, b.vec_id AS b_id, a.q AS qa, b.q AS qb
  FROM e a JOIN e b ON b.vec_id = a.vec_id + 1
  WHERE a.vec_id % 2 = 0
), terms AS (
  SELECT a_id, b_id,
         CAST(list_dot_product(qa, qa) + list_dot_product(qb, qb)
              - 2 * list_dot_product(qa, qb) AS BIGINT) AS d_orig,
         list_dot_product(qa, hv) - list_dot_product(qb, hv) AS t
  FROM p CROSS JOIN h
), d AS (
  SELECT a_id, b_id, d_orig,
         CAST(SUM(t * t) AS BIGINT) AS d_proj
  FROM terms GROUP BY a_id, b_id, d_orig
)
SELECT a_id, b_id, d_orig, d_proj,
       CAST(round((4000000.0 * d_proj)
            / (d_orig * {_Q193_HSCALE!r} * {_Q193_HSCALE!r}))
            AS BIGINT) AS ratio_micro
FROM d WHERE d_orig > 0
"""


@register("q193_jl_distortion", _q193_oracle())
def q193(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-projection (Johnson–Lindenstrauss) sketching with an
    EXACT distortion audit: every embedding projects onto 16 seeded
    integer hyperplanes, and for each (even, odd) vec_id pair the
    query emits the original squared distance, the projected squared
    distance, and their (d/k)-corrected ratio — the audit that decides
    whether a 16-dim sketch can replace the 64-dim column for
    coarse-distance work (dedup prefilters, IVF routing) before a
    100 TB re-embedding is committed.

    Exactness by scaling discipline: embeddings quantize at 4096 but
    hyperplanes at 32, so each projection ≤ 64·4096·32 ≈ 8.4e6, each
    Δ² ≤ 2.8e14 and the 16-term sum ≤ 4.5e15 < 2^53 — every distance
    is an exact integer in BOTH engines in ANY summation order; the
    ratio is one correctly-rounded division. (At hyperplane scale
    4096 the squares would silently exceed 2^53 — the audit itself
    would be unauditable.)

    Scale: projections are computed ONCE per vector (16 sequential
    folds, row-local), pairs join on an arithmetic key, and the
    distortion algebra is a 16-wide fold per pair. No shuffle carries
    a 64-dim vector past the pair join; the d_orig identity
    (|a|²+|b|²−2a·b) reuses the dot-product primitives."""
    from ..operators.similarity import dot

    planes = _q193_planes()
    emb = load_table(spark, sf_dir, "embeddings")
    q = F.transform(
        F.col("embedding"), lambda x: F.floor(x * F.lit(4096.0))
    )
    proj = F.array(
        *[
            dot(
                F.col("q"),
                F.array(*[F.lit(float(x)) for x in h]),
            )
            for h in planes
        ]
    )
    e = (
        emb.select("vec_id", q.alias("q"))
        .withColumn("nq", dot(F.col("q"), F.col("q")))
        .withColumn("p", proj)
    )
    a = e.select(
        F.col("vec_id").alias("a_id"),
        F.col("q").alias("qa"),
        F.col("nq").alias("na"),
        F.col("p").alias("pa"),
    ).filter(F.col("a_id") % 2 == 0)
    b = e.select(
        F.col("vec_id").alias("b_id"),
        F.col("q").alias("qb"),
        F.col("nq").alias("nb"),
        F.col("p").alias("pb"),
    )
    pairs = a.join(b, F.col("b_id") == F.col("a_id") + 1)
    d_orig = (
        F.col("na") + F.col("nb") - F.lit(2) * dot(F.col("qa"), F.col("qb"))
    ).cast("long")
    d_proj = F.aggregate(
        F.zip_with("pa", "pb", lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, t: acc + t,
    ).cast("long")
    return (
        pairs.select(
            "a_id",
            "b_id",
            d_orig.alias("d_orig"),
            d_proj.alias("d_proj"),
        )
        .filter(F.col("d_orig") > 0)
        .select(
            "a_id",
            "b_id",
            "d_orig",
            "d_proj",
            F.round(
                (F.lit(4000000.0) * F.col("d_proj"))
                / (
                    F.col("d_orig")
                    * F.lit(_Q193_HSCALE)
                    * F.lit(_Q193_HSCALE)
                )
            )
            .cast("long")
            .alias("ratio_micro"),
        )
    )


# ---------------------------------------------------------------------------
# q194 — audio silence segmentation over the REAL WAV decode path
# ---------------------------------------------------------------------------

_Q194_FRAME = 40
_Q194_SILENT = 14_000_000_000  # Σs² per 40-sample frame; ~26% silent


_Q194_ORACLE = f"""
WITH d AS (
  SELECT doc_id, n_chars, 160 + (n_chars % 5) * 80 AS n FROM documents
), s AS (
  SELECT doc_id, n, n_chars, unnest(range(0, n)) AS i FROM d
), v AS (
  SELECT doc_id, i // {_Q194_FRAME} AS frame_idx,
         ((n_chars * 31 + i * 7) % 65536) - 32768 AS s
  FROM s
), fr AS (
  SELECT doc_id, frame_idx, CAST(SUM(s * s) AS BIGINT) AS energy
  FROM v GROUP BY doc_id, frame_idx
), sil AS (
  SELECT doc_id, frame_idx,
         frame_idx - row_number() OVER (
           PARTITION BY doc_id ORDER BY frame_idx) AS grp
  FROM fr WHERE energy < {_Q194_SILENT}
), runs AS (
  SELECT doc_id, CAST(MAX(rl) AS BIGINT) AS max_silent_run,
         CAST(SUM(rl) AS BIGINT) AS n_silent
  FROM (SELECT doc_id, grp, count(*) AS rl
        FROM sil GROUP BY doc_id, grp) g
  GROUP BY doc_id
)
SELECT fr.doc_id AS media_id,
       CAST(count(*) AS BIGINT) AS n_frames,
       COALESCE(ANY_VALUE(runs.n_silent), 0) AS n_silent,
       COALESCE(ANY_VALUE(runs.max_silent_run), 0) AS max_silent_run,
       CAST(SUM(fr.energy) AS BIGINT) AS total_energy
FROM fr LEFT JOIN runs ON fr.doc_id = runs.doc_id
GROUP BY fr.doc_id
"""


@register("q194_audio_silence_segments", _Q194_ORACLE)
def q194(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio silence/VAD segmentation over the REAL codec path: each
    document renders the q106 deterministic int16 sawtooth, encodes
    to actual RIFF/PCM WAV bytes, and the frame-energy operator
    (operators/multimodal.audio_frame_energy) DECODES them back and
    emits per-40-sample-frame exact integer energies; the query then
    segments silence (energy < {_Q194_SILENT:,}) with the
    gaps-and-islands identity and reports per clip: frame count,
    silent-frame count, the LONGEST silent run (the trim/split signal
    an audio-corpus pipeline gates on), and total energy. Exact
    integers end to end — any codec, framing, or windowing bug breaks
    the value hash.

    Scale: the codec pass is one Arrow mapInPandas scan emitting
    ceil(n/frame) rows per clip; silence runs are a frame_idx window
    partitioned on the high-cardinality media key; the verdict is one
    aggregate. Nothing is quadratic, nothing collects."""
    from ..operators.multimodal import audio_frame_energy

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")

    media = _wav_media(docs)
    fr = audio_frame_energy(media, frame=_Q194_FRAME).transform(_pin)
    # consumers: per-clip totals + the silence islands
    sil = fr.filter(F.col("energy") < _Q194_SILENT)
    wd = Window.partitionBy("media_id").orderBy("frame_idx")
    runs = (
        sil.withColumn(
            "grp", F.col("frame_idx") - F.row_number().over(wd)
        )
        .groupBy("media_id", "grp")
        .agg(F.count("*").alias("rl"))
        .groupBy("media_id")
        .agg(
            F.max("rl").cast("long").alias("max_silent_run"),
            F.sum("rl").cast("long").alias("n_silent"),
        )
    )
    totals = fr.groupBy("media_id").agg(
        F.count("*").cast("long").alias("n_frames"),
        F.sum("energy").cast("long").alias("total_energy"),
    )
    return totals.join(runs, "media_id", "left").select(
        "media_id",
        "n_frames",
        F.coalesce("n_silent", F.lit(0)).cast("long").alias("n_silent"),
        F.coalesce("max_silent_run", F.lit(0))
        .cast("long")
        .alias("max_silent_run"),
        "total_energy",
    )


# ---------------------------------------------------------------------------
# q195 — distinct l-diversity audit over quasi-identifier groups
# ---------------------------------------------------------------------------

_Q195_L = 5

_Q195_ORACLE = f"""
WITH base AS (
  SELECT event_type,
         CAST(round(value * 1000000) AS BIGINT) // 100000 AS vband,
         user_id
  FROM events
)
SELECT event_type, vband,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_sensitive,
       count(DISTINCT user_id) >= {_Q195_L} AS l_diverse
FROM base GROUP BY event_type, vband
"""


@register("q195_l_diversity", _Q195_ORACLE)
def q195(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct l-diversity audit — the privacy check k-anonymity
    (q157) misses: a QI group can be large yet still leak if every
    row shares one sensitive value. Here the quasi-identifier is
    (event_type, 0.1-wide value band), the sensitive attribute is
    user_id, and each group reports its size, its distinct-sensitive
    count, and whether it meets l = {_Q195_L} (Machanavajjhala et
    al.'s distinct form — the entropy variant needs log, the q121
    no-libm rule, and the distinct count is what release decisions
    gate on in practice). Groups failing the flag need further
    generalization or suppression before the slice is publishable.

    Scale: ONE aggregate; the distinct-count is a (QI, user) partial
    combine — shuffle carries group keys + user ids, nothing
    row-sized. Adding sensitive attributes adds counters, not scans;
    the band arithmetic is row-local exact integers."""
    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        "event_type",
        (
            F.floor(
                F.round(F.col("value") * 1000000).cast("long") / 100000
            )
        )
        .cast("long")
        .alias("vband"),
        "user_id",
    )
    return base.groupBy("event_type", "vband").agg(
        F.count("*").cast("long").alias("n_rows"),
        F.countDistinct("user_id").cast("long").alias("n_sensitive"),
        (F.countDistinct("user_id") >= _Q195_L).alias("l_diverse"),
    )


# ---------------------------------------------------------------------------
# q196 — hubness audit: k-occurrence distribution of the ANN index side
# ---------------------------------------------------------------------------

_Q196_K = 4

_Q196_ORACLE = f"""
WITH e AS (
  SELECT vec_id,
         list_transform(embedding::DOUBLE[],
                        x -> floor(x * 4096.0)) AS v
  FROM embeddings
), n AS (
  SELECT vec_id, v, list_dot_product(v, v) AS nv FROM e
), a AS (
  SELECT vec_id AS a_id, v AS av, nv AS na FROM n WHERE vec_id % 2 = 0
), b AS (
  SELECT vec_id AS b_id, v AS bv, nv AS nb FROM n WHERE vec_id % 2 = 1
), p AS (
  SELECT a_id, b_id,
         CAST(round(1000000000000.0
              * (list_dot_product(av, bv) / (sqrt(na) * sqrt(nb))))
              AS BIGINT) AS cos_pico
  FROM a CROSS JOIN b
), topk AS (
  SELECT a_id, b_id FROM (
    SELECT a_id, b_id,
           row_number() OVER (PARTITION BY a_id
                              ORDER BY cos_pico DESC, b_id) AS ra
    FROM p) t
  WHERE ra <= {_Q196_K}
), occ AS (
  SELECT b_id, CAST(count(*) AS BIGINT) AS k_occurrence
  FROM topk GROUP BY b_id
)
SELECT b.b_id, COALESCE(occ.k_occurrence, 0) AS k_occurrence,
       COALESCE(occ.k_occurrence, 0) >= {2 * _Q196_K} AS is_hub,
       occ.b_id IS NULL AS is_antihub
FROM b LEFT JOIN occ USING (b_id)
"""


def _q196_topk(side, other):
    """Top-k (a_id, b_id) pairs of the A→B kNN — the q177 matmul pass
    emitting the full top-k id list instead of the best pair.  Same
    collect_bounded_side guard: the index side must be bucket-bounded
    at scale."""
    import numpy as np
    import pandas as pd

    rows = sorted(collect_bounded_side(other), key=lambda r: r["vec_id"])
    o_ids = np.array([r["vec_id"] for r in rows], dtype=np.int64)
    O = np.array([r["v"] for r in rows], dtype=np.float64)
    o_nsq = np.sqrt(np.array([r["nv"] for r in rows], dtype=np.float64))

    def score(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            M = np.stack(pdf["v"].to_numpy()).astype(np.float64, copy=False)
            nsq = np.sqrt(pdf["nv"].to_numpy(dtype=np.float64))
            pico = round_half_away(
                1e12 * ((M @ O.T) / (nsq[:, None] * o_nsq[None, :]))
            )
            order = np.argsort(-pico, axis=1, kind="stable")
            top = order[:, :_Q196_K]
            a_ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            yield pd.DataFrame(
                {
                    "a_id": np.repeat(a_ids, top.shape[1]),
                    "b_id": o_ids[top].ravel(),
                }
            )

    return side.mapInPandas(score, schema="a_id long, b_id long")


@register("q196_hubness_audit", _Q196_ORACLE)
def q196(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hubness audit of the retrieval index side: for every indexed
    (odd-id) vector, its k-OCCURRENCE — how many (even-id) queries
    list it in their cosine top-{_Q196_K} — plus hub (>= 2k) and
    antihub (never retrieved) flags. High-dimensional spaces
    concentrate retrievals onto hub points (Radovanović et al.), which
    silently poisons kNN dedup/mining (q177's margin exists to damp
    exactly this); the k-occurrence histogram is the audit that says
    whether cosine kNN is trustworthy on THIS embedding space before
    a 100 TB mining run.

    Exactness: the same floor-quantized pico chain as q177; the
    verdict columns are counts and integer compares.

    Scale: one directional Arrow-matmul top-k pass (A×k id pairs
    emitted, never the pair matrix), one count aggregate, one left
    join against the index side. At 100 TB the same pass runs per
    LSH/IVF bucket."""
    emb = load_table(spark, sf_dir, "embeddings")
    vq = F.transform(
        F.col("embedding"),
        lambda x: F.floor(x * F.lit(_Q177_SCALE)).cast("double"),
    )
    n = emb.select("vec_id", vq.alias("v")).withColumn(
        "nv",
        F.aggregate(
            F.zip_with("v", "v", lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
    )
    a = n.filter(F.col("vec_id") % 2 == 0)
    b = n.filter(F.col("vec_id") % 2 == 1)
    occ = (
        _q196_topk(a, b)
        .groupBy("b_id")
        .agg(F.count("*").cast("long").alias("k_occurrence"))
    )
    return (
        b.select("vec_id")
        .withColumnRenamed("vec_id", "b_id")
        .join(occ, "b_id", "left")
        .select(
            "b_id",
            F.coalesce("k_occurrence", F.lit(0))
            .cast("long")
            .alias("k_occurrence"),
            (
                F.coalesce("k_occurrence", F.lit(0)) >= F.lit(2 * _Q196_K)
            ).alias("is_hub"),
            F.col("k_occurrence").isNull().alias("is_antihub"),
        )
    )


# ---------------------------------------------------------------------------
# q197 — known-item retrieval evaluation (rank of the true partner)
# ---------------------------------------------------------------------------

_Q197_ORACLE = """
WITH e AS (
  SELECT vec_id,
         list_transform(embedding::DOUBLE[],
                        x -> floor(x * 4096.0)) AS v
  FROM embeddings
), n AS (
  SELECT vec_id, v, list_dot_product(v, v) AS nv FROM e
), a AS (
  SELECT vec_id AS a_id, v AS av, nv AS na FROM n WHERE vec_id % 2 = 0
), b AS (
  SELECT vec_id AS b_id, v AS bv, nv AS nb FROM n WHERE vec_id % 2 = 1
), p AS (
  SELECT a_id, b_id,
         CAST(round(1000000000000.0
              * (list_dot_product(av, bv) / (sqrt(na) * sqrt(nb))))
              AS BIGINT) AS cos_pico
  FROM a CROSS JOIN b
), ranked AS (
  SELECT a_id, b_id,
         CAST(row_number() OVER (PARTITION BY a_id
                            ORDER BY cos_pico DESC, b_id) AS BIGINT) AS r
  FROM p
)
SELECT a_id, a_id + 1 AS partner_id, r AS partner_rank,
       CAST((2000000 + r) // (2 * r) AS BIGINT) AS rr_micro,
       r = 1 AS hit_at_1, r <= 5 AS hit_at_5
FROM ranked WHERE b_id = a_id + 1
"""


@register("q197_known_item_retrieval", _Q197_ORACLE)
def q197(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Known-item retrieval evaluation: each even-id vector queries
    the odd-id index, and its TRUE partner (vec_id + 1) has a known
    exact rank under (cosine DESC, id) — the per-query table behind
    MRR / hit@1 / hit@5, the eval a retrieval pipeline runs before
    trusting an index (and the ground-truth-labeled twin of q173's
    label-free ranking agreement). Reciprocal rank is round-half-up
    INTEGER division (2e6+r)//(2r) — float round() splits across
    engines exactly at the .5 ties (numpy half-to-even vs DuckDB
    half-away; rank 128 hits one), so the tie rule is pinned in
    integer arithmetic.

    Scale: NO ranking window and NO pair frame — the rank of the
    partner is a count: 1 + |{j: pico_j > pico_p}| + |{ties with
    smaller id}|, computed vectorized inside the same directional
    Arrow-matmul pass as q177/q196, one output row per query. The
    oracle runs the full window formulation; the engine computes the
    identical rank arithmetic without materializing the ranking."""
    import numpy as np
    import pandas as pd

    emb = load_table(spark, sf_dir, "embeddings")
    vq = F.transform(
        F.col("embedding"),
        lambda x: F.floor(x * F.lit(_Q177_SCALE)).cast("double"),
    )
    n = emb.select("vec_id", vq.alias("v")).withColumn(
        "nv",
        F.aggregate(
            F.zip_with("v", "v", lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
    )
    a = n.filter(F.col("vec_id") % 2 == 0)
    b = n.filter(F.col("vec_id") % 2 == 1)

    rows = sorted(collect_bounded_side(b), key=lambda r: r["vec_id"])
    o_ids = np.array([r["vec_id"] for r in rows], dtype=np.int64)
    O = np.array([r["v"] for r in rows], dtype=np.float64)
    o_nsq = np.sqrt(np.array([r["nv"] for r in rows], dtype=np.float64))
    pos = {int(i): k for k, i in enumerate(o_ids)}

    def score(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            a_ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            keep = np.array([int(x) + 1 in pos for x in a_ids])
            if not keep.any():
                continue
            M = np.stack(pdf["v"].to_numpy()).astype(
                np.float64, copy=False
            )[keep]
            nsq = np.sqrt(pdf["nv"].to_numpy(dtype=np.float64))[keep]
            a_ids = a_ids[keep]
            pico = round_half_away(
                1e12 * ((M @ O.T) / (nsq[:, None] * o_nsq[None, :]))
            )
            ip = np.array([pos[int(x) + 1] for x in a_ids])
            pp = pico[np.arange(len(a_ids)), ip]
            partner_ids = o_ids[ip]
            rank = (
                1
                + (pico > pp[:, None]).sum(axis=1)
                + (
                    (pico == pp[:, None])
                    & (o_ids[None, :] < partner_ids[:, None])
                ).sum(axis=1)
            ).astype(np.int64)
            yield pd.DataFrame(
                {
                    "a_id": a_ids,
                    "partner_id": partner_ids,
                    "partner_rank": rank,
                    "rr_micro": (2_000_000 + rank) // (2 * rank),
                    "hit_at_1": rank == 1,
                    "hit_at_5": rank <= 5,
                }
            )

    return a.mapInPandas(
        score,
        schema=(
            "a_id long, partner_id long, partner_rank long, "
            "rr_micro long, hit_at_1 boolean, hit_at_5 boolean"
        ),
    )


# ---------------------------------------------------------------------------
# q198 — Benford first-digit forensics on a monetary column
# ---------------------------------------------------------------------------

def _q198_expected() -> dict[int, int]:
    """round(1e6·log10(1+1/d)) — driver-side constants (the q159
    rule: precomputed literals, no libm call in either engine)."""
    import math

    return {d: round(1e6 * math.log10(1 + 1 / d)) for d in range(1, 10)}


def _q198_oracle() -> str:
    exp_case = " ".join(
        f"WHEN {d} THEN {m}" for d, m in _q198_expected().items()
    )
    return f"""
WITH src AS (
  SELECT CAST(substring(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
                             AS VARCHAR), 1, 1) AS BIGINT) AS digit
  FROM orders
), tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n_total FROM src
), counts AS (
  SELECT digit, CAST(count(*) AS BIGINT) AS n FROM src GROUP BY digit
)
SELECT c.digit, c.n,
       CAST(round((1000000.0 * c.n) / t.n_total) AS BIGINT)
         AS share_micro,
       CAST(CASE c.digit {exp_case} END AS BIGINT) AS benford_micro,
       abs(CAST(round((1000000.0 * c.n) / t.n_total) AS BIGINT)
           - CAST(CASE c.digit {exp_case} END AS BIGINT)) AS dev_micro
FROM counts c CROSS JOIN tot t
"""


@register("q198_benford_audit", _q198_oracle())
def q198(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit forensics on order totals — the
    data-quality/fraud screen for monetary columns: organically grown
    magnitudes follow log10(1+1/d); synthetic, capped, or fabricated
    values do not, and the per-digit |share − Benford| deviation is
    the flag. (On THIS synthetic TPC-H-ish data the audit correctly
    reports large deviations — uniform price generation is exactly
    the kind of distribution the screen exists to catch.)

    Exactness: the first digit is string truncation of an exact
    integer (no log/pow at runtime); Benford probabilities are
    driver-side micro literals (the q159 inverse-CDF discipline);
    shares are one correctly-rounded division each.

    Scale: one partial-combined 9-group count; everything after is
    algebra on 9 rows."""
    exp = _q198_expected()
    orders = load_table(spark, sf_dir, "orders")
    src = orders.select(
        F.substring(
            F.round(F.col("o_totalprice") * 100)
            .cast("long")
            .cast("string"),
            1,
            1,
        )
        .cast("long")
        .alias("digit")
    )
    tot = src.agg(F.count("*").cast("long").alias("n_total"))
    counts = src.groupBy("digit").agg(
        F.count("*").cast("long").alias("n")
    )
    exp_col = F.lit(None).cast("long")
    for d, m in reversed(sorted(exp.items())):
        exp_col = F.when(F.col("digit") == d, F.lit(m)).otherwise(exp_col)
    share = F.round((F.lit(1000000.0) * F.col("n")) / F.col("n_total")).cast(
        "long"
    )
    return counts.crossJoin(F.broadcast(tot)).select(
        "digit",
        "n",
        share.alias("share_micro"),
        exp_col.cast("long").alias("benford_micro"),
        F.abs(share - exp_col).alias("dev_micro"),
    )


# ---------------------------------------------------------------------------
# q199 — deterministic Poisson-bootstrap distribution of the exact AUC
# ---------------------------------------------------------------------------

_Q199_B = 16


def _q199_oracle() -> str:
    from .round6c_queries import _Q159_CASE_SQL

    return f"""
WITH src AS (
  SELECT doc_id,
         CAST(round(1000000.0 * {_Q184_SCORE_SQL}) AS BIGINT) AS vm,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
  FROM documents
), drawn AS (
  SELECT b, vm, pos,
         ('0x' || substring(md5('aucboot-v1:' || CAST(b AS VARCHAR)
            || ':' || CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT AS u
  FROM src, range({_Q199_B}) r(b)
), weighted AS (
  SELECT b, vm, {_Q159_CASE_SQL} AS w, pos FROM drawn
), g AS (
  SELECT b, vm,
         CAST(SUM(w * pos) AS BIGINT) AS wp,
         CAST(SUM(w * (1 - pos)) AS BIGINT) AS wn
  FROM weighted GROUP BY b, vm
), c AS (
  SELECT b, vm, wp, wn,
         CAST(coalesce(SUM(wn) OVER (
             PARTITION BY b ORDER BY vm
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS BIGINT) AS neg_below
  FROM g
), u AS (
  SELECT b,
         CAST(SUM(wp * (2 * neg_below + wn)) AS BIGINT) AS u2,
         CAST(SUM(wp) AS BIGINT) AS n_pos_w,
         CAST(SUM(wn) AS BIGINT) AS n_neg_w
  FROM c GROUP BY b
), scored AS (
  SELECT b, n_pos_w, n_neg_w, u2,
         CAST(round((1000000.0 * u2) / (2.0 * n_pos_w * n_neg_w))
              AS BIGINT) AS auc_micro
  FROM u WHERE n_pos_w > 0 AND n_neg_w > 0
)
SELECT b, n_pos_w, n_neg_w, u2, auc_micro,
       CAST(row_number() OVER (ORDER BY auc_micro, b) AS BIGINT) AS rk
FROM scored
"""


@register("q199_auc_bootstrap", _q199_oracle())
def q199(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bootstrap DISTRIBUTION of the exact AUC — the composition that
    turns q189's point estimate into an interval: {B} deterministic
    Poisson(1) replicates (q159's inverse-CDF-literal draw, row-local,
    all replicates in one scan) each re-weight the (score, label)
    counts, the weighted Mann–Whitney identity gives each replicate's
    exact 2U, and the ranked replicate AUCs are the bootstrap
    distribution (rk 2/15 of 16 bracket a ~80 % CI). The eval-metric
    error bar a model-gating decision needs, with every replicate
    value-oracle-checked.

    Scale: the ×{B} expansion collapses map-side into (b, score)
    grouped counts; the negatives-below prefix rides ONE
    scalable_prefix_sums over the global (b, vm) order with per-b
    offsets broadcast back (the q189/q153 rule — b never becomes a
    window partition); the final ranking window sees {B} rows."""
    from .round6c_queries import _Q159_T
    from ..operators.sampling import _u48
    from ..operators.windows import scalable_prefix_sums

    docs = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n_stop = F.size(F.filter(toks, lambda t: t.isin("the", "a")))
    score = n_stop.cast("double") / F.size(toks)
    src = docs.select(
        "doc_id",
        F.round(F.lit(1000000.0) * score).cast("long").alias("vm"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("pos"),
    )
    drawn = src.select(
        F.explode(F.sequence(F.lit(0), F.lit(_Q199_B - 1))).alias("b"),
        "vm",
        "pos",
        "doc_id",
    ).withColumn(
        "u",
        _u48(
            F.concat(
                F.lit("aucboot-v1:"),
                F.col("b").cast("string"),
                F.lit(":"),
                F.col("doc_id").cast("string"),
            ),
            "",
        ),
    )
    w = (
        F.when(F.col("u") < _Q159_T[0], 0)
        .when(F.col("u") < _Q159_T[1], 1)
        .when(F.col("u") < _Q159_T[2], 2)
        .when(F.col("u") < _Q159_T[3], 3)
        .when(F.col("u") < _Q159_T[4], 4)
        .otherwise(5)
    )
    g = (
        drawn.select("b", "vm", w.alias("w"), "pos")
        .groupBy("b", "vm")
        .agg(
            F.sum(F.col("w") * F.col("pos")).cast("long").alias("wp"),
            F.sum(F.col("w") * (F.lit(1) - F.col("pos")))
            .cast("long")
            .alias("wn"),
        )
    )
    cum = scalable_prefix_sums(g, ("b", "vm"), val_cols=("wn",), pin=True)
    wb = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, -1)
    offs = (
        cum.groupBy("b")
        .agg(
            F.sum("wp").cast("long").alias("n_pos_w"),
            F.sum("wn").cast("long").alias("n_neg_w"),
        )
        .select(
            "b",
            "n_pos_w",
            "n_neg_w",
            F.coalesce(F.sum("n_neg_w").over(wb), F.lit(0)).alias("soff"),
        )
    )
    term = cum.join(F.broadcast(offs.select("b", "soff")), "b").select(
        "b",
        (
            F.col("wp")
            * (
                F.lit(2)
                * (F.col("cum_wn") - F.col("wn") - F.col("soff"))
                + F.col("wn")
            )
        ).alias("t"),
    )
    u = term.groupBy("b").agg(F.sum("t").cast("long").alias("u2"))
    scored = (
        u.join(F.broadcast(offs.drop("soff")), "b")
        .filter((F.col("n_pos_w") > 0) & (F.col("n_neg_w") > 0))
        .select(
            "b",
            "n_pos_w",
            "n_neg_w",
            "u2",
            F.round(
                (F.lit(1000000.0) * F.col("u2"))
                / (F.lit(2.0) * F.col("n_pos_w") * F.col("n_neg_w"))
            )
            .cast("long")
            .alias("auc_micro"),
        )
    )
    rkw = Window.orderBy("auc_micro", "b")  # {B} rows — metadata-sized
    return scored.withColumn("rk", F.row_number().over(rkw).cast("long"))


# ---------------------------------------------------------------------------
# q200 — corpus datasheet: the one-scan release statistics card
# ---------------------------------------------------------------------------


def _q200_oracle() -> str:
    from .corpus_queries import _split_case_sql

    return f"""
WITH labeled AS (
  SELECT source, lang, n_chars, doc_id,
         {_split_case_sql()} AS split,
         md5({_NORM_SQL}) AS fp,
         len(string_split(text, ' ')) AS n_tokens
  FROM documents
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
       CAST(SUM(n_chars) AS BIGINT) AS n_chars,
       CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
       CAST(count(DISTINCT fp) AS BIGINT) AS n_unique,
       CAST(count(*) - count(DISTINCT fp) AS BIGINT) AS n_exact_dups,
       CAST(round((1000000.0 * count(DISTINCT fp)) / count(*))
            AS BIGINT) AS unique_ratio_micro,
       CAST(SUM(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_train,
       CAST(SUM(CASE WHEN split = 'val' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_val,
       CAST(SUM(CASE WHEN split = 'test' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_test,
       CAST(MIN(n_chars) AS BIGINT) AS min_chars,
       CAST(MAX(n_chars) AS BIGINT) AS max_chars,
       CAST(round(CAST(SUM(n_chars) AS DOUBLE) / count(*)) AS BIGINT)
         AS mean_chars
FROM labeled GROUP BY source
"""


@register("q200_corpus_datasheet", _q200_oracle())
def q200(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus DATASHEET — the release statistics card (Gebru et
    al.'s datasheets verb) a training-data pipeline publishes next to
    every corpus snapshot: per source, the document/token/char
    volumes, language breadth, exact-dup rate (md5 fingerprint of the
    normalized text — q20/q25's key), deterministic split counts, and
    the length profile. One row per source, every figure exact or
    one correctly-rounded division — the summary every other audit in
    this engine (q76 column profile, q84 forget audit, q121
    divergence) hangs off.

    Scale: ONE scan, one partial-combined aggregate; the distinct
    fingerprint/lang counts are (source, key) combines. Adding a
    datasheet row (a new metric) adds a counter, not a scan."""
    from ..operators.sampling import hash_split

    docs = hash_split(
        load_table(spark, sf_dir, "documents"),
        {"train": 0.8, "val": 0.1, "test": 0.1},
    )
    labeled = docs.select(
        "source",
        "lang",
        "n_chars",
        "split",
        F.md5(normalize_text("text")).alias("fp"),
        F.size(F.split("text", " ")).alias("n_tokens"),
    )
    return labeled.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("n_tokens"),
        F.sum("n_chars").cast("long").alias("n_chars"),
        F.countDistinct("lang").cast("long").alias("n_langs"),
        F.countDistinct("fp").cast("long").alias("n_unique"),
        (F.count("*") - F.countDistinct("fp"))
        .cast("long")
        .alias("n_exact_dups"),
        F.round(
            (F.lit(1000000.0) * F.countDistinct("fp")) / F.count("*")
        )
        .cast("long")
        .alias("unique_ratio_micro"),
        F.sum(F.when(F.col("split") == "train", 1).otherwise(0))
        .cast("long")
        .alias("n_train"),
        F.sum(F.when(F.col("split") == "val", 1).otherwise(0))
        .cast("long")
        .alias("n_val"),
        F.sum(F.when(F.col("split") == "test", 1).otherwise(0))
        .cast("long")
        .alias("n_test"),
        F.min("n_chars").cast("long").alias("min_chars"),
        F.max("n_chars").cast("long").alias("max_chars"),
        F.round(F.sum("n_chars").cast("double") / F.count("*"))
        .cast("long")
        .alias("mean_chars"),
    )
