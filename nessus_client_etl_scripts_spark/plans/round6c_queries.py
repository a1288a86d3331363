"""Round-6 third wave onward — q153…q166: pipeline-operations
extensions.

- q153 hash-sampled quantile estimation WITH exact calibration — the
  q148/q149 estimator-calibration pattern applied to quantiles: the
  mergeable summary here is a deterministic bottom-p hash sample
  (union of samples = sample of union, the mergeability HLL gets from
  register max), and the estimate rides next to the exact value.
- q154 sequential pattern mining — per-user event-type trigrams by
  time order, ranked by distinct-user support (the n-gram family
  applied to EVENT SEQUENCES instead of token streams).
- q155 χ² term–class association — feature selection over the
  (term, lang) contingency cube; the repo's first classical-stats
  scoring op, kept bit-portable by the exact-integer-moments rule.
- q156 rendezvous (highest-random-weight) sharding — the consistent-
  hashing story a 100 TB corpus needs for re-sharding: assignment is
  row-local md5 algebra, and the query MEASURES the movement cost of
  growing 8 → 9 shards (~1/9 of rows move, only into the new shard).
- q157 k-anonymity generalization ladder — privacy/compliance tier
  (q63 PII scrub, q84 forget audit): each row climbs a 3-level
  quasi-identifier coarsening until its group reaches k=5, else is
  suppressed.
- q158 watermark late-data audit — Structured Streaming's watermark
  semantics REPLAYED over a batch table (arrival order = ingest id,
  event time = ts): per event-hour counts of on-time / late-accepted
  / dropped rows under a 10 min / 30 min watermark pair, via the
  scalable running-max scan (no single-task global window).
- q159 deterministic Poisson bootstrap (row-local resampling, CDF
  literals); q160 exact-integer burst detection (RANGE window over
  the hour frame); q161 PPJoin prefix-filter similarity join (exact
  candidates, three integer prunes); q162 GROUPING SETS with
  GROUPING() provenance; q163 forward as-of (next-event
  attribution); q164 per-group Gini from exact moments; q165
  frequent item pairs with lift; q166 Merkle-style snapshot diff by
  range digests.

Float portability per PLANS.md: every emitted number here is an exact
integer, a timestamp, or a label EXCEPT q155's χ², which is one IEEE
division of two exact integer moments (cast from DECIMAL(38,0) /
HUGEINT — both correctly rounded) — the q64/q152 construction.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table, spread_for_compute
from ..operators.sampling import HASH_SPACE, _u48
from ..operators.text import normalize_text, tokens
from ..operators.windows import (
    grouped_row_number,
    scalable_prefix_sums,
    scalable_running_max,
)
from .corpus_queries import _NORM_SQL
from .testdata_queries import register
from ..pins import pin as _pin

# ---------------------------------------------------------------------------
# q153 — hash-sampled quantiles with exact calibration
# ---------------------------------------------------------------------------

_Q153_SALT = "qcal-v1"
_Q153_RATE = 0.1
_Q153_THRESH = int(_Q153_RATE * HASH_SPACE)
_Q153_QS = (25, 50, 75, 90)

_Q153_ORACLE = f"""
WITH base AS (
  SELECT l_returnflag AS flag,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
         CAST(l_orderkey AS VARCHAR) || '-'
           || CAST(l_linenumber AS VARCHAR) AS k
  FROM lineitem
), qs AS (
  SELECT CAST(unnest([25, 50, 75, 90]) AS BIGINT) AS q
), fr AS (
  SELECT flag, cents, k,
         row_number() OVER (PARTITION BY flag ORDER BY cents, k) AS rn,
         count(*) OVER (PARTITION BY flag) AS n
  FROM base
), sr AS (
  SELECT flag, cents, k,
         row_number() OVER (PARTITION BY flag ORDER BY cents, k) AS rn,
         count(*) OVER (PARTITION BY flag) AS n
  FROM base
  WHERE ('0x' || substring(md5('{_Q153_SALT}' || k), 1, 12))::BIGINT
        < {_Q153_THRESH}
), fx AS (
  SELECT flag, q, cents AS exact_cents, CAST(n AS BIGINT) AS n_full
  FROM fr JOIN qs ON rn = (q * n + 99) // 100
), sx AS (
  SELECT flag, q, cents AS est_cents, CAST(n AS BIGINT) AS n_sample
  FROM sr JOIN qs ON rn = (q * n + 99) // 100
)
SELECT flag, q, exact_cents, est_cents,
       est_cents - exact_cents AS err_cents, n_full, n_sample
FROM fx JOIN sx USING (flag, q)
"""


def _q153_target_rows(
    crows: list, n_key: str = "n", s_key: str = "ns"
) -> tuple[list[tuple], list[tuple]]:
    """Driver-side (flag, q, grn, n) target rows for the full-table
    and in-sample branches: per-flag quantile position ceil(q·n/100)
    shifted by the flag's global offset (a Python-int running sum in
    ascending-flag order — the flag domain is ASCII, so Python's str
    sort and Spark's UTF8 binary ordering agree). Flags with n = 0 in
    a branch (a group entirely outside the hash sample) emit no
    target THERE — their ceil-rank would collapse onto the PREVIOUS
    flag's last position and join a foreign row; the oracle likewise
    emits nothing for them (review finding, round 6). ≤ |flags|·|QS|
    rows per branch — bounded small state."""
    full_t: list[tuple] = []
    samp_t: list[tuple] = []
    off = soff = 0
    for r in sorted(crows, key=lambda r: r["flag"]):
        n, ns = int(r[n_key]), int(r[s_key] or 0)
        for q in _Q153_QS:
            if n > 0:
                full_t.append((r["flag"], q, off + (q * n + 99) // 100, n))
            if ns > 0:
                samp_t.append(
                    (r["flag"], q, soff + (q * ns + 99) // 100, ns)
                )
        off += n
        soff += ns
    return full_t, samp_t


@register("q153_sampled_quantiles", _Q153_ORACLE)
def q153(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile estimation from a deterministic bottom-p hash sample,
    calibrated against the exact quantile — the q148/q149 pattern
    (emit the estimate NEXT TO the truth so the driver hash checks the
    approximation itself) applied to order statistics.

    Why a hash sample is the scale path: it is the mergeable quantile
    summary — the union of two partitions' samples IS the sample of
    their union (same salted-md5 threshold), so at 100 TB the sample
    is built with zero coordination at scan time and the expensive
    global ranking runs on p·N rows. BOTH position reads (full-table
    and in-sample) come off ONE scalable_prefix_sums pass over
    (flag, cents, key): the global position is the prefix sum of 1,
    the sample-local position the prefix sum of the sample indicator
    — one range exchange, one stats collect, shared staged frame. The
    3-value flag column never becomes a window partition (per-flag
    positions are global positions minus broadcast per-flag offsets),
    and no tie-group join runs (rank semantics aren't needed to read
    4 positions). The 12-row target frames are exact-integer join
    keys — no float percentile math anywhere."""
    li = load_table(spark, sf_dir, "lineitem")
    base = li.select(
        F.col("l_returnflag").alias("flag"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
        F.concat_ws(
            "-", F.col("l_orderkey"), F.col("l_linenumber")
        ).alias("k"),
    )
    # Order by (flag, cents) only: the emitted VALUE at a position is
    # tie-invariant (all rows in a cents-tie run carry the same cents),
    # so the unique-key tiebreak would buy nothing and widen the range
    # exchange. The salted sample indicator is a late-derived summand —
    # its md5 runs once, on the staged frame.
    cum = scalable_prefix_sums(
        base,
        ("flag", "cents"),
        derive={
            "one": F.lit(1).cast("long"),
            "ins": (_u48(F.col("k"), _Q153_SALT) < _Q153_THRESH).cast(
                "long"
            ),
        },
        pin=True,  # three consumers below — counts, fx, sx
    )
    # Per-flag counts: ONE aggregate over the pinned staged frame,
    # collected to the driver — |flags| is the l_returnflag domain
    # (3 values), bounded small state (the q39 pattern). r13: the
    # former distributed ``counts`` frame (aggregate + metadata
    # window) was built TWICE — once inside EACH broadcast target
    # subtree (the plan carried the aggregate/window/explode chain
    # twice, plans/r13/q153_..._before.txt operators (6-17) and
    # (27-38)) — and both target frames are 12 exact-integer rows
    # derivable on the driver from the same counts. Offsets use
    # Python integer running sums in ascending-flag order; the flag
    # domain is ASCII, so Python's str sort and Spark's UTF8 binary
    # ordering agree (same ceil arithmetic as the oracle, exact ints
    # throughout).
    crows = cum.groupBy("flag").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("ins").cast("long").alias("ns"),
    ).collect()
    full_t, samp_t = _q153_target_rows(crows)
    t_schema = "flag string, q long, grn long, n long"
    fx = (
        cum.withColumnRenamed("cum_one", "grn")
        .drop("flag")
        .join(F.broadcast(spark.createDataFrame(full_t, t_schema)), "grn")
        .select(
            "flag", "q",
            F.col("cents").alias("exact_cents"),
            F.col("n").alias("n_full"),
        )
    )
    sx = (
        cum.filter(F.col("ins") == 1)
        .withColumnRenamed("cum_ins", "grn")
        .drop("flag")
        .join(F.broadcast(spark.createDataFrame(samp_t, t_schema)), "grn")
        .select(
            "flag", "q",
            F.col("cents").alias("est_cents"),
            F.col("n").alias("n_sample"),
        )
    )
    return fx.join(sx, ["flag", "q"]).select(
        "flag", "q", "exact_cents", "est_cents",
        (F.col("est_cents") - F.col("exact_cents")).alias("err_cents"),
        "n_full", "n_sample",
    )


# ---------------------------------------------------------------------------
# q154 — sequential pattern mining: top event-type trigrams
# ---------------------------------------------------------------------------

_Q154_ORACLE = """
WITH seq AS (
  SELECT user_id, event_type,
         lead(event_type, 1) OVER w AS t1,
         lead(event_type, 2) OVER w AS t2
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), tri AS (
  SELECT user_id, event_type || '>' || t1 || '>' || t2 AS trigram
  FROM seq WHERE t2 IS NOT NULL
), agg AS (
  SELECT trigram,
         CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
         CAST(count(*) AS BIGINT) AS n_occurrences
  FROM tri GROUP BY trigram
)
SELECT trigram, n_users, n_occurrences
FROM agg
ORDER BY n_users DESC, n_occurrences DESC, trigram
LIMIT 15
"""


@register("q154_event_trigrams", _Q154_ORACLE)
def q154(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential pattern mining: the 15 most common event-type
    trigrams across user journeys, ranked by distinct-user support —
    the token-n-gram machinery (q26/q126) applied to EVENT SEQUENCES.

    Scale shape: the lead() window partitions by user_id — corpus-
    cardinality, so every core works (no two-phase needed; this is
    the GOOD window shape, unlike the 3-flag ranking in q153). The
    trigram aggregate is map-side combined on a |types|³-bounded key
    space, and the final ordering is a TakeOrderedAndProject on that
    tiny frame, never a global sort of rows. count(DISTINCT user_id)
    expands to the standard two-level partial aggregate — the shuffle
    carries (trigram, user_id) pairs already deduped map-side."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        "event_type",
        F.lead("event_type", 1).over(w).alias("t1"),
        F.lead("event_type", 2).over(w).alias("t2"),
    )
    tri = seq.filter(F.col("t2").isNotNull()).select(
        "user_id",
        F.concat_ws(">", "event_type", "t1", "t2").alias("trigram"),
    )
    agg = tri.groupBy("trigram").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.count(F.lit(1)).alias("n_occurrences"),
    )
    return agg.orderBy(
        F.desc("n_users"), F.desc("n_occurrences"), "trigram"
    ).limit(15)


# ---------------------------------------------------------------------------
# q155 — χ² term–class association (feature selection)
# ---------------------------------------------------------------------------

_Q155_MIN_TERM = 20
_Q155_MIN_CELL = 5
_Q155_TOPK = 5

_Q155_ORACLE = f"""
WITH tok AS (
  SELECT lang, unnest(string_split({_NORM_SQL}, ' ')) AS term
  FROM documents
), cell AS (
  SELECT lang, term, CAST(count(*) AS BIGINT) AS a
  FROM tok GROUP BY lang, term
), tt AS (
  SELECT term, CAST(sum(a) AS BIGINT) AS term_total FROM cell GROUP BY term
), lt AS (
  SELECT lang, CAST(sum(a) AS BIGINT) AS lang_total FROM cell GROUP BY lang
), tot AS (
  SELECT CAST(sum(a) AS BIGINT) AS n FROM cell
), abcd AS (
  SELECT c.lang, c.term, c.a,
         tt.term_total - c.a AS b,
         lt.lang_total - c.a AS c2,
         tot.n - tt.term_total - lt.lang_total + c.a AS d,
         tot.n AS n
  FROM cell c JOIN tt USING (term) JOIN lt USING (lang) CROSS JOIN tot
  WHERE tt.term_total >= {_Q155_MIN_TERM} AND c.a >= {_Q155_MIN_CELL}
), scored AS (
  SELECT lang, term, a,
         CAST((2000000 * (CAST(n AS HUGEINT)
                          * CAST(a * d - b * c2 AS HUGEINT)
                          * CAST(a * d - b * c2 AS HUGEINT))
               + (CAST(a + b AS HUGEINT) * CAST(c2 + d AS HUGEINT)
                  * CAST(a + c2 AS HUGEINT) * CAST(b + d AS HUGEINT)))
              // (2 * (CAST(a + b AS HUGEINT) * CAST(c2 + d AS HUGEINT)
                       * CAST(a + c2 AS HUGEINT) * CAST(b + d AS HUGEINT)))
              AS BIGINT) AS chi2_micro
  FROM abcd
), ranked AS (
  SELECT lang, term, a, chi2_micro,
         row_number() OVER (
           PARTITION BY lang ORDER BY chi2_micro DESC, term
         ) AS rn
  FROM scored
)
SELECT lang, term, a, chi2_micro FROM ranked WHERE rn <= {_Q155_TOPK}
"""


@register("q155_chi2_terms", _Q155_ORACLE)
def q155(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 language-characteristic terms by χ² over the (term, lang)
    contingency table — classical feature selection, the scoring that
    backs vocabulary pruning and domain-classifier features in corpus
    pipelines.

    One pass over tokens builds the (lang, term, a) cube; the b/c/d
    margins all DERIVE from that cube (term totals, lang totals, N) —
    the corpus is read once and never re-shuffled. The term-margin
    join keys on term (vocabulary-sized dimension, AQE broadcasts it
    when it fits); lang margins and N are tiny broadcast frames. The
    final per-lang top-5 window runs on the FILTERED vocabulary frame
    (dimension-bounded, not corpus-bounded), so the low-cardinality
    partition is safe here.

    Bit portability: χ² = N·(ad−bc)² / ((a+b)(c+d)(a+c)(b+d)) is
    emitted as the PINNED half-up micro ratio (2·10⁶·num + den) div
    (2·den), computed wholly in DECIMAL(38,0)/HUGEINT — never as a
    double. The r9 full-sf0.1 sweep caught why the earlier "one IEEE
    division of exactly-cast integers" form was unsound: the operands
    exceed 2⁵³, and DuckDB's HUGEINT→DOUBLE cast is double-rounded
    (upper·2⁶⁴ + lower in floating point) while Spark's
    DECIMAL→DOUBLE is correctly rounded — a data-dependent ±1-2 ulp
    divergence invisible at sf0.01. Integer headroom: 2·10⁶·num needs
    ~27 digits at sf0.1 (fits 38), and chi2_micro ≤ 10⁶·N fits int64
    through N ≈ 9·10¹² tokens; beyond that drop the quantum, not the
    integer discipline. (ad−bc) stays within BIGINT below ~2×10⁹
    tokens per margin; the DECIMAL/HUGEINT widening covers the
    products."""
    docs = load_table(spark, sf_dir, "documents")
    tok = spread_for_compute(docs).select(
        "lang",
        F.explode(tokens(normalize_text("text"))).alias("term"),
    )
    cell = tok.groupBy("lang", "term").agg(
        F.count(F.lit(1)).cast("long").alias("a")
    )
    tt = cell.groupBy("term").agg(F.sum("a").cast("long").alias("term_total"))
    lt = cell.groupBy("lang").agg(F.sum("a").cast("long").alias("lang_total"))
    tot = cell.agg(F.sum("a").cast("long").alias("n"))
    abcd = (
        cell.join(tt, "term")
        .join(F.broadcast(lt), "lang")
        .crossJoin(F.broadcast(tot))
        .filter(
            (F.col("term_total") >= _Q155_MIN_TERM)
            & (F.col("a") >= _Q155_MIN_CELL)
        )
        .select(
            "lang",
            "term",
            "a",
            (F.col("term_total") - F.col("a")).alias("b"),
            (F.col("lang_total") - F.col("a")).alias("c2"),
            (
                F.col("n") - F.col("term_total") - F.col("lang_total")
                + F.col("a")
            ).alias("d"),
            "n",
        )
    )
    dec = "decimal(38,0)"
    diff = (F.col("a") * F.col("d") - F.col("b") * F.col("c2")).cast(dec)
    num = F.col("n").cast(dec) * diff * diff
    den = (
        (F.col("a") + F.col("b")).cast(dec)
        * (F.col("c2") + F.col("d")).cast(dec)
        * (F.col("a") + F.col("c2")).cast(dec)
        * (F.col("b") + F.col("d")).cast(dec)
    )
    # decimal `div` TRUNCATES TOWARD ZERO (IntegralDivide) and returns
    # BIGINT, while DuckDB `//` FLOORS — they agree only because this
    # numerator (n·(ad−bc)²) is provably ≥ 0 and the denominator > 0;
    # a decimal `/` followed by a cast would HALF_UP-round — the wrong
    # half of the pinned (2Kx + y) div 2y idiom. Reusing the idiom for
    # a SIGNED metric needs an explicit sign-split (PLANS.md rule #17
    # states the num ≥ 0, den > 0 precondition).
    scored = abcd.withColumn("_num", num).withColumn("_den", den).selectExpr(
        "lang",
        "term",
        "a",
        "CAST((CAST(2000000 AS DECIMAL(38,0)) * _num + _den)"
        " div (CAST(2 AS DECIMAL(38,0)) * _den) AS BIGINT) AS chi2_micro",
    )
    w = Window.partitionBy("lang").orderBy(F.desc("chi2_micro"), "term")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _Q155_TOPK)
        .select("lang", "term", "a", "chi2_micro")
    )


# ---------------------------------------------------------------------------
# q156 — rendezvous (highest-random-weight) sharding
# ---------------------------------------------------------------------------

_Q156_SHARDS = 8  # before; after = 9

_Q156_ORACLE = f"""
WITH w AS (
  SELECT doc_id, s,
         ('0x' || substring(md5('hrw-v1:' || CAST(s AS VARCHAR) || ':'
            || CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT AS wt
  FROM documents, range({_Q156_SHARDS + 1}) r(s)
), a8 AS (
  SELECT doc_id, s AS shard8 FROM (
    SELECT doc_id, s,
           row_number() OVER (PARTITION BY doc_id ORDER BY wt DESC, s) AS rn
    FROM w WHERE s < {_Q156_SHARDS}
  ) WHERE rn = 1
), a9 AS (
  SELECT doc_id, s AS shard9 FROM (
    SELECT doc_id, s,
           row_number() OVER (PARTITION BY doc_id ORDER BY wt DESC, s) AS rn
    FROM w
  ) WHERE rn = 1
), j AS (
  SELECT shard8, shard9 FROM a8 JOIN a9 USING (doc_id)
), p9 AS (
  SELECT shard9 AS shard, CAST(count(*) AS BIGINT) AS n_after,
         CAST(sum(CASE WHEN shard8 <> shard9 THEN 1 ELSE 0 END) AS BIGINT)
           AS moved_in
  FROM j GROUP BY shard9
), p8 AS (
  SELECT shard8 AS shard, CAST(count(*) AS BIGINT) AS n_before
  FROM j GROUP BY shard8
)
SELECT shard, coalesce(n_before, 0) AS n_before, n_after, moved_in
FROM p9 LEFT JOIN p8 USING (shard)
"""


def _hrw_shard(n_shards: int) -> Column:
    """argmax over shards of the salted 48-bit weight — row-local
    column algebra: an n-element struct array sorted descending.
    The struct's second field is −s so md5-collision ties break
    ascending on shard id, matching the oracle's ORDER BY wt DESC, s."""
    entries = [
        F.struct(
            _u48(F.col("doc_id"), f"hrw-v1:{s}:").alias("wt"),
            F.lit(-s).alias("neg_s"),
        )
        for s in range(n_shards)
    ]
    top = F.sort_array(F.array(*entries), asc=False)[0]
    return (-top["neg_s"]).cast("long")


@register("q156_rendezvous_sharding", _Q156_ORACLE)
def q156(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rendezvous (HRW) sharding with a measured re-shard: every doc
    hashes to argmax_s md5(salt‖s‖doc_id) under 8 and under 9 shards;
    the query emits per-shard counts before/after plus how many rows
    MOVED into each shard. HRW's guarantee — growing S→S+1 moves only
    ~1/(S+1) of rows, all INTO the new shard — shows up directly in
    the result (moved_in = 0 for shards 0–7, n_after for shard 8).

    Scale: assignment is row-local md5 algebra over a 9-literal
    struct array (zero shuffle, stable under any partitioning — the
    property that makes HRW the right shard map for incremental
    100 TB corpus re-layout); the only shuffles are two 9-group
    map-side-combined counts over bigint shard ids, and the join of
    two 9-row frames. The oracle cross-joins a range() and re-derives
    the same argmax via a window — same math, different shape."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    assigned = docs.select(
        _hrw_shard(_Q156_SHARDS).alias("shard8"),
        _hrw_shard(_Q156_SHARDS + 1).alias("shard9"),
    )
    p9 = assigned.groupBy(F.col("shard9").alias("shard")).agg(
        F.count(F.lit(1)).cast("long").alias("n_after"),
        F.sum(
            (F.col("shard8") != F.col("shard9")).cast("long")
        ).alias("moved_in"),
    )
    p8 = assigned.groupBy(F.col("shard8").alias("shard")).agg(
        F.count(F.lit(1)).cast("long").alias("n_before")
    )
    return p9.join(p8, "shard", "left").select(
        "shard",
        F.coalesce("n_before", F.lit(0).cast("long")).alias("n_before"),
        "n_after",
        "moved_in",
    )


# ---------------------------------------------------------------------------
# q157 — k-anonymity generalization ladder
# ---------------------------------------------------------------------------

_Q157_K = 5

_Q157_ORACLE = f"""
WITH base AS (
  SELECT c_mktsegment AS seg, c_nationkey AS nat,
         CAST(floor(CAST(round(c_acctbal * 100) AS BIGINT)
                    / 10000.0) AS BIGINT) AS b0,
         CAST(floor(CAST(round(c_acctbal * 100) AS BIGINT)
                    / 100000.0) AS BIGINT) AS b1
  FROM customer
), g0 AS (
  SELECT seg, nat, b0, count(*) AS c0 FROM base GROUP BY seg, nat, b0
), g1 AS (
  SELECT seg, nat, b1, count(*) AS c1 FROM base GROUP BY seg, nat, b1
), g2 AS (
  SELECT seg, count(*) AS c2 FROM base GROUP BY seg
), lev AS (
  SELECT base.seg, base.nat, base.b0, base.b1,
         CASE WHEN c0 >= {_Q157_K} THEN 0
              WHEN c1 >= {_Q157_K} THEN 1
              WHEN c2 >= {_Q157_K} THEN 2
              ELSE 3 END AS level
  FROM base
  JOIN g0 USING (seg, nat, b0)
  JOIN g1 USING (seg, nat, b1)
  JOIN g2 USING (seg)
), keyed AS (
  SELECT seg, level,
         CASE level
           WHEN 0 THEN CAST(nat AS VARCHAR) || ':' || CAST(b0 AS VARCHAR)
           WHEN 1 THEN CAST(nat AS VARCHAR) || ':' || CAST(b1 AS VARCHAR)
           WHEN 2 THEN ''
           ELSE 'x' END AS gkey
  FROM lev
)
SELECT seg, CAST(level AS INTEGER) AS level,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(DISTINCT gkey) AS BIGINT) AS n_groups
FROM keyed GROUP BY seg, level
"""


@register("q157_k_anonymity", _Q157_ORACLE)
def q157(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity generalization ladder over the customer quasi-
    identifier (segment, nation, account-balance bucket): each row
    climbs level 0 ($100 buckets) → level 1 ($1000 buckets) → level 2
    (drop balance entirely) until its equivalence class holds ≥ k=5
    rows; rows that never reach k are suppressed (level 3). The
    privacy/compliance tier next to PII scrubbing (q63) and the
    forget audit (q84).

    Scale: the three equivalence-class count frames are GROUP BY
    aggregates over the quasi-identifier (dimension-sized — bounded
    by |segments|×|nations|×|buckets|, not by rows), map-side
    combined; each joins back on its own QI key and AQE broadcasts
    the ones that fit. Buckets come from exact integer cents
    (round(bal·100)) floored through one IEEE division — boundary-
    safe because a quotient can only land ON an integer when the
    division is exact (the cents are a multiple of the bucket)."""
    cust = load_table(spark, sf_dir, "customer")
    cents = F.round(F.col("c_acctbal") * 100).cast("long")
    base = cust.select(
        F.col("c_mktsegment").alias("seg"),
        F.col("c_nationkey").alias("nat"),
        F.floor(cents / F.lit(10000.0)).cast("long").alias("b0"),
        F.floor(cents / F.lit(100000.0)).cast("long").alias("b1"),
    )
    g0 = base.groupBy("seg", "nat", "b0").agg(F.count(F.lit(1)).alias("c0"))
    g1 = base.groupBy("seg", "nat", "b1").agg(F.count(F.lit(1)).alias("c1"))
    g2 = base.groupBy("seg").agg(F.count(F.lit(1)).alias("c2"))
    lev = (
        base.join(g0, ["seg", "nat", "b0"])
        .join(g1, ["seg", "nat", "b1"])
        .join(F.broadcast(g2), "seg")
        .select(
            "seg",
            "nat",
            "b0",
            "b1",
            F.when(F.col("c0") >= _Q157_K, 0)
            .when(F.col("c1") >= _Q157_K, 1)
            .when(F.col("c2") >= _Q157_K, 2)
            .otherwise(3)
            .alias("level"),
        )
    )
    gkey = (
        F.when(
            F.col("level") == 0,
            F.concat_ws(":", F.col("nat"), F.col("b0")),
        )
        .when(
            F.col("level") == 1,
            F.concat_ws(":", F.col("nat"), F.col("b1")),
        )
        .when(F.col("level") == 2, F.lit(""))
        .otherwise(F.lit("x"))
    )
    return (
        lev.select("seg", "level", gkey.alias("gkey"))
        .groupBy("seg", "level")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.countDistinct("gkey").alias("n_groups"),
        )
    )


# ---------------------------------------------------------------------------
# q158 — watermark late-data audit
# ---------------------------------------------------------------------------

_Q158_ACCEPT = 600  # 10 min watermark: later than this is "late"
_Q158_DROP = 1800  # 30 min: later than this would be dropped

_Q158_ORACLE = f"""
WITH e AS (
  SELECT event_id,
         epoch_us(CAST(ts AS TIMESTAMP)) // 1000000 AS tsec,
         date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hr
  FROM events
), w AS (
  SELECT hr, tsec,
         max(tsec) OVER (
           ORDER BY event_id ROWS BETWEEN UNBOUNDED PRECEDING
           AND 1 PRECEDING
         ) AS wm
  FROM e
), s AS (
  SELECT hr,
         greatest(coalesce(wm - tsec, 0), 0) AS lateness
  FROM w
)
SELECT hr,
       CASE WHEN lateness <= {_Q158_ACCEPT} THEN 'on_time'
            WHEN lateness <= {_Q158_DROP} THEN 'late'
            ELSE 'dropped' END AS status,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(max(lateness) AS BIGINT) AS max_late_sec
FROM s GROUP BY 1, 2
"""


@register("q158_late_data_audit", _Q158_ORACLE)
def q158(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming watermark semantics replayed over the
    batch table: arrival order is the ingest id (event_id), the
    watermark is the running max of event time over arrivals, and a
    row's lateness is watermark − its own event time. Per event-hour,
    how many rows were on time (≤10 min), late-but-accepted (≤30 min
    — what `withWatermark("ts", "30 minutes")` would still admit),
    or dropped — the audit that sizes a stream's watermark BEFORE
    deploying it (companion to the live streaming tier q53/q68/q113).

    Scale: the global running max over arrival order is the funnel
    shape `MAX() OVER (ORDER BY ...)` — routed through
    scalable_running_max (range exchange + P-row partition-maxima
    broadcast), never a single-task window. The rest is one
    (hour, status) map-side-combined aggregate."""
    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        "event_id",
        F.col("ts").cast("long").alias("tsec"),
        F.date_trunc("hour", "ts").alias("hr"),
        F.lit(1).alias("g"),
    )
    w = scalable_running_max(
        e, part_col="g", order_cols=("event_id",), val_col="tsec",
        out_col="wm", strict_preceding=True,
    )
    lateness = F.greatest(
        F.coalesce(F.col("wm") - F.col("tsec"), F.lit(0)), F.lit(0)
    )
    status = (
        F.when(lateness <= _Q158_ACCEPT, "on_time")
        .when(lateness <= _Q158_DROP, "late")
        .otherwise("dropped")
    )
    return (
        w.select("hr", status.alias("status"), lateness.alias("lateness"))
        .groupBy("hr", "status")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.max("lateness").cast("long").alias("max_late_sec"),
        )
    )


# ---------------------------------------------------------------------------
# q159 — deterministic Poisson bootstrap confidence interval
# ---------------------------------------------------------------------------

_Q159_B = 32
# inverse-CDF thresholds of Poisson(1) scaled to the 48-bit hash
# space (driver-side constants — both engines compare against the
# SAME literals, so no libm call ever runs in either plan)
_Q159_T = (
    103548857136060,   # P(X<=0)
    207097714272121,   # P(X<=1)
    258872142840152,   # P(X<=2)
    276130285696162,   # P(X<=3)
    280444821410164,   # P(X<=4)
)

_Q159_CASE_SQL = (
    "CASE WHEN u < 103548857136060 THEN 0 "
    "WHEN u < 207097714272121 THEN 1 "
    "WHEN u < 258872142840152 THEN 2 "
    "WHEN u < 276130285696162 THEN 3 "
    "WHEN u < 280444821410164 THEN 4 ELSE 5 END"
)

_Q159_ORACLE = f"""
WITH src AS (
  SELECT event_id, CAST(round(value * 100) AS BIGINT) AS cents
  FROM events WHERE event_type = 'purchase'
), drawn AS (
  SELECT b,
         ('0x' || substring(md5('boot-v1:' || CAST(b AS VARCHAR) || ':'
            || CAST(event_id AS VARCHAR)), 1, 12))::BIGINT AS u,
         cents
  FROM src, range({_Q159_B}) r(b)
), weighted AS (
  SELECT b, {_Q159_CASE_SQL} AS w, cents FROM drawn
), rep AS (
  SELECT b, CAST(sum(w) AS BIGINT) AS n_eff,
         CAST(sum(w * cents) AS BIGINT) AS tot_cents
  FROM weighted GROUP BY b
), scored AS (
  SELECT b, n_eff, tot_cents,
         CAST(tot_cents AS DOUBLE) / CAST(n_eff AS DOUBLE) AS mean_val
  FROM rep
)
SELECT b, n_eff, tot_cents, mean_val,
       CAST(row_number() OVER (ORDER BY mean_val, b) AS BIGINT) AS rk
FROM scored
"""


@register("q159_poisson_bootstrap", _Q159_ORACLE)
def q159(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Poisson bootstrap of the mean purchase value —
    THE resampling scheme that works at 100 TB: classical bootstrap
    needs n draws WITH replacement from the whole corpus (a global
    shuffle per replicate), while Poisson(1) weights are row-LOCAL
    (each row draws its own replicate multiset membership), so all
    {B} replicates ride one scan. The replicate means, ranked, are
    the bootstrap distribution — rk 2/31 of 32 bracket a ~90 % CI.

    Determinism: the Poisson draw is the salted 48-bit hash compared
    against PRECOMPUTED inverse-CDF literals (driver constants — the
    engines never call exp()), so every replicate is bit-reproducible
    and the whole bootstrap distribution is value-oracle-checked.
    Each replicate mean is one IEEE division of two exact BIGINTs.

    Scale: the ×{B} row expansion collapses immediately into a
    map-side-combined (b, Σw, Σw·cents) aggregate — the shuffle
    carries {B} rows per task, the ranking window sees {B} rows
    total. Doubling precision (B=64) doubles neither scan nor
    shuffle volume meaningfully."""
    ev = load_table(spark, sf_dir, "events")
    src = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", F.round(F.col("value") * 100).cast("long").alias("cents")
    )
    drawn = src.select(
        F.explode(F.sequence(F.lit(0), F.lit(_Q159_B - 1))).alias("b"),
        "event_id",
        "cents",
    ).select(
        "b",
        "cents",
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit("boot-v1:"),
                        F.col("b").cast("string"),
                        F.lit(":"),
                        F.col("event_id").cast("string"),
                    )
                ),
                1,
                12,
            ),
            16,
            10,
        )
        .cast("long")
        .alias("u"),
    )
    w = (
        F.when(F.col("u") < _Q159_T[0], 0)
        .when(F.col("u") < _Q159_T[1], 1)
        .when(F.col("u") < _Q159_T[2], 2)
        .when(F.col("u") < _Q159_T[3], 3)
        .when(F.col("u") < _Q159_T[4], 4)
        .otherwise(5)
    )
    rep = (
        drawn.select("b", "cents", w.alias("w"))
        .groupBy("b")
        .agg(
            F.sum("w").cast("long").alias("n_eff"),
            F.sum(F.col("w") * F.col("cents")).cast("long").alias("tot_cents"),
        )
    )
    scored = rep.select(
        "b",
        "n_eff",
        "tot_cents",
        (
            F.col("tot_cents").cast("double") / F.col("n_eff").cast("double")
        ).alias("mean_val"),
    )
    rkw = Window.orderBy("mean_val", "b")  # 32 rows — metadata-sized
    return scored.withColumn(
        "rk", F.row_number().over(rkw).cast("long")
    )


# ---------------------------------------------------------------------------
# q160 — burst detection with an exact-integer variance test
# ---------------------------------------------------------------------------

_Q160_MIN_HIST = 12

_Q160_ORACLE = f"""
WITH hourly AS (
  SELECT event_type,
         date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hr,
         epoch_us(date_trunc('hour', CAST(ts AS TIMESTAMP))) // 1000000
           AS hsec,
         CAST(count(*) AS BIGINT) AS cnt
  FROM events GROUP BY 1, 2, 3
), trailed AS (
  SELECT event_type, hr, cnt,
         CAST(count(*) OVER w AS BIGINT) AS n_hist,
         CAST(coalesce(sum(cnt) OVER w, 0) AS BIGINT) AS s,
         CAST(coalesce(sum(cnt * cnt) OVER w, 0) AS BIGINT) AS q
  FROM hourly
  WINDOW w AS (
    PARTITION BY event_type ORDER BY hsec
    RANGE BETWEEN 86400 PRECEDING AND 3600 PRECEDING
  )
)
SELECT event_type, hr, cnt, n_hist, s, q,
       (n_hist * cnt - s) * (n_hist * cnt - s) AS dev_sq,
       9 * (n_hist * q - s * s) AS var_bound,
       (n_hist * cnt - s > 0
        AND (n_hist * cnt - s) * (n_hist * cnt - s)
            > 9 * (n_hist * q - s * s)) AS is_burst
FROM trailed
WHERE n_hist >= {_Q160_MIN_HIST}
"""


@register("q160_burst_detection", _Q160_ORACLE)
def q160(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type burst detection: an hour is a burst when its event
    count exceeds the trailing-24 h mean by 3σ — with the test done
    ENTIRELY in exact integers: (n·cnt − S)² > 9·(n·Q − S²) is the
    3σ z-test cleared of its divisions and square root (n = hours
    present in the window, S = Σcnt, Q = Σcnt²), so the verdict
    column is bit-portable with no float anywhere in the query.

    The trailing window is RANGE-based over epoch seconds (86400..
    3600 preceding), not ROWS — hours with zero events are simply
    absent, and a ROWS frame would silently stretch across them;
    RANGE keeps the physical 24 h horizon and n_hist carries the
    true sample size.

    Scale: the corpus collapses to the (type, hour) frame in one
    map-side-combined aggregate — everything after runs on
    |types|×|hours| dimension rows, so the low-cardinality window
    partition is metadata-sized by construction (the same bound as
    q18's rollup), never a corpus funnel."""
    ev = load_table(spark, sf_dir, "events")
    hourly = (
        ev.select(
            "event_type", F.date_trunc("hour", "ts").alias("hr")
        )
        .groupBy("event_type", "hr")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .withColumn("hsec", F.col("hr").cast("long"))
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("hsec")
        .rangeBetween(-86400, -3600)
    )
    trailed = hourly.select(
        "event_type",
        "hr",
        "cnt",
        F.count(F.lit(1)).over(w).cast("long").alias("n_hist"),
        F.coalesce(F.sum("cnt").over(w), F.lit(0))
        .cast("long")
        .alias("s"),
        F.coalesce(F.sum(F.col("cnt") * F.col("cnt")).over(w), F.lit(0))
        .cast("long")
        .alias("q"),
    )
    dev = F.col("n_hist") * F.col("cnt") - F.col("s")
    var_bound = 9 * (
        F.col("n_hist") * F.col("q") - F.col("s") * F.col("s")
    )
    return trailed.filter(F.col("n_hist") >= _Q160_MIN_HIST).select(
        "event_type",
        "hr",
        "cnt",
        "n_hist",
        "s",
        "q",
        (dev * dev).alias("dev_sq"),
        var_bound.alias("var_bound"),
        ((dev > 0) & (dev * dev > var_bound)).alias("is_burst"),
    )


# ---------------------------------------------------------------------------
# q161 — prefix-filter set-similarity join (PPJoin family)
# ---------------------------------------------------------------------------

_Q161_PCT = 60

_Q161_ORACLE = f"""
WITH base AS (
  SELECT doc_id,
         list_distinct(list_transform(
           generate_series(1, greatest(len(string_split({_NORM_SQL}, ' ')) - 2, 1)),
           i -> array_to_string(string_split({_NORM_SQL}, ' ')[i:i+2], ' ')
         )) AS sh
  FROM documents
), tok AS (
  SELECT doc_id, unnest(sh) AS term FROM base
), dfreq AS (
  SELECT term, count(*) AS dfc FROM tok GROUP BY term
), pos AS (
  SELECT doc_id, term,
         row_number() OVER (PARTITION BY doc_id ORDER BY dfc, term) AS idx,
         count(*) OVER (PARTITION BY doc_id) AS n
  FROM tok JOIN dfreq USING (term)
), pref AS (
  SELECT doc_id, term FROM pos
  WHERE idx <= n - ({_Q161_PCT} * n + 99) // 100 + 1
), cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM pref a JOIN pref b
    ON a.term = b.term AND a.doc_id < b.doc_id
), sizes AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM tok GROUP BY doc_id
), inter AS (
  SELECT c.doc_a, c.doc_b, CAST(count(*) AS BIGINT) AS inter
  FROM cand c
  JOIN tok ta ON ta.doc_id = c.doc_a
  JOIN tok tb ON tb.doc_id = c.doc_b AND tb.term = ta.term
  GROUP BY c.doc_a, c.doc_b
)
SELECT i.doc_a, i.doc_b, i.inter, sa.n AS n_a, sb.n AS n_b,
       CAST(i.inter AS DOUBLE)
         / CAST(sa.n + sb.n - i.inter AS DOUBLE) AS jaccard
FROM inter i
JOIN sizes sa ON sa.doc_id = i.doc_a
JOIN sizes sb ON sb.doc_id = i.doc_b
WHERE 100 * i.inter >= {_Q161_PCT} * (sa.n + sb.n - i.inter)
"""


@register("q161_prefix_filter_pairs", _Q161_ORACLE)
def q161(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact shingle-set similarity join (Jaccard >= 0.6) by prefix
    filtering — the PPJoin-family candidate generator: exact recall
    with NO df cap, because sets with Jaccard >= t must share a token
    among each other's rarest (n − ⌈t·n⌉ + 1) tokens under one global
    frequency order. Completes the candidate-generation quartet: LSH
    bands (probabilistic), posting self-join (exact, capped-lossy),
    sorted neighborhood (linear), prefix filter (exact, uncapped).
    See operators/dedup.py::prefix_filter_pairs for the scale shape
    (prefix tokens are the LOW-df vocabulary end, so the self-join's
    posting lists are short by construction; verification arrays move
    once, keyed by candidate pair). All prefix lengths and the
    similarity cut are exact integer arithmetic — the emitted jaccard
    double is display-only."""
    from ..operators.dedup import prefix_filter_pairs

    docs = load_table(spark, sf_dir, "documents")
    return prefix_filter_pairs(docs, threshold_pct=_Q161_PCT, k=3)


# ---------------------------------------------------------------------------
# q162 — GROUPING SETS with grouping_id provenance
# ---------------------------------------------------------------------------

_Q162_ORACLE = """
SELECT o_orderstatus, o_orderpriority,
       CAST(GROUPING(o_orderstatus) AS INTEGER) AS g_status,
       CAST(GROUPING(o_orderpriority) AS INTEGER) AS g_priority,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         AS total_cents
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority),
                        (o_orderstatus, o_orderpriority), ())
"""


@register("q162_grouping_sets", _Q162_ORACLE)
def q162(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary GROUPING SETS with GROUPING() provenance flags — the
    general form of the cube (q46) / rollup (q37) tier, via Spark SQL
    (the DataFrame API has cube/rollup but not arbitrary sets; the
    SQL surface IS part of the engine). One Expand node feeds a
    single map-side-combined aggregate — the four groupings shuffle
    together, never as four scans; grouping flags disambiguate the
    NULL-as-ALL rows exactly as in the oracle.

    Scale: Expand multiplies rows by |sets| BEFORE partial
    aggregation collapses them to the grouping keys — the shuffle
    carries |sets|×|distinct keys| rows, not |sets|×|input|."""
    orders = load_table(spark, sf_dir, "orders")
    orders.select(
        "o_orderstatus",
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    ).createOrReplaceTempView("q162_orders")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               CAST(grouping(o_orderstatus) AS INT) AS g_status,
               CAST(grouping(o_orderpriority) AS INT) AS g_priority,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(sum(cents) AS BIGINT) AS total_cents
        FROM q162_orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority),
                                (o_orderstatus, o_orderpriority), ())
        """
    )


# ---------------------------------------------------------------------------
# q163 — FORWARD as-of join (next-event attribution)
# ---------------------------------------------------------------------------

_Q163_ORACLE = """
WITH c AS (
  SELECT event_id AS click_id, user_id, CAST(ts AS TIMESTAMP) AS cts
  FROM events WHERE event_type = 'click'
), p AS (
  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS pts, value
  FROM events WHERE event_type = 'purchase'
), m AS (
  SELECT c.click_id, c.user_id, c.cts, min(p.pts) AS pts
  FROM c LEFT JOIN p ON p.user_id = c.user_id AND p.pts >= c.cts
  GROUP BY c.click_id, c.user_id, c.cts
), sel AS (
  SELECT m.click_id, m.user_id, m.cts, m.pts, p.value,
         row_number() OVER (
           PARTITION BY m.click_id ORDER BY p.event_id
         ) AS rn
  FROM m LEFT JOIN p ON p.user_id = m.user_id AND p.pts = m.pts
)
SELECT click_id, user_id,
       CAST(date_diff('second', cts, pts) AS BIGINT) AS secs_to_purchase,
       value AS purchase_value
FROM sel WHERE rn = 1
"""


@register("q163_asof_forward", _Q163_ORACLE)
def q163(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of join: each click matched to the EARLIEST purchase
    at or after it (same user) — next-event attribution / label
    lookahead, the mirror of q42's backward "last known value". Same
    union-and-carry physical shape (one user-keyed shuffle + one
    sort — window cost, never an inequality join's nested loop), with
    the carry reversed: right rows sort AFTER left rows at equal
    timestamps and first(ignorenulls) runs over the FOLLOWING frame;
    same-timestamp purchases tie-break to the smallest event_id (the
    frame-nearest row from the right side). The oracle is the naive
    min-over-inequality-join formulation — each driver row proves the
    carry trick against the quadratic baseline. Gap seconds are an
    exact integer difference of epoch seconds; the purchase value is
    a raw per-row passthrough."""
    from ..operators.temporal import as_of_join

    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", "ts"
    )
    purch = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value", "event_id"
    )
    j = as_of_join(
        clicks,
        purch,
        on=["user_id"],
        left_ts="ts",
        right_ts="ts",
        right_cols=["value"],
        right_tiebreaker="event_id",
        direction="forward",
    )
    return j.select(
        "click_id",
        "user_id",
        (F.col("asof_ts").cast("long") - F.col("ts").cast("long")).alias(
            "secs_to_purchase"
        ),
        F.col("asof_value").alias("purchase_value"),
    )


# ---------------------------------------------------------------------------
# q164 — Gini concentration per group (exact integer moments)
# ---------------------------------------------------------------------------

_Q164_ORACLE = """
WITH base AS (
  SELECT o_orderpriority AS prio,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
         o_orderkey AS k
  FROM orders
), ranked AS (
  SELECT prio, cents,
         row_number() OVER (PARTITION BY prio ORDER BY cents, k) AS i
  FROM base
), mom AS (
  SELECT prio, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(cents) AS BIGINT) AS total_cents,
         CAST(sum(CAST(i AS HUGEINT) * CAST(cents AS HUGEINT))
              AS HUGEINT) AS siy
  FROM ranked GROUP BY prio
)
SELECT prio, n, total_cents,
       CAST((2000000 * (2 * siy - CAST((n + 1) AS HUGEINT)
                        * CAST(total_cents AS HUGEINT))
             + CAST(n AS HUGEINT) * CAST(total_cents AS HUGEINT))
            // (2 * CAST(n AS HUGEINT) * CAST(total_cents AS HUGEINT))
            AS BIGINT) AS gini_micro
FROM mom
"""


@register("q164_gini_concentration", _Q164_ORACLE)
def q164(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-priority Gini coefficient of order revenue — the
    inequality/concentration metric a mixture pipeline watches (is
    one source's token mass concentrating into few documents?) —
    computed from exact integer moments: with values ranked ascending
    per group, G = (2·Σi·yᵢ − (n+1)·Σy) / (n·Σy), emitted as the
    PINNED half-up micro ratio computed wholly in
    DECIMAL(38,0)/HUGEINT (the q227 shape). Σi·y reaches n²·y̅ —
    already past 2⁵³ at sf0.1 — and the r9 q155 finding showed
    DuckDB's HUGEINT→DOUBLE cast is double-rounded, so the former
    "one division of exactly-cast integers" form was a latent
    data-dependent ±ulp divergence (PLANS.md rule #17).

    The 5-value priority column never becomes a window partition: the
    ranking is grouped_row_number (one global scalable_row_number over
    (prio, cents, key) minus broadcast per-group offsets). One range
    exchange + one map-side-combined moment aggregate — no second
    pass, no sort of the moments."""
    orders = load_table(spark, sf_dir, "orders")
    base = orders.select(
        F.col("o_orderpriority").alias("prio"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        F.col("o_orderkey").alias("k"),
    )
    ranked = grouped_row_number(base, "prio", ("cents", "k"), out_col="i")
    dec = "decimal(38,0)"
    mom = (
        ranked.select("prio", "cents", "i")
        .groupBy("prio")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("cents").cast("long").alias("total_cents"),
            F.sum(
                (F.col("i").cast(dec) * F.col("cents").cast(dec))
            ).cast(dec).alias("siy"),
        )
    )
    num = (
        F.lit(2).cast(dec) * F.col("siy")
        - (F.col("n") + 1).cast(dec) * F.col("total_cents").cast(dec)
    )
    den = F.col("n").cast(dec) * F.col("total_cents").cast(dec)
    return mom.withColumn("_num", num).withColumn("_den", den).selectExpr(
        "prio",
        "n",
        "total_cents",
        "CAST((CAST(2000000 AS DECIMAL(38,0)) * _num + _den)"
        " div (CAST(2 AS DECIMAL(38,0)) * _den) AS BIGINT) AS gini_micro",
    )


# ---------------------------------------------------------------------------
# q165 — frequent item pairs (market-basket association)
# ---------------------------------------------------------------------------

_Q165_MIN_SUPPORT = 2

_Q165_ORACLE = f"""
WITH items AS (
  SELECT DISTINCT l_orderkey AS okey, l_partkey AS part FROM lineitem
), pc AS (
  SELECT part, CAST(count(*) AS BIGINT) AS cnt FROM items GROUP BY part
), nb AS (
  SELECT CAST(count(DISTINCT okey) AS BIGINT) AS n_baskets FROM items
), pairs AS (
  SELECT a.part AS part_a, b.part AS part_b,
         CAST(count(*) AS BIGINT) AS support
  FROM items a JOIN items b ON a.okey = b.okey AND a.part < b.part
  GROUP BY a.part, b.part
), f AS (
  SELECT * FROM pairs WHERE support >= {_Q165_MIN_SUPPORT}
)
SELECT part_a, part_b, support, ca.cnt AS cnt_a, cb.cnt AS cnt_b,
       CAST(support * n_baskets AS DOUBLE)
         / CAST(ca.cnt * cb.cnt AS DOUBLE) AS lift
FROM f
JOIN pc ca ON ca.part = f.part_a
JOIN pc cb ON cb.part = f.part_b
CROSS JOIN nb
"""


@register("q165_frequent_pairs", _Q165_ORACLE)
def q165(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent item PAIRS with lift — the Apriori second pass
    (co-occurrence mining over baskets), the association-rule
    primitive next to PMI (q136, token windows) but over transaction
    baskets with support counting.

    Scale: the pair explosion is per-basket quadratic but baskets are
    small (≤7 lineitems) — the self-join on the basket key fans out
    |basket|² per order, bounded by data model, and collapses
    map-side into (pair, support) counts; a pathological mega-basket
    would need a basket-size cap, the same guard as q26's max_df.
    Item counts and the basket total are dimension-sized; lift is one
    IEEE division of exact integer products."""
    li = load_table(spark, sf_dir, "lineitem")
    # pinned: the distinct basket frame feeds FOUR consumers (item
    # counts, the basket total, and both self-join sides) — unpinned,
    # the lineitem scan + distinct exchange ran once per consumer
    # (the q268 basket-frame posture)
    items = li.select(
        F.col("l_orderkey").alias("okey"), F.col("l_partkey").alias("part")
    ).distinct().transform(_pin)
    pc = items.groupBy("part").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    nb = items.agg(F.countDistinct("okey").alias("n_baskets"))
    pairs = (
        items.alias("a")
        .join(
            items.alias("b"),
            [
                F.col("a.okey") == F.col("b.okey"),
                F.col("a.part") < F.col("b.part"),
            ],
        )
        .groupBy(
            F.col("a.part").alias("part_a"), F.col("b.part").alias("part_b")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("support"))
        .filter(F.col("support") >= _Q165_MIN_SUPPORT)
    )
    return (
        pairs.join(
            pc.select(F.col("part").alias("part_a"), F.col("cnt").alias("cnt_a")),
            "part_a",
        )
        .join(
            pc.select(F.col("part").alias("part_b"), F.col("cnt").alias("cnt_b")),
            "part_b",
        )
        .crossJoin(F.broadcast(nb))
        .select(
            "part_a",
            "part_b",
            "support",
            "cnt_a",
            "cnt_b",
            (
                (F.col("support") * F.col("n_baskets")).cast("double")
                / (F.col("cnt_a") * F.col("cnt_b")).cast("double")
            ).alias("lift"),
        )
    )


# ---------------------------------------------------------------------------
# q166 — Merkle-style snapshot diff by range digests
# ---------------------------------------------------------------------------

_Q166_MOD_THRESH = int(0.005 * HASH_SPACE)

_Q166_U48_ROW = (
    "('0x' || substring(md5('row-v1' || CAST(k AS VARCHAR) || ':'"
    " || CAST(cents AS VARCHAR)), 1, 12))::BIGINT"
)

_Q166_ORACLE = f"""
WITH a AS (
  SELECT o_orderkey AS k,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
), b AS (
  SELECT k,
         CASE WHEN ('0x' || substring(md5('mod-v1'
                || CAST(k AS VARCHAR)), 1, 12))::BIGINT
                < {_Q166_MOD_THRESH}
              THEN cents + 1 ELSE cents END AS cents
  FROM a
), da AS (
  SELECT k // 10000 AS b0, k // 1000 AS b1,
         CAST(count(*) AS BIGINT) AS rows_a,
         CAST(sum({_Q166_U48_ROW}) AS BIGINT) AS hsum_a
  FROM a GROUP BY 1, 2
), db AS (
  SELECT k // 10000 AS b0, k // 1000 AS b1,
         CAST(count(*) AS BIGINT) AS rows_b,
         CAST(sum({_Q166_U48_ROW}) AS BIGINT) AS hsum_b
  FROM b GROUP BY 1, 2
), dirty AS (
  SELECT b0, b1, rows_a, rows_b FROM da JOIN db USING (b0, b1)
  WHERE hsum_a <> hsum_b OR rows_a <> rows_b
), drill AS (
  SELECT a.k // 1000 AS b1, CAST(count(*) AS BIGINT) AS n_changed
  FROM a JOIN b USING (k)
  WHERE a.cents <> b.cents AND a.k // 1000 IN (SELECT b1 FROM dirty)
  GROUP BY 1
)
SELECT d.b0, d.b1, d.rows_a AS n_rows, coalesce(dr.n_changed, 0) AS n_changed
FROM dirty d LEFT JOIN drill dr ON dr.b1 = d.b1
"""


@register("q166_merkle_diff", _Q166_ORACLE)
def q166(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-entropy snapshot reconciliation by hierarchical range
    digests (the Merkle-tree pattern): both table versions collapse
    into per-range digests (Σ of salted row hashes + row count per
    1000-key bucket, rolled up under a 10000-key parent), digests are
    compared instead of rows, and ROW-level comparison runs ONLY
    inside dirty buckets. The 100 TB story is the point: two replicas
    exchange |key-space|/1000 digest rows (metadata-sized) to find
    what changed, and the expensive row join touches dirty ranges
    alone — this query's drill stage joins ~0.5 % of rows.

    The second snapshot is derived in-plan by a deterministic salted
    perturbation (~0.5 % of rows get cents+1), so the query PROVES the
    digest scheme: every emitted bucket has n_changed >= 1, and a unit
    test checks discovered change totals equal the planted ones. Sum
    digests (not xor) keep both engines in plain BIGINT aggregation;
    a same-bucket hash-sum collision between different row sets has
    probability ~2^-48 per bucket."""
    orders = load_table(spark, sf_dir, "orders")
    a = orders.select(
        F.col("o_orderkey").alias("k"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    b = a.select(
        "k",
        F.when(
            _u48(F.col("k"), "mod-v1") < _Q166_MOD_THRESH,
            F.col("cents") + 1,
        )
        .otherwise(F.col("cents"))
        .alias("cents"),
    )

    def digests(df: DataFrame, suffix: str) -> DataFrame:
        h = F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit("row-v1"),
                        F.col("k").cast("string"),
                        F.lit(":"),
                        F.col("cents").cast("string"),
                    )
                ),
                1,
                12,
            ),
            16,
            10,
        ).cast("long")
        return (
            df.select(
                F.floor(F.col("k") / 10000).cast("long").alias("b0"),
                F.floor(F.col("k") / 1000).cast("long").alias("b1"),
                h.alias("h"),
            )
            .groupBy("b0", "b1")
            .agg(
                F.count(F.lit(1)).cast("long").alias(f"rows_{suffix}"),
                F.sum("h").cast("long").alias(f"hsum_{suffix}"),
            )
        )

    dirty = (
        digests(a, "a")
        .join(digests(b, "b"), ["b0", "b1"])
        .filter(
            (F.col("hsum_a") != F.col("hsum_b"))
            | (F.col("rows_a") != F.col("rows_b"))
        )
        .select("b0", "b1", "rows_a", "rows_b")
    )
    drill = (
        a.withColumn("b1", F.floor(F.col("k") / 1000).cast("long"))
        .join(F.broadcast(dirty.select("b1")), "b1", "leftsemi")
        .join(b.withColumnRenamed("cents", "cents_b"), "k")
        .filter(F.col("cents") != F.col("cents_b"))
        .groupBy("b1")
        .agg(F.count(F.lit(1)).cast("long").alias("n_changed"))
    )
    return dirty.join(drill, "b1", "left").select(
        "b0",
        "b1",
        F.col("rows_a").alias("n_rows"),
        F.coalesce("n_changed", F.lit(0).cast("long")).alias("n_changed"),
    )


# ---------------------------------------------------------------------------
# q167 — leakage-safe train/val/test split (cluster-integral assignment)
# ---------------------------------------------------------------------------

_Q167_WEIGHTS = {"train": 0.9, "val": 0.05, "test": 0.05}
_Q167_SALT = "leak-split-v1"
_Q167_TAU = 0.3


def _q167_oracle() -> str:
    """q96's full chain (MinHash LSH candidates → exact-Jaccard verify
    → recursive-closure components) with the salted split assigned to
    the CLUSTER id instead of the doc id."""
    from ..operators.sampling import split_assign_sql
    from .corpus_queries import _minhash_cte

    cte = _minhash_cte().replace("WITH base", "WITH RECURSIVE base", 1)
    split_sql = split_assign_sql(
        "cluster_id", _Q167_WEIGHTS, salt=_Q167_SALT
    )
    return f"""
{cte},
verified AS (
  SELECT c.doc_a, c.doc_b
  FROM cand c
  JOIN base a ON c.doc_a = a.doc_id
  JOIN base b ON c.doc_b = b.doc_id
  WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
          / CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))
                 AS DOUBLE) >= {_Q167_TAU!r}
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
  SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS cluster_id
  FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
)
SELECT doc_id, cluster_id, {split_sql} AS split,
       CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT)
         AS cluster_size
FROM labeled
"""


@register("q167_leakage_safe_split", _q167_oracle())
def q167(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEAKAGE-SAFE train/val/test split: the salted-hash assignment
    (q49's split kernel) keyed on the NEAR-DUP CLUSTER id instead of
    the document id, so a document and its near-duplicates land in the
    same split by construction — the guarantee that stops benchmark
    answers leaking from test into train through paraphrases, which a
    row-keyed split (q49) cannot give. Clusters come from the
    engine's scale dedup path (q96: LSH candidates → exact-Jaccard
    verify → star-contraction components); singleton documents are
    their own cluster and split i.i.d., identical to q49's marginal
    distribution.

    Scale: everything up to the cluster frame is the proven q96
    pipeline (banding-bounded pairs, O(log d) contraction rounds);
    the split itself is row-local integer threshold algebra on the
    8-byte cluster id — assignment adds ZERO shuffle beyond the
    cluster build. The no-straddle property is structural (split is a
    function of cluster_id) and pinned by a pair-level unit test."""
    from ..operators.dedup import minhash_lsh_candidates, verify_pairs_jaccard
    from ..operators.graph import connected_components
    from ..operators.sampling import split_assign

    docs = load_table(spark, sf_dir, "documents")
    cand = minhash_lsh_candidates(docs, num_hashes=64, bands=16, k=3)
    verified = verify_pairs_jaccard(docs, cand, k=3, threshold=_Q167_TAU)
    comp = connected_components(verified, "doc_a", "doc_b").select(
        F.col("id").alias("doc_id"), "cluster_id"
    )
    # Singleton split (the q93/q96 _resolve_keep shape): a document
    # outside comp is a singleton by construction (its cluster_id is
    # its own doc_id, never a component label), so its cluster_size is
    # the literal 1 and its split hashes its own id — that branch is a
    # broadcast anti-join that never crosses an exchange, and the
    # count window runs over the comp-sized clustered subset only
    # instead of shuffling the whole corpus by cluster_id.
    # count-gated broadcast hint, as in corpus_queries._resolve_keep:
    # the RDD-backed comp frame has no stats, so without the hint the
    # anti join plans as a corpus-shuffling SortMergeJoin
    hint = F.broadcast if comp.count() <= 5_000_000 else (lambda df: df)
    comp = hint(comp)
    base = docs.select("doc_id")
    w = Window.partitionBy("cluster_id")
    clustered = base.join(comp, "doc_id").select(
        "doc_id",
        "cluster_id",
        split_assign(
            F.col("cluster_id"), _Q167_WEIGHTS, salt=_Q167_SALT
        ).alias("split"),
        F.count(F.lit(1)).over(w).cast("long").alias("cluster_size"),
    )
    singles = base.join(comp.select("doc_id"), "doc_id", "left_anti").select(
        "doc_id",
        F.col("doc_id").alias("cluster_id"),
        split_assign(
            F.col("doc_id"), _Q167_WEIGHTS, salt=_Q167_SALT
        ).alias("split"),
        F.lit(1).cast("long").alias("cluster_size"),
    )
    return clustered.unionByName(singles)


# ---------------------------------------------------------------------------
# q168 — Laplace-smoothed bigram LM quality score
# ---------------------------------------------------------------------------

_Q168_ORACLE = f"""
WITH t AS (
  SELECT doc_id, string_split({_NORM_SQL}, ' ') AS l FROM documents
), pairs AS (
  SELECT doc_id, l[i] || ' ' || l[i + 1] AS bigram
  FROM t, unnest(range(1, len(l))) AS u(i)
), model AS (
  SELECT bigram, CAST(count(*) AS BIGINT) AS c12 FROM pairs GROUP BY bigram
), ctx AS (
  SELECT split_part(bigram, ' ', 1) AS w1, CAST(sum(c12) AS BIGINT) AS c1
  FROM model GROUP BY 1
), voc AS (
  SELECT CAST(count(DISTINCT w) AS BIGINT) AS v
  FROM (SELECT unnest(l) AS w FROM t)
), contrib AS (
  SELECT m.bigram,
         CAST(round(1000000.0 * (CAST(c12 + 1 AS DOUBLE)
                                 / CAST(c1 + v AS DOUBLE))) AS BIGINT)
           AS p_micro
  FROM model m
  JOIN ctx ON split_part(m.bigram, ' ', 1) = ctx.w1
  CROSS JOIN voc
), scored AS (
  SELECT p.doc_id,
         CAST(count(*) AS BIGINT) AS n_bigrams,
         CAST(sum(p_micro) AS BIGINT) AS sum_prob_micro
  FROM pairs p JOIN contrib USING (bigram) GROUP BY p.doc_id
)
SELECT d.doc_id,
       coalesce(n_bigrams, 0) AS n_bigrams,
       coalesce(sum_prob_micro, 0) AS sum_prob_micro,
       coalesce(sum_prob_micro // n_bigrams, 0) AS mean_prob_micro
FROM documents d LEFT JOIN scored s ON d.doc_id = s.doc_id
"""


@register("q168_bigram_lm_score", _Q168_ORACLE)
def q168(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train-then-score bigram language model (operators/lm.
    bigram_lm_score): Laplace-smoothed conditional p(w2|w1) fitted on
    the corpus, every document scored by its mean per-bigram
    probability — the perplexity-band quality filter of CCNet/Dolma
    re-expressed log-free (arithmetic-mean surrogate; see the
    operator docstring for the portability argument). Complements
    q126's joint-frequency novelty with the CONDITIONAL model."""
    docs = load_table(spark, sf_dir, "documents")
    from ..operators.lm import bigram_lm_score

    return bigram_lm_score(docs)


# ---------------------------------------------------------------------------
# q169 — DSIR-style hashed-unigram importance weighting
# ---------------------------------------------------------------------------

_Q169_B = 64
_Q169_SALT = "dsir-v1"

_Q169_ORACLE = f"""
WITH t AS (
  SELECT doc_id, lang, string_split({_NORM_SQL}, ' ') AS l FROM documents
), w AS (
  SELECT doc_id, lang,
         ('0x' || substring(md5('{_Q169_SALT}' || w), 1, 12))::BIGINT
           % {_Q169_B} AS b
  FROM (SELECT doc_id, lang, unnest(l) AS w FROM t)
), src AS (
  SELECT b, CAST(count(*) AS BIGINT) AS cnt_s FROM w GROUP BY b
), tgt AS (
  SELECT b, CAST(count(*) AS BIGINT) AS cnt_t FROM w
  WHERE lang = 'en' GROUP BY b
), tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n_s,
         CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_t
  FROM w
), ratio AS (
  SELECT s.b,
         CAST(round(1000000.0 *
           (CAST((coalesce(cnt_t, 0) + 1) * (n_s + {_Q169_B}) AS DOUBLE)
            / CAST((cnt_s + 1) * (n_t + {_Q169_B}) AS DOUBLE))) AS BIGINT)
           AS r_micro
  FROM src s LEFT JOIN tgt USING (b) CROSS JOIN tot
), hist AS (
  SELECT doc_id, b, CAST(count(*) AS BIGINT) AS c FROM w GROUP BY 1, 2
), sc AS (
  SELECT doc_id,
         CAST(sum(c) AS BIGINT) AS n_tokens,
         CAST(sum(c * r_micro) AS BIGINT) AS imp_micro
  FROM hist JOIN ratio USING (b) GROUP BY doc_id
)
SELECT doc_id, n_tokens, imp_micro,
       imp_micro // n_tokens AS mean_ratio_micro,
       (imp_micro // n_tokens) >= 1000000 AS selected
FROM sc
"""


@register("q169_dsir_importance", _Q169_ORACLE)
def q169(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data Selection with Importance Resampling (operators/lm.
    dsir_importance): hashed-unigram likelihood ratios of the
    lang='en' TARGET slice against the full corpus SOURCE, weight-
    summed per document — the domain-upsampling selection verb of a
    pretraining-mix curator. Ratio table is B=64 broadcast rows; the
    only corpus-sized shuffle carries (doc_id, bucket) longs."""
    docs = load_table(spark, sf_dir, "documents")
    from ..operators.lm import dsir_importance

    return dsir_importance(
        docs, F.col("lang") == "en", buckets=_Q169_B, salt=_Q169_SALT
    )


# ---------------------------------------------------------------------------
# q170 — concurrent-session interval overlap join
# ---------------------------------------------------------------------------

_Q170_ORACLE = """
WITH marked AS (
  SELECT user_id, ts, event_id,
         CASE WHEN epoch_us(CAST(ts AS TIMESTAMP))
                   - lag(epoch_us(CAST(ts AS TIMESTAMP))) OVER w
                   <= 1800000000
              THEN 0 ELSE 1 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sessions AS (
  SELECT user_id, ts,
         SUM(new_session) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM marked
), iv AS (
  SELECT user_id, CAST(sid AS BIGINT) AS sid,
         epoch_us(CAST(min(ts) AS TIMESTAMP)) AS s_us,
         epoch_us(CAST(max(ts) AS TIMESTAMP)) AS e_us,
         count(*) AS n
  FROM sessions GROUP BY user_id, sid
), mi AS (
  SELECT * FROM iv WHERE n >= 2
)
SELECT a.user_id AS user_a, a.sid AS session_a,
       b.user_id AS user_b, b.sid AS session_b,
       least(a.e_us, b.e_us) - greatest(a.s_us, b.s_us) AS overlap_us
FROM mi a JOIN mi b
  ON a.user_id < b.user_id AND a.s_us <= b.e_us AND b.s_us <= a.e_us
"""


@register("q170_concurrent_sessions", _Q170_ORACLE)
def q170(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval×interval overlap join (operators/temporal.
    interval_overlap_join): which user sessions were ACTIVE AT THE
    SAME TIME — q19's gap sessionization built into [start, end]
    intervals (multi-event sessions only, so intervals have real
    extent), then the bucketed self-join the oracle writes as an
    inequality theta join. Hour buckets bound candidate fan-out; the
    later-start claim rule dedupes multi-bucket pairs row-locally.
    One shuffle for sessionize (reused by the agg), one for the
    bucket equi-join — never |sessions|²."""
    from ..operators.temporal import interval_overlap_join

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    marked = ev.withColumn(
        "new_session",
        F.when(us - F.lag(us).over(w) <= 1_800_000_000, 0).otherwise(1),
    )
    wrun = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    sess = marked.withColumn(
        "sid", F.sum("new_session").over(wrun).cast("long")
    )
    iv = (
        sess.groupBy("user_id", "sid")
        .agg(
            F.unix_micros(F.min("ts").cast("timestamp")).alias("s_us"),
            F.unix_micros(F.max("ts").cast("timestamp")).alias("e_us"),
            F.count(F.lit(1)).alias("n"),
        )
        .filter(F.col("n") >= 2)
    )
    pairs = interval_overlap_join(
        iv.select(
            F.col("user_id").alias("u"), "sid", "s_us", "e_us"
        ),
        order_col="u",
        start_col="s_us",
        end_col="e_us",
        carry=("sid",),
    )
    return pairs.select(
        F.col("a_u").alias("user_a"),
        F.col("a_sid").alias("session_a"),
        F.col("b_u").alias("user_b"),
        F.col("b_sid").alias("session_b"),
        F.col("overlap").alias("overlap_us"),
    )


# ---------------------------------------------------------------------------
# q171 — incremental join-view maintenance (delta algebra, self-proving)
# ---------------------------------------------------------------------------

_Q171_CUT_O = "2000-01-01"  # orders ingested after this are the ΔO batch
_Q171_CUT_L = "2000-06-01"  # lineitems shipped after this are the ΔL batch

_Q171_REV = (
    "CAST(l_extendedprice AS DECIMAL(12,2))"
    " * (1 - CAST(l_discount AS DECIMAL(4,2)))"
)

_Q171_ORACLE = f"""
WITH li AS (
  SELECT l_orderkey,
         l_shipdate >= TIMESTAMP '{_Q171_CUT_L}' AS new_l,
         {_Q171_REV} AS rev
  FROM lineitem
), od AS (
  SELECT o_orderkey, o_orderpriority,
         o_orderdate >= TIMESTAMP '{_Q171_CUT_O}' AS new_o
  FROM orders
), full_v AS (
  SELECT o_orderpriority, sum(rev) AS rev, count(*) AS n
  FROM li JOIN od ON l_orderkey = o_orderkey GROUP BY 1
), old_v AS (
  SELECT o_orderpriority, sum(rev) AS rev, count(*) AS n
  FROM li JOIN od ON l_orderkey = o_orderkey
  WHERE NOT new_l AND NOT new_o GROUP BY 1
), d_l AS (
  SELECT o_orderpriority, sum(rev) AS rev, count(*) AS n
  FROM li JOIN od ON l_orderkey = o_orderkey
  WHERE new_l GROUP BY 1
), d_o AS (
  SELECT o_orderpriority, sum(rev) AS rev, count(*) AS n
  FROM li JOIN od ON l_orderkey = o_orderkey
  WHERE NOT new_l AND new_o GROUP BY 1
), inc AS (
  SELECT o_orderpriority, sum(rev) AS rev, sum(n) AS n
  FROM (SELECT * FROM old_v UNION ALL SELECT * FROM d_l
        UNION ALL SELECT * FROM d_o)
  GROUP BY 1
)
SELECT f.o_orderpriority,
       CAST(f.n AS BIGINT) AS n_full,
       CAST(coalesce(i.n, 0) AS BIGINT) AS n_inc,
       CAST(f.rev AS DOUBLE) AS rev_full,
       CAST(coalesce(i.rev, 0) AS DOUBLE) AS rev_inc,
       (f.n = coalesce(i.n, 0) AND f.rev = coalesce(i.rev, 0)) AS matches
FROM full_v f LEFT JOIN inc i ON f.o_orderpriority = i.o_orderpriority
"""


@register("q171_delta_join_view", _Q171_ORACLE)
def q171(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL VIEW MAINTENANCE of an aggregated join view —
    the delta algebra (A+ΔA)⋈(B+ΔB) = A⋈B + ΔA⋈B' + A⋈ΔB executed
    as three filtered joins: the materialized OLD state (old⋈old),
    the new-lineitem delta against the FULL updated orders side, and
    the old-lineitem × new-orders cross term. The query emits the
    incrementally-maintained view NEXT TO the full recompute with a
    per-group matches flag — self-proving, the q166/q150 pattern, so
    the driver hash pins the delta rule itself.

    Scale: this is THE pattern that keeps a 100 TB rollup fresh —
    the recurring cost is the two delta joins, whose lineitem/orders
    scans carry pushed-down date predicates (PushedFilters on the
    parquet scan; at scale these are partition prunes over the
    ingest-date layout), each orders-of-magnitude smaller than the
    full join the view would otherwise recompute. The full join here
    exists only as the embedded oracle. All revenue sums ride exact
    DECIMAL and cast to double once at emission (float rule #1);
    the matches flag compares DECIMALS, not doubles."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        (F.col("l_shipdate") >= F.lit(_Q171_CUT_L).cast("timestamp")).alias(
            "new_l"
        ),
        (
            F.col("l_extendedprice").cast("decimal(12,2)")
            * (F.lit(1) - F.col("l_discount").cast("decimal(4,2)"))
        ).alias("rev"),
    )
    od = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        (F.col("o_orderdate") >= F.lit(_Q171_CUT_O).cast("timestamp")).alias(
            "new_o"
        ),
    )

    # r12 opt round: the four view() calls each re-ran the
    # lineitem ⋈ orders join (4 scans of each side, 4 join exchanges).
    # The delta decomposition shares ONE join: each term (old, ΔL, ΔO)
    # becomes a conditional-sum branch of a single aggregate, and inc
    # is still computed as old + ΔL + ΔO — three separately-summed
    # per-group DECIMAL terms added together (exact, so the delta-rule
    # arithmetic is unchanged), never folded into sum(all). A group
    # absent from a term sums to NULL → coalesce 0, exactly what the
    # old union-of-absent-groups produced. At production scale the
    # recurring increment runs the delta joins ALONE with pushed-down
    # ingest-date predicates; this declared query's job is to prove
    # the rule against the full recompute, which forces the full join
    # anyway — sharing it is pure win.
    both = li.join(od, li["l_orderkey"] == od["o_orderkey"])
    is_old = ~F.col("new_l") & ~F.col("new_o")
    is_dl = F.col("new_l")
    is_do = ~F.col("new_l") & F.col("new_o")

    def branch(cond, tag):
        return [
            F.sum(F.when(cond, F.col("rev"))).alias(f"rev_{tag}"),
            F.sum(F.when(cond, F.lit(1)).otherwise(0))
            .cast("long")
            .alias(f"n_{tag}"),
        ]

    g = both.groupBy("o_orderpriority").agg(
        F.sum("rev").alias("rev_full"),
        F.count(F.lit(1)).cast("long").alias("n_full"),
        *branch(is_old, "old"),
        *branch(is_dl, "dl"),
        *branch(is_do, "do"),
    )
    zero = F.lit(0).cast("decimal(24,4)")
    inc_rev = (
        F.coalesce(F.col("rev_old"), zero)
        + F.coalesce(F.col("rev_dl"), zero)
        + F.coalesce(F.col("rev_do"), zero)
    )
    inc_n = F.col("n_old") + F.col("n_dl") + F.col("n_do")
    return g.select(
        "o_orderpriority",
        F.col("n_full"),
        inc_n.cast("long").alias("n_inc"),
        F.col("rev_full").cast("double").alias("rev_full"),
        inc_rev.cast("double").alias("rev_inc"),
        (
            (F.col("n_full") == inc_n) & (F.col("rev_full") == inc_rev)
        ).alias("matches"),
    )


# ---------------------------------------------------------------------------
# q172 — declarative data-quality expectation audit
# ---------------------------------------------------------------------------

_Q172_ORACLE = """
SELECT 'orders.custkey_not_null' AS constraint,
       CAST(count(*) AS BIGINT) AS n_checked,
       CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_violations,
       sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) = 0 AS passed
FROM orders
UNION ALL
SELECT 'orders.status_accepted', CAST(count(*) AS BIGINT),
       CAST(sum(CASE WHEN o_orderstatus NOT IN ('O', 'F', 'P')
                     THEN 1 ELSE 0 END) AS BIGINT),
       sum(CASE WHEN o_orderstatus NOT IN ('O', 'F', 'P')
                THEN 1 ELSE 0 END) = 0
FROM orders
UNION ALL
SELECT 'lineitem.quantity_in_range', CAST(count(*) AS BIGINT),
       CAST(sum(CASE WHEN l_quantity < 1 OR l_quantity > 50
                     THEN 1 ELSE 0 END) AS BIGINT),
       sum(CASE WHEN l_quantity < 1 OR l_quantity > 50
                THEN 1 ELSE 0 END) = 0
FROM lineitem
UNION ALL
SELECT 'lineitem.price_positive', CAST(count(*) AS BIGINT),
       CAST(sum(CASE WHEN l_extendedprice <= 0 THEN 1 ELSE 0 END) AS BIGINT),
       sum(CASE WHEN l_extendedprice <= 0 THEN 1 ELSE 0 END) = 0
FROM lineitem
UNION ALL
SELECT 'orders.orderkey_unique', CAST(count(*) AS BIGINT),
       CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT),
       count(*) = count(DISTINCT o_orderkey)
FROM orders
UNION ALL
SELECT 'lineitem.orderkey_in_orders', CAST(count(*) AS BIGINT),
       CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) = 0
FROM lineitem LEFT JOIN orders ON l_orderkey = o_orderkey
"""


@register("q172_expectation_audit", _Q172_ORACLE)
def q172(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality gate (operators/expectations): six
    constraints over orders/lineitem — null-rate, accepted value
    set, numeric range, positivity, key uniqueness, referential
    integrity — each one audit row with exact violation counts. The
    four row-local checks cost TWO scans total (one conditional
    aggregation per table), uniqueness is a (key,count) combine, and
    the FK check is a left-anti join that never moves a non-key
    column. The promote-or-quarantine decision of a bronze→silver
    ingest, as a query the driver value-checks."""
    from ..operators.expectations import (
        row_expectations,
        subset_expectation,
        unique_expectation,
    )

    od = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    parts = [
        row_expectations(
            od,
            {
                "orders.custkey_not_null": F.col("o_custkey").isNull(),
                "orders.status_accepted": ~F.col("o_orderstatus").isin(
                    "O", "F", "P"
                ),
            },
        ),
        row_expectations(
            li,
            {
                "lineitem.quantity_in_range": (F.col("l_quantity") < 1)
                | (F.col("l_quantity") > 50),
                "lineitem.price_positive": F.col("l_extendedprice") <= 0,
            },
        ),
        unique_expectation(od, "o_orderkey", "orders.orderkey_unique"),
        subset_expectation(
            li, "l_orderkey", od, "o_orderkey", "lineitem.orderkey_in_orders"
        ),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


# ---------------------------------------------------------------------------
# q173 — rank-biased overlap between lexical and dense rankings
# ---------------------------------------------------------------------------

_Q173_K = 20


def _q173_oracle() -> str:
    from .round6b_queries import _BM25_CORE_SQL

    return f"""
WITH {_BM25_CORE_SQL},
bm25_top AS (
  SELECT doc_id,
         row_number() OVER (ORDER BY score_micro DESC, doc_id ASC) AS ra
  FROM scores
  QUALIFY ra <= {_Q173_K}
), q AS (
  SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0
), cos AS (
  SELECT vec_id AS doc_id,
         list_dot_product(embedding::DOUBLE[], qv)
           / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
              * sqrt(list_dot_product(qv, qv))) AS score
  FROM embeddings CROSS JOIN q WHERE vec_id != 0
), cos_top AS (
  SELECT doc_id,
         row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rb
  FROM cos
  QUALIFY rb <= {_Q173_K}
), both_in AS (
  SELECT greatest(ra, rb) AS m FROM bm25_top JOIN cos_top USING (doc_id)
), depths AS (
  SELECT CAST(unnest(range(1, {_Q173_K} + 1)) AS BIGINT) AS d
), ov AS (
  SELECT d,
         CAST((SELECT count(*) FROM both_in WHERE m <= d) AS BIGINT)
           AS overlap_d
  FROM depths
), terms AS (
  SELECT d, overlap_d,
         CAST(round(1000000000000.0 * CAST(overlap_d AS DOUBLE)
                    / CAST(d * (1::BIGINT << d) AS DOUBLE)) AS BIGINT)
           AS term_pico
  FROM ov
)
SELECT d, overlap_d, term_pico,
       CAST(sum(term_pico) OVER (ORDER BY d
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS rbo_pico
FROM terms
"""


@register("q173_rank_overlap", _q173_oracle())
def q173(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-biased overlap (Webber et al. 2010) between the BM25
    lexical ranking and the dense cosine ranking — the retrieval-
    evaluation verb that tells a hybrid-search operator HOW MUCH the
    two retrievers agree, depth-weighted so the top of the list
    dominates. Persistence p = 1/2, so every RBO weight is the dyadic
    rational 2⁻ᵈ and each depth's term round(1e12·overlap_d/(d·2ᵈ))
    is ONE correctly-rounded division of exact integers — no pow(),
    no log, no order-dependent float sum (the cumulative RBO is an
    integer running sum). Emits the full depth profile d=1..20 with
    the agreement curve, q148-style (estimate next to its inputs).

    Scale: both rankings are TakeOrderedAndProject heaps over their
    corpus (no global sort); everything after is algebra on two
    20-row broadcast frames. A pair contributes to overlap_d for all
    d ≥ max(rank_a, rank_b) — counted once per depth via a tiny
    inequality join of two ≤20-row frames, never a corpus scan."""
    from ..operators.ranking import bm25_scores
    from ..operators.similarity import cosine
    from .round6b_queries import _BM25_TERMS

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    wa = Window.orderBy(F.desc("score_micro"), F.asc("doc_id"))
    lex = (
        bm25_scores(docs, _BM25_TERMS)
        .orderBy(F.desc("score_micro"), F.asc("doc_id"))
        .limit(_Q173_K)
        .withColumn("ra", F.row_number().over(wa))
        .select("doc_id", "ra")
    )
    qv = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").cast("array<double>").alias("qv")
    )
    scored = (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(qv))
        .select(
            F.col("vec_id").alias("doc_id"),
            cosine(
                F.col("embedding").cast("array<double>"), F.col("qv")
            ).alias("score"),
        )
    )
    wb = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    den = (
        scored.orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(_Q173_K)
        .withColumn("rb", F.row_number().over(wb))
        .select("doc_id", "rb")
    )
    both = lex.join(den, "doc_id").select(
        F.greatest("ra", "rb").alias("m")
    )
    depths = spark.range(1, _Q173_K + 1).select(F.col("id").alias("d"))
    ov = (
        depths.join(F.broadcast(both), F.col("m") <= F.col("d"), "left")
        .groupBy("d")
        .agg(F.count("m").cast("long").alias("overlap_d"))
    )
    term = F.round(
        F.lit(1000000000000.0)
        * F.col("overlap_d").cast("double")
        / F.expr("d * shiftleft(1L, cast(d AS int))").cast("double")
    ).cast("long")
    wc = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    return (
        ov.withColumn("term_pico", term)
        .withColumn(
            "rbo_pico", F.sum("term_pico").over(wc).cast("long")
        )
        .select("d", "overlap_d", "term_pico", "rbo_pico")
    )


# ---------------------------------------------------------------------------
# q174 — functional-dependency audit
# ---------------------------------------------------------------------------

_Q174_ORACLE = """
WITH f1 AS (
  SELECT o_orderkey AS x, o_orderpriority AS y FROM orders
), f2 AS (
  SELECT o_custkey AS x, o_orderpriority AS y FROM orders
), f3 AS (
  SELECT c_custkey AS x, c_mktsegment AS y FROM customer
), f4 AS (
  SELECT lang AS x, source AS y FROM documents
), a AS (
  SELECT 'orders.orderkey->priority' AS fd, x, count(DISTINCT y) AS nd
  FROM f1 GROUP BY x
  UNION ALL
  SELECT 'orders.custkey->priority', x, count(DISTINCT y) FROM f2 GROUP BY x
  UNION ALL
  SELECT 'customer.custkey->segment', CAST(x AS VARCHAR),
         count(DISTINCT y) FROM f3 GROUP BY x
  UNION ALL
  SELECT 'documents.lang->source', x, count(DISTINCT y) FROM f4 GROUP BY x
)
SELECT fd,
       CAST(count(*) AS BIGINT) AS n_groups,
       CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_violating,
       CAST(max(nd) AS BIGINT) AS max_variants,
       sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) = 0 AS holds
FROM a GROUP BY fd
"""


@register("q174_fd_audit", _Q174_ORACLE)
def q174(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency audit (operators/expectations.
    fd_expectation) — the schema-discovery half of the q172 quality
    gate: does X determine Y in the data as loaded? Two key-borne
    FDs that must hold (order key → priority, customer key →
    segment) next to two that the data genuinely violates (customer
    → priority across their orders, lang → source) — so the audit
    emits real violating-group and worst-case-variant counts, not
    just green flags. Each FD is a two-level aggregation whose
    shuffle carries (X, Y) keys only."""
    from ..operators.expectations import fd_expectation

    od = load_table(spark, sf_dir, "orders")
    cu = load_table(spark, sf_dir, "customer")
    dc = load_table(spark, sf_dir, "documents")
    parts = [
        fd_expectation(
            od, ["o_orderkey"], "o_orderpriority",
            "orders.orderkey->priority",
        ),
        fd_expectation(
            od, ["o_custkey"], "o_orderpriority",
            "orders.custkey->priority",
        ),
        fd_expectation(
            cu, ["c_custkey"], "c_mktsegment",
            "customer.custkey->segment",
        ),
        fd_expectation(dc, ["lang"], "source", "documents.lang->source"),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


# ---------------------------------------------------------------------------
# q175 — blocking quality: reduction ratio & pair completeness
# ---------------------------------------------------------------------------

_Q175_TAU = 0.5

_Q175_ORACLE = f"""
WITH base AS (
  SELECT doc_id, lang,
         {_NORM_SQL} AS norm,
         list_distinct(list_transform(
           generate_series(1, greatest(len(string_split({_NORM_SQL}, ' ')) - 2, 1)),
           i -> array_to_string(string_split({_NORM_SQL}, ' ')[i:i+2], ' ')
         )) AS sh
  FROM documents
), truth AS (
  SELECT a.doc_id AS da, b.doc_id AS db
  FROM base a JOIN base b ON a.doc_id < b.doc_id
  WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
          / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))
        >= {_Q175_TAU!r}
), rn AS (
  SELECT doc_id, lang, norm,
         row_number() OVER (PARTITION BY lang ORDER BY norm, doc_id) AS rn
  FROM base
), cand AS (
  SELECT least(a.doc_id, b.doc_id) AS da,
         greatest(a.doc_id, b.doc_id) AS db
  FROM rn a JOIN rn b
    ON a.lang = b.lang AND b.rn - a.rn BETWEEN 1 AND 4
), nd AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs FROM base
), counts AS (
  SELECT (SELECT n_docs FROM nd) AS n_docs,
         (SELECT n_docs * (n_docs - 1) // 2 FROM nd) AS n_possible,
         (SELECT CAST(count(*) AS BIGINT) FROM cand) AS n_candidates,
         (SELECT CAST(count(*) AS BIGINT) FROM truth) AS n_true,
         (SELECT CAST(count(*) AS BIGINT)
          FROM cand JOIN truth USING (da, db)) AS n_caught
)
SELECT n_docs, n_possible, n_candidates, n_true, n_caught,
       CAST(round(1000000.0
           * CAST(n_possible - n_candidates AS DOUBLE)
           / CAST(n_possible AS DOUBLE)) AS BIGINT) AS reduction_micro,
       CAST(round(1000000.0 * CAST(n_caught AS DOUBLE)
           / CAST(n_true AS DOUBLE)) AS BIGINT) AS completeness_micro
FROM counts
"""


@register("q175_blocking_quality", _Q175_ORACLE)
def q175(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocking-quality evaluation (Christen 2012's two standard
    metrics): REDUCTION RATIO (how much of the |D|²/2 pair space the
    sorted-neighborhood blocker avoids) and PAIR COMPLETENESS (what
    fraction of the TRUE near-dup pairs — exact 3-shingle Jaccard ≥
    0.5, the q26 posting join uncapped — the blocker's candidates
    catch). On this corpus the lang-blocked window misses the
    cross-language near-dups by construction, so completeness lands
    well under 1 — the metric that tells a pipeline operator their
    blocking key is too coarse BEFORE a 100 TB run, which is the
    point of evaluating the blocker against a sampled truth set.

    Scale: candidates are the linear n·(window−1) SN frame; truth is
    the inverted-index posting join (at 100 TB: run on a sample, or
    swap in the q65 LSH-verified path); the metrics are five exact
    BIGINT counts and two micro-rounded divisions."""
    from ..operators.dedup import ngram_jaccard_pairs, sorted_neighborhood_pairs

    docs = load_table(spark, sf_dir, "documents")
    # pinned: truth feeds its own count AND the caught join — each
    # consumer would otherwise re-run the whole posting self-join
    # subtree (64 Exchanges / 22 scans before); the pinned frame is
    # the id-pair list, tiny relative to the corpus
    truth = (
        ngram_jaccard_pairs(docs, k=3, threshold=_Q175_TAU)
        .select("doc_a", "doc_b")
        .transform(_pin)
    )
    cand = sorted_neighborhood_pairs(
        docs, block_cols=("lang",), k=3, window=5
    ).select(
        F.least("doc_a", "doc_b").alias("doc_a"),
        F.greatest("doc_a", "doc_b").alias("doc_b"),
    )
    nd = docs.agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    # ONE pass over the candidate frame yields both its total and the
    # caught count (left join against the pinned truth, count the
    # hits) — the old shape ran the sorted-neighborhood subtree once
    # per consumer. Truth pairs are distinct by construction (one row
    # per unordered pair), so the left join never fans out a
    # candidate row and count(*) stays the candidate total.
    hit = truth.withColumn("_t", F.lit(1))
    cand_counts = cand.join(hit, ["doc_a", "doc_b"], "left").agg(
        F.count(F.lit(1)).cast("long").alias("n_candidates"),
        F.count("_t").cast("long").alias("n_caught"),
    )
    counts = (
        nd.crossJoin(cand_counts)
        .crossJoin(truth.agg(F.count(F.lit(1)).cast("long").alias("n_true")))
        .withColumn(
            "n_possible",
            F.expr("n_docs * (n_docs - 1) div 2").cast("long"),
        )
    )
    return counts.select(
        "n_docs",
        "n_possible",
        "n_candidates",
        "n_true",
        "n_caught",
        F.round(
            F.lit(1000000.0)
            * (F.col("n_possible") - F.col("n_candidates")).cast("double")
            / F.col("n_possible").cast("double")
        )
        .cast("long")
        .alias("reduction_micro"),
        F.round(
            F.lit(1000000.0)
            * F.col("n_caught").cast("double")
            / F.col("n_true").cast("double")
        )
        .cast("long")
        .alias("completeness_micro"),
    )


# ---------------------------------------------------------------------------
# q176 — greedy k-center coreset selection (diversity sampling)
# ---------------------------------------------------------------------------

_Q176_K = 8
_Q176_SCALE = 4096.0


def _q176_oracle(k: int = _Q176_K, scale: float = _Q176_SCALE) -> str:
    """DuckDB twin with the greedy rounds unrolled as CTE chains (the
    q39 trainer-unroll pattern): every distance is arithmetic on
    exact integer-valued doubles, so the chain is self-contained and
    holds at every scale factor."""
    d2 = (
        "(list_dot_product(m.vqd, m.vqd)"
        " - 2 * list_dot_product(m.vqd, c.cv)"
        " + list_dot_product(c.cv, c.cv))"
    )
    rounds = []
    for i in range(1, k):
        prev = "eq" if i == 1 else f"m{i - 1}"
        dm = (
            d2.replace("m.", f"{prev}.").replace("c.", f"c{i - 1}.")
            if i == 1
            else f"least({prev}.dm, "
            + d2.replace("m.", f"{prev}.").replace("c.", f"c{i - 1}.")
            + ")"
        )
        rounds.append(
            f""", m{i} AS (
  SELECT {prev}.vec_id, {prev}.vqd, {dm} AS dm
  FROM {prev} CROSS JOIN c{i - 1}
), c{i} AS (
  SELECT vec_id AS cid, vqd AS cv FROM m{i}
  ORDER BY dm DESC, vec_id LIMIT 1
)"""
        )
    centers_union = "\nUNION ALL\n".join(
        f"SELECT {i} AS ci, cid, cv FROM c{i}" for i in range(k)
    )
    return f"""
WITH eq AS (
  SELECT vec_id,
         list_transform(embedding::DOUBLE[],
                        x -> CAST(CAST(floor(x * {scale!r}) AS BIGINT)
                                  AS DOUBLE)) AS vqd
  FROM embeddings
), c0 AS (
  SELECT vec_id AS cid, vqd AS cv FROM eq ORDER BY vec_id LIMIT 1
){''.join(rounds)}, centers AS (
  {centers_union}
), assign AS (
  SELECT m.vec_id, c.ci, c.cid, {d2} AS d2,
         row_number() OVER (PARTITION BY m.vec_id
                            ORDER BY {d2}, c.ci) AS rn
  FROM eq m CROSS JOIN centers c
)
SELECT vec_id, CAST(cid AS BIGINT) AS center_id, CAST(d2 AS BIGINT) AS d2
FROM assign WHERE rn = 1
"""


@register("q176_kcenter_coreset", _q176_oracle())
def q176(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center coreset selection (operators/similarity.
    kcenter_greedy) — DIVERSITY sampling over the embedding corpus:
    the k=8 farthest-point centers plus every point's nearest-center
    assignment and coverage distance, the subset-selection verb that
    complements dedup (q114 removes redundancy; this SELECTS the
    spread). Iterative-driver shape like the k-means trainer (q39),
    but with a full value oracle: the q39 quantization rule makes
    every distance exact integer arithmetic, so the 7 greedy argmax
    rounds unroll into the DuckDB twin as CTE chains with portable
    tie-breaks."""
    from ..operators.similarity import kcenter_greedy

    emb = load_table(spark, sf_dir, "embeddings")
    return kcenter_greedy(emb, k=_Q176_K, scale=_Q176_SCALE)
