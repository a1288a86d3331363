"""Declared query registry over the driver's testdata star schema.

Each entry re-expresses an operator from SURVEY.md §2 (reference:
``/root/reference``) on the TPC-H-ish tables per FIXTURES.md §B, as a
(spark_builder, oracle_sql) pair. The oracle SQL is DuckDB-runnable
ANSI SQL producing identically-named, identically-valued columns.

Cross-engine determinism rules (applied on BOTH sides):
- Sums of doubles are order-dependent → aggregate exact DECIMAL then
  cast the result to DOUBLE (exact → nearest-double, identical).
- Decimal casts are applied to SOURCE columns only (which carry clean
  2-decimal values, verified) — casting a *computed* double to decimal
  diverges across engines (shortest-repr vs scaled-multiply rounding),
  so derived measures are computed in exact decimal arithmetic from
  decimal-cast sources.
- Per-row double arithmetic (e.g. price*(1-disc)) is IEEE-identical
  across engines → safe to emit raw per-row.
- Every window/top-k carries a deterministic tiebreaker column.
- Session timezone pinned UTC (session.py) so date casts agree.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..catalog import load_table, load_tables
from ..operators.aggregates import exists_flag, max_date_watermark, pivot_sum
from ..operators.joins import semi_join_latest
from ..operators.predicates import optional_eq_filter, valid_partition_key
from ..operators.windows import latest_per_group, nth_per_group, top_k_per_group

SparkQuery = Callable[[SparkSession, str], DataFrame]

# registry: name -> (spark_builder, oracle_sql | None)
_REGISTRY: dict[str, tuple[SparkQuery, str | None]] = {}


def register(name: str, oracle: str | None):
    def deco(fn: SparkQuery) -> SparkQuery:
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            # date/timestamp semantics must not depend on the caller's
            # session timezone (the driver builds its own session). The
            # one conf write a query makes, and it is load-bearing:
            # without it, 16 of the 344 queries fail their oracles at
            # sf0.01 on an America/Los_Angeles session (the hourly and
            # epoch families: q13, q18, q19, q42, q53, q68, q72, q78,
            # q113, q128, q137, q146, q158, q160, q182, q346).
            spark.conf.set("spark.sql.session.timeZone", "UTC")
            return fn(spark, sf_dir)

        wrapped.__name__ = fn.__name__
        wrapped.__doc__ = fn.__doc__
        _REGISTRY[name] = (wrapped, oracle)
        return wrapped

    return deco


def spark_queries() -> dict[str, SparkQuery]:
    return {k: v[0] for k, v in _REGISTRY.items()}


def oracle_queries() -> dict[str, str]:
    return {k: v[1] for k, v in _REGISTRY.items() if v[1] is not None}


def dsum(col, alias: str, scale: int = 2):
    """Order-independent cross-engine sum: exact decimal agg → double."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(T.DecimalType(18, scale))).cast("double").alias(alias)


# ---------------------------------------------------------------------------
# Flagship + stored-procedure analogues (SURVEY.md §3.3: J1 J2 J3 W1 P7 P8)
# ---------------------------------------------------------------------------

_LATEST_ORDER_SQL = """
  SELECT o_orderkey, o_custkey, c_name, o_orderdate
  FROM (
    SELECT o.o_orderkey, o.o_custkey, c.c_name, o.o_orderdate,
           row_number() OVER (
             PARTITION BY o.o_custkey
             ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE c.c_mktsegment = 'BUILDING') t
  WHERE rn = {nth}
"""


def _latest_building_orders(spark: SparkSession, sf_dir: str, offset: int = 0):
    """`folder` analogue: customers of one segment; latest order per
    customer = latest scan_run per scan (W1), tie-broken on orderkey."""
    t = load_tables(spark, sf_dir, ("customer", "orders"))
    cust = t["customer"].filter(F.col("c_mktsegment") == "BUILDING")
    orders_c = t["orders"].join(
        F.broadcast(cust.select("c_custkey", "c_name")),
        F.col("o_custkey") == F.col("c_custkey"),
        "inner",
    )
    return latest_per_group(
        orders_c, ["o_custkey"], "o_orderdate", "o_orderkey", offset=offset
    ).select("o_orderkey", "o_custkey", "c_name", "o_orderdate")


@register(
    "q01_folder_results_latest",
    f"""
WITH latest AS ({_LATEST_ORDER_SQL.format(nth=1)})
SELECT la.o_custkey, la.c_name, la.o_orderkey, la.o_orderdate,
       l.l_linenumber, p.p_name, s.s_name, l.l_quantity,
       l.l_extendedprice * (1 - l.l_discount) AS revenue
FROM lineitem l
JOIN latest la ON l.l_orderkey = la.o_orderkey
JOIN part p ON l.l_partkey = p.p_partkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
""",
)
def q01(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship — engine analogue of get_folder_results
    (/root/reference/queries/get_folder_results.sql:13-89): facts for
    the latest run of every scan in a folder. Latest-per-group window
    (W1) replaces the cursor loop; the 4-way chain (J2) joins facts to
    dims, dims broadcast."""
    latest = _latest_building_orders(spark, sf_dir)
    t = load_tables(spark, sf_dir, ("lineitem", "part", "supplier"))
    facts = (
        t["lineitem"]
        .join(latest, F.col("l_orderkey") == F.col("o_orderkey"), "inner")
        .join(F.broadcast(t["part"]), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(t["supplier"]), F.col("l_suppkey") == F.col("s_suppkey"))
    )
    return facts.select(
        "o_custkey",
        "c_name",
        "o_orderkey",
        "o_orderdate",
        "l_linenumber",
        "p_name",
        "s_name",
        "l_quantity",
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
    )


@register(
    "q02_folder_stats_latest",
    f"""
WITH latest AS ({_LATEST_ORDER_SQL.format(nth=1)})
SELECT la.o_custkey, la.c_name, la.o_orderkey, la.o_orderdate,
       o.o_totalprice, o.o_orderstatus
FROM latest la JOIN orders o ON la.o_orderkey = o.o_orderkey
""",
)
def q02(spark: SparkSession, sf_dir: str) -> DataFrame:
    """get_folder_stats analogue (get_folder_stats.sql:12-57): summary
    row for the latest run of each scan in a folder — no fact join."""
    latest = _latest_building_orders(spark, sf_dir)
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("ok"), "o_totalprice", "o_orderstatus"
    )
    return (
        latest.join(orders, F.col("o_orderkey") == F.col("ok"), "inner")
        .select(
            "o_custkey",
            "c_name",
            "o_orderkey",
            "o_orderdate",
            "o_totalprice",
            "o_orderstatus",
        )
    )


@register(
    "q03_scan_stats_offset",
    """
SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice
FROM (
  SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice,
         row_number() OVER (
           PARTITION BY o_custkey
           ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
  FROM orders WHERE o_custkey = 7) t
WHERE rn = 2
""",
)
def q03(spark: SparkSession, sf_dir: str) -> DataFrame:
    """get_scan_stats analogue with OFFSET 1 (get_scan_stats.sql:13-16):
    the 2nd-latest run of one scan — exercises the off-by-one-prone
    offset semantics (SURVEY.md risk register)."""
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_custkey") == 7)
    return nth_per_group(
        orders,
        ["o_custkey"],
        [F.desc("o_orderdate"), F.desc("o_orderkey")],
        offset=1,
    ).select("o_custkey", "o_orderkey", "o_orderdate", "o_totalprice")


@register(
    "q04_scan_results_single",
    """
WITH latest AS (
  SELECT o_orderkey FROM (
    SELECT o_orderkey, row_number() OVER (
      ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
    FROM orders WHERE o_custkey = 7) t
  WHERE rn = 1)
SELECT l.l_orderkey, l.l_linenumber, l.l_partkey, l.l_suppkey,
       l.l_quantity, l.l_extendedprice
FROM lineitem l
WHERE l.l_orderkey IN (SELECT o_orderkey FROM latest)
""",
)
def q04(spark: SparkSession, sf_dir: str) -> DataFrame:
    """get_scan_results analogue (get_scan_results.sql:11-24): full
    fact detail for the latest run of ONE scan, via the scalar-subquery
    semi-join (J3) — left_semi against the 1-row latest set."""
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_custkey") == 7)
    # global nth: o_orderkey (unique key) as the last order element is
    # REQUIRED — the pre-window limit cut is nondeterministic on ties
    # (nth_per_group docstring, hard requirement)
    latest = nth_per_group(
        orders, [], [F.desc("o_orderdate"), F.desc("o_orderkey")], offset=0
    ).select("o_orderkey")
    lineitem = load_table(spark, sf_dir, "lineitem")
    return semi_join_latest(
        lineitem.withColumnRenamed("l_orderkey", "o_orderkey"), latest, "o_orderkey"
    ).select(
        F.col("o_orderkey").alias("l_orderkey"),
        "l_linenumber",
        "l_partkey",
        "l_suppkey",
        "l_quantity",
        "l_extendedprice",
    )


# ---------------------------------------------------------------------------
# Aggregations (A1-A4) — severity pivot semantics on lineitem
# ---------------------------------------------------------------------------

_PIVOT_CASES_SQL = """
SELECT l_linestatus,
       {a_col},
       {r_col},
       {n_col}
FROM lineitem
GROUP BY l_linestatus
"""


def _pivot_case_sql(flag: str, alias: str) -> str:
    return (
        "CAST(SUM(CAST(CASE WHEN l_returnflag = '"
        + flag
        + "' THEN l_quantity ELSE 0 END AS DECIMAL(18,2))) AS DOUBLE) AS "
        + alias
    )


@register(
    "q05_severity_pivot_faithful",
    _PIVOT_CASES_SQL.format(
        a_col=_pivot_case_sql("A", "a_qty"),
        r_col=_pivot_case_sql("R", "r_qty"),
        n_col="CAST(0 AS BIGINT) AS n_qty",
    ),
)
def q05(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 faithful — the reference's severity pivot-sum INCLUDING its
    severity-0 falsiness exclusion (calculate_severities,
    /root/reference/export.py:60-65: `if vuln.get('severity')` drops
    severity 0). Category 'N' plays severity 0: its column exists but
    never accumulates."""
    li = load_table(spark, sf_dir, "lineitem")
    return pivot_sum(
        li,
        ["l_linestatus"],
        "l_returnflag",
        {"A": "a_qty", "R": "r_qty", "N": "n_qty"},
        F.col("l_quantity").cast(T.DecimalType(18, 2)),
        exclude=frozenset({"N"}),
    ).select(
        "l_linestatus",
        F.col("a_qty").cast("double").alias("a_qty"),
        F.col("r_qty").cast("double").alias("r_qty"),
        F.col("n_qty").cast("long").alias("n_qty"),
    )


@register(
    "q06_severity_pivot_corrected",
    _PIVOT_CASES_SQL.format(
        a_col=_pivot_case_sql("A", "a_qty"),
        r_col=_pivot_case_sql("R", "r_qty"),
        n_col=_pivot_case_sql("N", "n_qty"),
    ),
)
def q06(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 corrected — same pivot with the severity-0 class included
    (the behavior the reference intended)."""
    li = load_table(spark, sf_dir, "lineitem")
    return pivot_sum(
        li,
        ["l_linestatus"],
        "l_returnflag",
        {"A": "a_qty", "R": "r_qty", "N": "n_qty"},
        F.col("l_quantity").cast(T.DecimalType(18, 2)),
    ).select(
        "l_linestatus",
        F.col("a_qty").cast("double").alias("a_qty"),
        F.col("r_qty").cast("double").alias("r_qty"),
        F.col("n_qty").cast("double").alias("n_qty"),
    )


@register(
    "q07_watermark_max_date",
    """
SELECT COALESCE(MAX(CAST(ts AS DATE)), DATE '1970-01-01') AS watermark
FROM events WHERE event_type = 'purchase'
""",
)
def q07(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 — sink-watermark scan (get_latest_folder,
    /root/reference/export.py:75-87): max partition date with the
    empty→epoch default."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    return max_date_watermark(ev, F.col("ts").cast("date"))


@register(
    "q08_fresh_filter",
    """
SELECT event_type, COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events
WHERE event_type = 'purchase' AND CAST(ts AS DATE) >= DATE '2024-01-15'
GROUP BY event_type
""",
)
def q08(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4 — the completed+fresh conjunctive predicate
    (/root/reference/export.py:235): status equality AND epoch→date >=
    watermark, pushed to the scan."""
    ev = load_table(spark, sf_dir, "events")
    fresh = ev.filter(
        (F.col("event_type") == "purchase")
        & (F.col("ts").cast("date") >= F.lit("2024-01-15").cast("date"))
    )
    return fresh.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"), dsum("value", "total_value")
    )


@register(
    "q09_key_watermark_guard",
    """
WITH keys AS (
  SELECT CAST(user_id AS VARCHAR) || '/' || strftime(ts, '%Y%m%d')
         || '/scan_run.json' AS key
  FROM events
  UNION ALL SELECT 'malformed' FROM (VALUES (1)) t(x)
  UNION ALL SELECT 'deploy/notadate/scan_run.json' FROM (VALUES (1)) t(x)
  UNION ALL SELECT 'deploy/1234/scan_run.json' FROM (VALUES (1)) t(x)
)
SELECT COALESCE(MAX(strptime(string_split(key, '/')[2], '%Y%m%d')::DATE),
                DATE '1970-01-01') AS watermark
FROM keys
WHERE len(string_split(key, '/')) > 1
  AND regexp_matches(string_split(key, '/')[2], '^[0-9]{8}$')
""",
)
def q09(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3+P6+F4+A2 — the full watermark pipeline over S3-style keys
    (/root/reference/export.py:75-87): build `{id}/{YYYYMMDD}/{file}`
    keys, guard malformed ones (segment count, digits, length 8),
    parse, take max with epoch default."""
    ev = load_table(spark, sf_dir, "events")
    keys = ev.select(
        F.concat_ws(
            "/",
            F.col("user_id").cast("string"),
            F.date_format("ts", "yyyyMMdd"),
            F.lit("scan_run.json"),
        ).alias("key")
    )
    bad = spark.createDataFrame(
        [("malformed",), ("deploy/notadate/scan_run.json",), ("deploy/1234/scan_run.json",)],
        "key string",
    )
    all_keys = keys.unionAll(bad)
    valid = all_keys.filter(valid_partition_key("key"))
    parsed = valid.select(
        F.to_date(F.split("key", "/").getItem(1), "yyyyMMdd").alias("dt")
    )
    return max_date_watermark(parsed, "dt")


@register(
    "q10_optional_filter",
    """
SELECT p_brand, COUNT(*) AS n_parts,
       CAST(SUM(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
FROM part
WHERE p_brand = 'Brand#13'
GROUP BY p_brand
""",
)
def q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P7 — the dynamic optional equality filter
    (get_folder_results.sql:81-85), resolved at plan time so the
    predicate reaches the parquet scan."""
    part = load_table(spark, sf_dir, "part")
    filtered = optional_eq_filter(part, "p_brand", "Brand#13")
    return filtered.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("n_parts"), dsum("p_retailprice", "total_price")
    )


# ---------------------------------------------------------------------------
# Scalar functions (F1-F8) and sorts/limits (O1/O2)
# ---------------------------------------------------------------------------


@register(
    "q11_array_join_lines",
    """
SELECT p_partkey,
       array_to_string(string_split(p_type, ' '), chr(10)) AS type_ref
FROM part
""",
)
def q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1 — array_join with '\\n' (see_also → ref, format_plugin,
    /root/reference/export.py:136-142), null passthrough preserved."""
    from ..functions import array_join_lines

    part = load_table(spark, sf_dir, "part")
    return part.select(
        "p_partkey", array_join_lines(F.split("p_type", " ")).alias("type_ref")
    )


@register(
    "q12_explode_props_map",
    """
SELECT event_id, k AS port, CAST(props->>('$.' || k) AS BIGINT) AS output
FROM (SELECT event_id, props, unnest(json_keys(props)) AS k FROM events)
""",
)
def q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2 — map flatten: one row per key of a JSON-object column
    (format_vuln_outputs, /root/reference/export.py:144-149), with the
    from_json MapType fallback for string-shaped payloads."""
    ev = load_table(spark, sf_dir, "events")
    as_map = F.from_json("props", T.MapType(T.StringType(), T.LongType()))
    return ev.select(
        "event_id", F.explode(as_map).alias("port", "output")
    )


@register(
    "q13_epoch_roundtrip",
    """
SELECT event_id,
       CAST(floor(epoch(ts)) AS BIGINT) AS epoch_s,
       CAST(to_timestamp(CAST(floor(epoch(ts)) AS BIGINT)) AS DATE) AS event_date,
       CAST(CAST(to_timestamp(CAST(floor(epoch(ts)) AS BIGINT)) AS DATE)
            - INTERVAL 30 DAY AS TIMESTAMP) AS lookback_start
FROM events WHERE event_type = 'error'
""",
)
def q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F5/F6 — epoch↔timestamp↔date round-trip + 30-day lookback
    arithmetic (/root/reference/export.py:235,
    export_last_month.py:208)."""
    from ..functions import epoch_to_date

    ev = load_table(spark, sf_dir, "events").filter(F.col("event_type") == "error")
    epoch = F.unix_timestamp("ts")
    return ev.select(
        "event_id",
        epoch.alias("epoch_s"),
        epoch_to_date(epoch).alias("event_date"),
        F.date_sub(epoch_to_date(epoch), 30)
        .cast("timestamp")
        .alias("lookback_start"),
    )


@register(
    "q14_topk_orders",
    """
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders
ORDER BY o_totalprice DESC, o_orderkey DESC
LIMIT 10
""",
)
def q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1/O2 — global sort desc + LIMIT (get_scan_stats.sql:14-16)
    with deterministic tiebreak. Spark plans TakeOrderedAndProject:
    per-partition top-k then a k-row merge — no global sort shuffle."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.orderBy(
        F.desc("o_totalprice"), F.desc("o_orderkey")
    ).limit(10).select("o_orderkey", "o_custkey", "o_totalprice")


# ---------------------------------------------------------------------------
# Analytics-shaped joins/aggs (scale posture: the 100 TB plans)
# ---------------------------------------------------------------------------


@register(
    "q15_revenue_by_nation",
    """
SELECT n.n_name,
       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))
                * (1 - CAST(l.l_discount AS DECIMAL(4,2)))) AS DOUBLE)
         AS revenue,
       COUNT(*) AS n_items
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = 'ASIA'
GROUP BY n.n_name
""",
)
def q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 at analytic scale — 5-way star join + hash agg (the shape of
    get_folder_results over a full warehouse). lineitem⋈orders
    sort-merges on orderkey; nation/region broadcast (true dims); the
    region filter prunes before the join.

    customer and orders⋈customer are FACT-PROPORTIONAL (TPC-H scales
    them linearly), so they carry NO broadcast hint — a forced hint
    overrides AQE's 64 MB threshold and OOMs executors at 100×. AQE
    still promotes them to broadcast at small SF where they fit."""
    t = load_tables(
        spark, sf_dir, ("lineitem", "orders", "customer", "nation", "region")
    )
    nat = (
        t["nation"]
        .join(F.broadcast(t["region"].filter(F.col("r_name") == "ASIA")),
              F.col("n_regionkey") == F.col("r_regionkey"))
        .select("n_nationkey", "n_name")
    )
    cust = t["customer"].join(
        F.broadcast(nat), F.col("c_nationkey") == F.col("n_nationkey")
    ).select("c_custkey", "n_name")
    ord_c = t["orders"].join(
        cust, F.col("o_custkey") == F.col("c_custkey")
    ).select("o_orderkey", "n_name")
    li = t["lineitem"].select(
        "l_orderkey",
        (
            F.col("l_extendedprice").cast(T.DecimalType(12, 2))
            * (F.lit(1) - F.col("l_discount").cast(T.DecimalType(4, 2)))
        ).alias("rev"),
    )
    return (
        li.join(ord_c, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("n_name")
        .agg(
            F.sum("rev").cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@register(
    "q16_pricing_summary",
    """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE)
         AS sum_disc_price,
       CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,2))
                     * (1 - CAST(l_discount AS DECIMAL(4,2)))
                     AS DECIMAL(18,4))
                * (1 + CAST(l_tax AS DECIMAL(4,2)))) AS DOUBLE) AS sum_charge,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
         AS avg_qty,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2001-06-01 00:00:00'
GROUP BY l_returnflag, l_linestatus
""",
)
def q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q1-shaped pricing summary: the canonical wide hash-agg.
    Map-side partial aggregation means the shuffle carries 6 rows per
    partition regardless of input size — the plan that survives 100 TB."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("2001-06-01 00:00:00").cast("timestamp")
    )
    disc = F.col("l_extendedprice").cast(T.DecimalType(12, 2)) * (
        F.lit(1) - F.col("l_discount").cast(T.DecimalType(4, 2))
    )
    charge = disc.cast(T.DecimalType(18, 4)) * (
        F.lit(1) + F.col("l_tax").cast(T.DecimalType(4, 2))
    )
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity", "sum_qty"),
            dsum("l_extendedprice", "sum_base_price"),
            F.sum(disc).cast("double").alias("sum_disc_price"),
            F.sum(charge).cast("double").alias("sum_charge"),
            (
                F.sum(F.col("l_quantity").cast(T.DecimalType(18, 2))).cast("double")
                / F.count(F.lit(1))
            ).alias("avg_qty"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@register(
    "q17_exists_flag",
    """
SELECT (COUNT(*) > 0) AS new_scan_runs_exist
FROM (SELECT 1 FROM orders WHERE o_orderdate >= DATE '2001-07-01' LIMIT 1) t
""",
)
def q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 — existence flag gating dimension uploads
    (/root/reference/export.py:222,238,240). limit(1) stops the scan at
    the first qualifying row."""
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2001-07-01").cast("timestamp")
    )
    return exists_flag(orders)


@register(
    "q18_hourly_rollup",
    """
SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour_start, event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events
GROUP BY date_trunc('hour', ts), event_type
""",
)
def q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-bucketed rollup — the batch form of the streaming windowed
    agg (SURVEY.md §2.9's Structured-Streaming extension); tumbling
    1-hour windows via date_trunc so batch and streaming share
    semantics."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy(
        F.date_trunc("hour", "ts").alias("hour_start"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n_events"), dsum("value", "total_value"))


@register(
    "q37_rollup_hierarchy",
    """
SELECT COALESCE(n_name, 'ALL') AS n_name,
       COALESCE(c_mktsegment, 'ALL') AS c_mktsegment,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
       COUNT(*) AS n_orders
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
GROUP BY ROLLUP (n_name, c_mktsegment)
""",
)
def q37(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchy rollup (nation → segment → grand total) — the
    folder→scan→total reporting shape, via the built-in ROLLUP grouping
    sets. One pass, partial aggregation per grouping set; NULL grouping
    markers coalesced to 'ALL' so the oracle comparison is exact.

    nation broadcasts (true dim); customer is fact-proportional, so no
    forced hint — AQE promotes it only where it actually fits."""
    t = load_tables(spark, sf_dir, ("orders", "customer", "nation"))
    cust = t["customer"].join(
        F.broadcast(t["nation"].select("n_nationkey", "n_name")),
        F.col("c_nationkey") == F.col("n_nationkey"),
    ).select("c_custkey", "n_name", "c_mktsegment")
    joined = t["orders"].join(
        cust, F.col("o_custkey") == F.col("c_custkey")
    )
    return (
        joined.rollup("n_name", "c_mktsegment")
        .agg(dsum("o_totalprice", "total_price"),
             F.count(F.lit(1)).alias("n_orders"))
        .select(
            F.coalesce("n_name", F.lit("ALL")).alias("n_name"),
            F.coalesce("c_mktsegment", F.lit("ALL")).alias("c_mktsegment"),
            "total_price",
            "n_orders",
        )
    )


@register(
    "q38_embedding_near_dup",
    """
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
         / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
            * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[])))
         AS cos_sim
FROM embeddings a JOIN embeddings b
  ON a.label = b.label AND a.vec_id < b.vec_id
WHERE list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
        / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
           * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[])))
      >= 0.40
""",
)
def q38(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup: pairs above a cosine threshold,
    blocked on the label column (the production path blocks on an LSH
    bucket — q32's sketch — this declared variant blocks on a semantic
    key so DuckDB can verify the scores exactly).

    Threshold 0.40 sits just under the synthetic corpus's maximum
    same-label cosine (~0.475 at sf0.01), so the oracle verifies a
    NON-EMPTY result (5 pairs at sf0.01, 86 at sf0.1) — the earlier
    0.99 matched zero pairs and only verified the empty set.

    Norms are per-ROW quantities, so they are materialized before the
    pair join — per-pair work drops from three dot products to one,
    while the emitted value is bit-identical (same sqrt(dot(v,v)),
    computed |V| times instead of |pairs| times)."""
    from ..catalog import spread_for_compute
    from ..operators.similarity import dot, l2_norm

    emb = spread_for_compute(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id",
        "label",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    emb = emb.select("vec_id", "label", "v", l2_norm(F.col("v")).alias("nrm"))
    a = emb.select(
        F.col("vec_id").alias("vec_a"),
        "label",
        F.col("v").alias("va"),
        F.col("nrm").alias("norm_a"),
    )
    b = emb.select(
        F.col("vec_id").alias("vec_b"),
        F.col("label").alias("label_b"),
        F.col("v").alias("vb"),
        F.col("nrm").alias("norm_b"),
    )
    pairs = a.join(
        b,
        (F.col("label") == F.col("label_b")) & (F.col("vec_a") < F.col("vec_b")),
    )
    sim = dot(F.col("va"), F.col("vb")) / (F.col("norm_a") * F.col("norm_b"))
    return (
        pairs.select("vec_a", "vec_b", sim.alias("cos_sim"))
        .filter(F.col("cos_sim") >= 0.40)
    )


@register(
    "q19_sessionize",
    """
WITH marked AS (
  SELECT user_id, ts, event_id, value,
         CASE WHEN ts - LAG(ts) OVER w <= INTERVAL 30 MINUTE
              THEN 0 ELSE 1 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sessions AS (
  SELECT user_id, ts, value,
         SUM(new_session) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM marked)
SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
       COUNT(*) AS n_events,
       CAST(MIN(ts) AS TIMESTAMP) AS session_start,
       CAST(MAX(ts) AS TIMESTAMP) AS session_end,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS session_value
FROM sessions
GROUP BY user_id, session_id
""",
)
def q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization — gap-based session assignment via lag + running
    sum (the batch twin of streaming session_window). One shuffle on
    user_id serves both windows and the final agg (same partitioning,
    Catalyst reuses the exchange)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    marked = ev.withColumn(
        "new_session",
        F.when(
            F.col("ts").cast("long") - F.lag(F.col("ts")).over(w).cast("long")
            <= 1800,
            0,
        ).otherwise(1),
    )
    wrun = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    sess = marked.withColumn(
        "session_id", F.sum("new_session").over(wrun).cast("long")
    )
    return sess.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        dsum("value", "session_value"),
    )


# ---------------------------------------------------------------------------
# q72 — ordered funnel (view → click → purchase) per user
# ---------------------------------------------------------------------------

_Q72_ORACLE = """
WITH w1 AS (
  SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts,
         min(CASE WHEN event_type = 'view' THEN CAST(ts AS TIMESTAMP) END)
           OVER (PARTITION BY user_id) AS view_ts
  FROM events
), w2 AS (
  SELECT *, min(CASE WHEN event_type = 'click' AND ts >= view_ts THEN ts END)
              OVER (PARTITION BY user_id) AS click_ts
  FROM w1
), w3 AS (
  SELECT *, min(CASE WHEN event_type = 'purchase' AND ts >= click_ts THEN ts END)
              OVER (PARTITION BY user_id) AS purchase_ts
  FROM w2
)
SELECT user_id, min(view_ts) AS view_ts, min(click_ts) AS click_ts,
       min(purchase_ts) AS purchase_ts,
       CAST(CASE WHEN min(purchase_ts) IS NOT NULL THEN 3
                 WHEN min(click_ts) IS NOT NULL THEN 2
                 WHEN min(view_ts) IS NOT NULL THEN 1
                 ELSE 0 END AS BIGINT) AS funnel_stage
FROM w3 GROUP BY user_id
"""


@register("q72_funnel_stages", _Q72_ORACLE)
def q72(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered event funnel: the first view, the first click AT OR
    AFTER that view, and the first purchase at or after that click, per
    user — the sequential-pattern analytics staple. Three stacked
    unbounded windows over the SAME partitioning collapse into one
    Exchange, and the final per-user aggregate REUSES that hash
    partitioning (WindowExec preserves child distribution) — verified
    one Exchange in the whole physical plan, no self-joins over the
    fact table. Timestamps and the derived stage label are value-exact
    against the oracle."""
    from ..catalog import load_table

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts"
    )
    w = Window.partitionBy("user_id")
    s1 = ev.withColumn(
        "view_ts",
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w),
    )
    s2 = s1.withColumn(
        "click_ts",
        F.min(
            F.when(
                (F.col("event_type") == "click")
                & (F.col("ts") >= F.col("view_ts")),
                F.col("ts"),
            )
        ).over(w),
    )
    s3 = s2.withColumn(
        "purchase_ts",
        F.min(
            F.when(
                (F.col("event_type") == "purchase")
                & (F.col("ts") >= F.col("click_ts")),
                F.col("ts"),
            )
        ).over(w),
    )
    agg = s3.groupBy("user_id").agg(
        F.min("view_ts").alias("view_ts"),
        F.min("click_ts").alias("click_ts"),
        F.min("purchase_ts").alias("purchase_ts"),
    )
    stage = (
        F.when(F.col("purchase_ts").isNotNull(), 3)
        .when(F.col("click_ts").isNotNull(), 2)
        .when(F.col("view_ts").isNotNull(), 1)
        .otherwise(0)
    )
    return agg.withColumn("funnel_stage", stage.cast("long"))


# ---------------------------------------------------------------------------
# q73 — cohort retention (first-seen date × day offset)
# ---------------------------------------------------------------------------

_Q73_ORACLE = """
WITH d AS (
  SELECT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
         min(CAST(CAST(ts AS TIMESTAMP) AS DATE))
           OVER (PARTITION BY user_id) AS cohort_date
  FROM events
)
SELECT cohort_date, CAST(date_diff('day', cohort_date, day) AS BIGINT)
         AS day_offset,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_active
FROM d GROUP BY 1, 2
"""


@register("q73_cohort_retention", _Q73_ORACLE)
def q73(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention triangle: users grouped by first-seen date,
    activity counted per day offset — the standard retention analysis.
    One window shuffle (user partitioning) plus one aggregation shuffle
    on (cohort, offset) — a dimension-bounded key space (days²), so the
    final shuffle is corpus-size independent; the distinct-user count
    partial-aggregates map-side."""
    from ..catalog import load_table

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.col("ts").cast("date").alias("day")
    )
    w = Window.partitionBy("user_id")
    d = ev.withColumn("cohort_date", F.min("day").over(w))
    return d.groupBy(
        "cohort_date",
        F.datediff("day", "cohort_date").cast("long").alias("day_offset"),
    ).agg(F.countDistinct("user_id").cast("long").alias("n_active"))


# ---------------------------------------------------------------------------
# q78 — hourly spine with gap filling (dense time series from sparse events)
# ---------------------------------------------------------------------------

_Q78_ORACLE = """
WITH bounds AS (
  SELECT date_trunc('hour', min(CAST(ts AS TIMESTAMP))) AS t0,
         date_trunc('hour', max(CAST(ts AS TIMESTAMP))) AS t1
  FROM events WHERE event_type = 'purchase'
), spine AS (
  SELECT unnest(range((SELECT t0 FROM bounds),
                      (SELECT t1 FROM bounds) + INTERVAL 1 HOUR,
                      INTERVAL 1 HOUR)) AS hour
), counts AS (
  SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour,
         count(*) AS n,
         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS v
  FROM events WHERE event_type = 'purchase' GROUP BY 1
)
SELECT s.hour, CAST(coalesce(c.n, 0) AS BIGINT) AS n_purchases,
       coalesce(c.v, 0.0) AS total_value
FROM spine s LEFT JOIN counts c ON s.hour = c.hour
"""


@register("q78_hourly_spine", _Q78_ORACLE)
def q78(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense hourly time series from sparse events: a generated spine
    (sequence over the observed hour range, exploded from ONE bounds
    row) left-joined to the hourly aggregate, zero-filling silent
    hours — the gap-filling prelude every downstream
    forecasting/alerting consumer needs. The spine derives from a
    1-row aggregate (driver-free, engine-side), its explode is bounded
    by the time range (dimension-sized, not data-sized), and the join
    broadcasts the aggregated side when it fits. Sums are
    decimal-exact."""
    from ..catalog import load_table

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    counts = ev.groupBy(
        F.date_trunc("hour", "ts").alias("hour")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        dsum("value", "v"),
    )
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("t0"),
        F.date_trunc("hour", F.max("ts")).alias("t1"),
    )
    spine = bounds.select(
        F.explode(
            F.sequence("t0", "t1", F.expr("interval 1 hour"))
        ).alias("hour")
    )
    return (
        spine.join(counts, "hour", "left")
        .select(
            "hour",
            F.coalesce("n", F.lit(0)).alias("n_purchases"),
            F.coalesce("v", F.lit(0.0)).alias("total_value"),
        )
    )


# ---------------------------------------------------------------------------
# q82 — time-weighted average value per user (duration-weighted mean)
# ---------------------------------------------------------------------------

_Q82_ORACLE = """
WITH t AS (
  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value,
         (epoch_us(lead(CAST(ts AS TIMESTAMP)) OVER w) // 1000000)
           - (epoch_us(CAST(ts AS TIMESTAMP)) // 1000000) AS dt_sec
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), v AS (
  SELECT user_id,
         CAST(value AS DECIMAL(18,2)) * dt_sec AS wv,
         dt_sec
  FROM t WHERE dt_sec IS NOT NULL
)
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_intervals,
       CAST(sum(dt_sec) AS BIGINT) AS total_sec,
       CAST(CAST(sum(wv) AS DOUBLE)
            / CAST(sum(dt_sec) AS DOUBLE) AS DOUBLE) AS twa_value
FROM v GROUP BY user_id
"""


@register("q82_time_weighted_avg", _Q82_ORACLE)
def q82(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duration-weighted mean — the value between two observations
    holds until the next one, so each reading weights by its holding
    period (the metering/finance semantics a plain AVG gets wrong).
    lead() over (user, time) gives holding durations in ONE window
    shuffle; weights are exact decimal×integer products summed
    exactly, with a single IEEE division at the end — engine-exact.
    The per-user aggregate reuses the window's hash partitioning
    (same single-Exchange shape as q72)."""
    from ..catalog import load_table

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "value"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    sec = F.col("ts").cast("long")
    t = ev.withColumn(
        "dt_sec", F.lead(F.col("ts")).over(w).cast("long") - sec
    ).filter(F.col("dt_sec").isNotNull())
    wv = F.col("value").cast(T.DecimalType(18, 2)) * F.col("dt_sec")
    return t.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_intervals"),
        F.sum("dt_sec").alias("total_sec"),
        (
            F.sum(wv).cast("double")
            / F.sum("dt_sec").cast("double")
        ).alias("twa_value"),
    )


# ---------------------------------------------------------------------------
# q84 — right-to-be-forgotten audit (deletion propagation across tables)
# ---------------------------------------------------------------------------

_Q84_ORACLE = """
WITH forget AS (
  SELECT DISTINCT user_id FROM events WHERE user_id % 97 = 0
)
SELECT 'events' AS tbl,
       CAST((SELECT count(*) FROM events) AS BIGINT) AS n_before,
       CAST((SELECT count(*) FROM events e
             WHERE NOT EXISTS (SELECT 1 FROM forget f
                               WHERE f.user_id = e.user_id))
            AS BIGINT) AS n_after,
       CAST((SELECT count(*) FROM events e
             WHERE EXISTS (SELECT 1 FROM forget f
                           WHERE f.user_id = e.user_id))
            AS BIGINT) AS n_removed
UNION ALL
SELECT 'customer',
       CAST((SELECT count(*) FROM customer) AS BIGINT),
       CAST((SELECT count(*) FROM customer c
             WHERE NOT EXISTS (SELECT 1 FROM forget f
                               WHERE f.user_id = c.c_custkey))
            AS BIGINT),
       CAST((SELECT count(*) FROM customer c
             WHERE EXISTS (SELECT 1 FROM forget f
                           WHERE f.user_id = c.c_custkey))
            AS BIGINT)
"""


@register("q84_forget_audit", _Q84_ORACLE)
def q84(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten audit: given a deletion set of subject
    ids, report per-table before/after/removed row counts — the
    verification step of a GDPR/CCPA erasure job over a lake (the
    scrub itself is the same anti-join with a write; the audit is what
    compliance keeps). Each table costs one scan + one anti/semi
    membership probe against the forget-key set; counts come from ONE
    left join per table (removed = rows with a match, kept = rows
    without), partial-aggregated map-side — no second scan."""
    ev = load_table(spark, sf_dir, "events")
    cust = load_table(spark, sf_dir, "customer")
    forget = (
        ev.filter(F.col("user_id") % 97 == 0)
        .select(F.col("user_id").alias("_fk"))
        .distinct()
        .withColumn("_hit", F.lit(1))
    )

    def audit(df: DataFrame, key: str, label: str) -> DataFrame:
        tagged = df.select(F.col(key).alias("_k")).join(
            F.broadcast(forget), F.col("_k") == F.col("_fk"), "left"
        )
        return tagged.agg(
            F.lit(label).alias("tbl"),
            F.count(F.lit(1)).alias("n_before"),
            (F.count(F.lit(1)) - F.count("_hit")).alias("n_after"),
            F.count("_hit").alias("n_removed"),
        )

    return audit(ev, "user_id", "events").unionAll(
        audit(cust, "c_custkey", "customer")
    )


@register(
    "q90_backfill_lookback",
    """
WITH anchor AS (
  SELECT COALESCE(MAX(CAST(ts AS DATE)), DATE '1970-01-01') AS wm FROM events
)
SELECT CAST(ts AS DATE) AS run_date,
       COUNT(*) AS n_runs,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events, anchor
WHERE event_type = 'purchase'
  AND CAST(ts AS DATE) >= wm - INTERVAL 30 DAY
GROUP BY CAST(ts AS DATE)
""",
)
def q90(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.11 lookback/backfill mode — the export_last_month variant
    (/root/reference/export_last_month.py:208,225): the freshness floor
    is NOT a sink watermark but today − N days (F6 date arithmetic),
    and everything completed on/after it is re-exported. Anchored to
    the max event date so the query is deterministic at any sf; the
    floor is computed IN-PLAN (1-row watermark frame broadcast onto the
    fact scan — same shape run_export(mode='lookback') uses, where the
    write is exercised by the pipeline unit tests)."""
    ev = load_table(spark, sf_dir, "events")
    anchor = max_date_watermark(ev, F.col("ts").cast("date"))
    floor = anchor.select(F.date_sub("watermark", 30).alias("floor"))
    fresh = ev.crossJoin(F.broadcast(floor)).filter(
        (F.col("event_type") == "purchase")
        & (F.col("ts").cast("date") >= F.col("floor"))
    )
    return fresh.groupBy(F.col("ts").cast("date").alias("run_date")).agg(
        F.count(F.lit(1)).alias("n_runs"), dsum("value", "total_value")
    )
