"""URL/domain-level corpus controls (the CommonCrawl-style prepass a
web-crawl training mix runs first): URL canonicalization, registered-
domain extraction, and per-domain document budgets.

Everything here is JVM built-in string algebra — one whole-stage-
codegen span per projection, no UDFs — and every helper mirrors a
DuckDB expression exactly (see plans/round8_queries.py for the oracle
twins).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# Two-label public suffixes handled by the registered-domain rule.  A
# production deployment loads the full public-suffix list as a
# broadcast lookup; the rule below (longest matching suffix + one
# label) is the same algorithm at any list size.
TWO_LABEL_SUFFIXES = (".co.uk", ".com.au", ".co.jp")


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def canonicalize_url(url: Column | str) -> Column:
    """Canonical form of a URL for dedup/budget keys: drop the
    fragment, drop the scheme, lowercase, drop a leading ``www.``,
    drop ``utm``-prefixed tracking params, and order-normalize the
    remaining query params.  Idempotent: applying it twice is the
    identity on its own output."""
    u = _col(url)
    low = F.lower(
        F.regexp_replace(F.split(u, "#").getItem(0), "^https?://", "")
    )
    # Strip ALL leading www. labels, but only when what remains is
    # still a registrable host — at least two labels and not a bare
    # public suffix ("www.site.com" → "site.com"; "www.com" and
    # "www.co.uk" are registered hosts and stay; "www.www.co.uk"
    # stays whole rather than being reduced to the suffix).  The
    # all-or-nothing rule is what makes canonicalization IDEMPOTENT
    # (property-tested): the stripped form never starts with www.,
    # and a kept form is kept again on every later pass.  The q214
    # oracle uses plain ^www\. — identical on the synthesized
    # universe, which has no nested-www or bare-suffix hosts.
    stripped = F.regexp_replace(low, r"^(www\.)+", "")
    shost = F.split(stripped, r"[/?]").getItem(0)
    bare_suffixes = [s.lstrip(".") for s in TWO_LABEL_SUFFIXES]
    noww = F.when(
        shost.contains(".") & ~shost.isin(*bare_suffixes), stripped
    ).otherwise(low)
    qsplit = F.split(noww, r"\?")
    hp = qsplit.getItem(0)
    # F.get, not getItem: a URL with no query string has a 1-element
    # split, and ANSI-mode getItem(1) THROWS where get() returns NULL
    # (DuckDB's list[2] semantics) — found by the hypothesis suite.
    params = F.array_join(
        F.array_sort(
            F.filter(
                F.split(F.get(qsplit, 1), "&"),
                lambda x: ~x.startswith("utm"),
            )
        ),
        "&",
    )
    return F.concat(
        hp,
        F.when(
            params.isNotNull() & (params != ""),
            F.concat(F.lit("?"), params),
        ).otherwise(F.lit("")),
    )


def host_of(canon: Column | str) -> Column:
    """The host part of a canonicalized URL (everything before the
    first ``/`` OR ``?`` — a canonical URL may carry a query string
    with no path, e.g. ``example.com?x=1``)."""
    return F.split(_col(canon), r"[/?]").getItem(0)


def registered_domain(host: Column | str) -> Column:
    """The registered (pay-level) domain of a host: the last two
    labels, or the last three when the host ends in a two-label public
    suffix (co.uk family)."""
    h = _col(host)
    labels = F.split(h, r"\.")
    last2 = F.concat_ws(
        ".", F.element_at(labels, -2), F.element_at(labels, -1)
    )
    last3 = F.concat_ws(
        ".",
        F.element_at(labels, -3),
        F.element_at(labels, -2),
        F.element_at(labels, -1),
    )
    cond = F.lit(False)
    for suf in TWO_LABEL_SUFFIXES:
        cond = cond | h.endswith(suf)
    return F.when(cond, last3).otherwise(last2)


def domain_budget(
    df: DataFrame,
    domain_col: str,
    cap: int,
    order_cols: tuple[Column, ...],
) -> DataFrame:
    """Per-domain document budget: rank every row inside its domain by
    the deterministic ``order_cols`` keep-priority and keep the first
    ``cap``.  Adds ``n_domain_docs``, ``drank`` and ``kept``.

    Scale: ONE exchange on the domain key, shared by both window
    functions.  Web-scale domain cardinality is millions (healthy hash
    key); the single pathological mega-domain is exactly what the cap
    bounds, and AQE skew-join/partition splitting handles its shuffle
    skew."""
    w_rank = Window.partitionBy(domain_col).orderBy(*order_cols)
    w_all = Window.partitionBy(domain_col)
    return (
        df.withColumn(
            "n_domain_docs", F.count(F.lit(1)).over(w_all).cast("long")
        )
        .withColumn("drank", F.row_number().over(w_rank).cast("long"))
        .withColumn("kept", F.col("drank") <= cap)
    )
