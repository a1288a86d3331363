"""two_phase_rank must equal the plain window formulation exactly —
rank/percent_rank/lag-gap — including ties (shared rank, zero gap
inside a tie group), single-row groups (percent_rank = 0), and tie
groups that span range-partition boundaries (forced via a tiny
num_partitions)."""

from pyspark.sql import Window
from pyspark.sql import functions as F

from nessus_client_etl_scripts_spark.operators.windows import two_phase_rank


def _window_truth(df):
    w = Window.partitionBy("g").orderBy("v")
    w2 = Window.partitionBy("g").orderBy("v", "k")
    return df.select(
        "g",
        "k",
        "v",
        F.rank().over(w).cast("long").alias("rank"),
        F.percent_rank().over(w).alias("pct_rank"),
        (F.col("v") - F.lag("v").over(w2)).alias("gap_to_prev"),
    )


def _rows(df):
    return sorted(
        (r.g, r.k, r.v, r.rank, r.pct_rank, r.gap_to_prev) for r in df.collect()
    )


def test_two_phase_rank_matches_window(spark):
    data = [
        # group a: ties (10.0 x3), duplicates across the value range
        ("a", 1, 10.0), ("a", 2, 10.0), ("a", 3, 10.0),
        ("a", 4, 12.5), ("a", 5, 12.5), ("a", 6, 20.0), ("a", 7, 1.0),
        # group b: strictly increasing
        ("b", 1, 1.0), ("b", 2, 2.0), ("b", 3, 3.0),
        # group c: single row → percent_rank 0, gap null
        ("c", 1, 42.0),
    ]
    df = spark.createDataFrame(data, "g string, k long, v double")
    out = two_phase_rank(df, "g", "v", "k")
    assert _rows(out) == _rows(_window_truth(df))


def test_two_phase_rank_ties_across_partition_boundaries(spark):
    # 40 rows in one group, heavy ties; num_partitions=8 forces tie
    # groups to straddle range-partition boundaries, exercising the
    # min-over-tie-group rank and the predecessor-partition lag path.
    data = [("g", k, float(k % 5)) for k in range(40)]
    df = spark.createDataFrame(data, "g string, k long, v double")
    out = two_phase_rank(df, "g", "v", "k", num_partitions=8)
    assert _rows(out) == _rows(_window_truth(df))


def test_two_phase_rank_no_low_cardinality_window_partition(spark):
    """The executed plan must not contain a window partitioned only by
    the group column — the whole point is that window partitioning is
    (group, partition_id)."""
    data = [("g", k, float(k)) for k in range(20)]
    df = spark.createDataFrame(data, "g string, k long, v double")
    plan = (
        two_phase_rank(df, "g", "v", "k", num_partitions=4)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "_pid" in plan  # window keyed by (g, _pid)


def test_scalable_cumsum_matches_global_window(spark):
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from nessus_client_etl_scripts_spark.operators.windows import (
        scalable_cumsum,
    )

    rows = [(i, (i * 37) % 101) for i in range(1, 501)]
    df = spark.createDataFrame(rows, ["k", "w"]).repartition(7)
    got = {
        r["k"]: r["cumsum"]
        for r in scalable_cumsum(df, ("k",), "w", num_partitions=5).collect()
    }
    w = Window.orderBy("k").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    want = {
        r["k"]: r["c"]
        for r in df.withColumn("c", F.sum("w").over(w)).collect()
    }
    assert got == want


def test_weighted_systematic_sample_covers_grid_exactly(spark):
    from nessus_client_etl_scripts_spark.operators.sampling import (
        weighted_systematic_sample,
    )

    # weights sum to 100; stride 10 -> exactly 10 grid hits in total,
    # heavy rows (w=25 > stride) sampled multiply
    rows = [(1, 25), (2, 5), (3, 25), (4, 20), (5, 25)]
    df = spark.createDataFrame(rows, ["doc_id", "w"])
    out = weighted_systematic_sample(df, weight_col="w", stride=10)
    hits = {r["doc_id"]: r["n_hits"] for r in out.collect()}
    assert sum(hits.values()) == 10
    assert hits[1] >= 2  # heavy first row covers >=2 grid points
    assert 2 not in hits or hits[2] <= 1


def test_two_phase_rank_property_random_ties(spark):
    """Property check with adversarial duplicates: two_phase_rank must
    equal the plain window rank/percent_rank for value distributions
    heavy in ties (the case the offset bookkeeping can get wrong)."""
    import random

    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from nessus_client_etl_scripts_spark.operators.windows import (
        two_phase_rank,
    )

    rng = random.Random(7)
    rows = [
        (i, rng.choice("ab"), rng.randrange(5))  # only 5 distinct vals
        for i in range(1, 301)
    ]
    df = spark.createDataFrame(rows, ["k", "part", "val"]).repartition(7)
    got = {
        r["k"]: (r["rank"], round(r["pct_rank"], 9))
        for r in two_phase_rank(
            df, part_col="part", val_col="val", key_col="k",
            num_partitions=5,
        ).collect()
    }
    w = Window.partitionBy("part").orderBy("val")
    want = {
        r["k"]: (r["r"], round(r["p"], 9))
        for r in df.withColumn("r", F.rank().over(w))
        .withColumn("p", F.percent_rank().over(w))
        .collect()
    }
    assert got == want


def test_two_phase_rank_stable_under_nondeterministic_upstream(spark):
    """The staged frame is localCheckpoint-pinned, so the _pid-keyed
    offsets and the final join read the SAME materialization even when
    the upstream returns rows in a different order on every execution
    (the partition-reassignment hazard the round-4 advisory flagged:
    without the pin, the stats job and the main job re-execute the
    range exchange against different row orders and the broadcast
    offsets silently mis-rank)."""
    rows = [(i, "ab"[i % 2], (i * 13) % 7) for i in range(1, 401)]
    base = spark.createDataFrame(rows, "k long, part string, val long")

    def _shuffle(it):
        for pdf in it:
            # pandas .sample without random_state draws a fresh numpy
            # seed per call → genuinely different order per execution
            yield pdf.sample(frac=1.0)

    df = base.repartition(8).mapInPandas(_shuffle, schema=base.schema)
    out = two_phase_rank(df, "part", "val", "k", num_partitions=5)
    got = {r["k"]: r["rank"] for r in out.collect()}
    w = Window.partitionBy("part").orderBy("val")
    want = {
        r["k"]: r["r"]
        for r in base.withColumn("r", F.rank().over(w).cast("long")).collect()
    }
    assert got == want


def test_prefix_sums_stable_under_nondeterministic_upstream(spark):
    """scalable_prefix_sums shares the pinning rule: its offsets are
    keyed by physical partition id, so the staged frame must be the
    same materialization for the stats job, the derive projection and
    the window join — proven against a per-execution-shuffled
    upstream."""
    from nessus_client_etl_scripts_spark.operators.windows import (
        scalable_prefix_sums,
    )

    rows = [(i, (i * 29) % 11, (i * 7) % 5) for i in range(1, 301)]
    base = spark.createDataFrame(rows, "k long, ord long, v long")

    def _shuffle(it):
        for pdf in it:
            yield pdf.sample(frac=1.0)

    df = base.repartition(8).mapInPandas(_shuffle, schema=base.schema)
    out = scalable_prefix_sums(
        df,
        ("ord", "k"),
        ("v",),
        derive={"one": F.lit(1).cast("long")},
        num_partitions=5,
    )
    got = {r["k"]: (r["cum_one"], r["cum_v"]) for r in out.collect()}
    c1 = cv = 0
    for k, o, v in sorted(rows, key=lambda r: (r[1], r[0])):
        c1 += 1
        cv += v
        assert got[k] == (c1, cv)


def test_scalable_ntile_matches_global_ntile_window(spark):
    """scalable_ntile must reproduce ntile(b) OVER (ORDER BY v, k)
    exactly — including the n % b remainder (first buckets one row
    larger), n < b (each row its own bucket), and n divisible by b —
    with a tiny num_partitions so bucket spans straddle range
    boundaries."""
    from nessus_client_etl_scripts_spark.operators.windows import (
        scalable_ntile,
    )

    for n, b in ((23, 5), (3, 5), (20, 4), (1, 7), (40, 3)):
        data = [(k, float((k * 7) % 11)) for k in range(n)]
        df = spark.createDataFrame(data, "k long, v double")
        got = sorted(
            (r.k, r.bucket)
            for r in scalable_ntile(
                df, ("v", "k"), b, num_partitions=4
            ).collect()
        )
        w = Window.orderBy("v", "k")
        want = sorted(
            (r.k, r.t)
            for r in df.select(
                "k", F.ntile(b).over(w).alias("t")
            ).collect()
        )
        assert got == want, (n, b)


def test_scalable_ntile_property_random_ties(spark):
    """Randomized n/b/tie-structure agreement with the native window
    ntile — deterministic LCG-driven trials (seeded, reproducible,
    no hypothesis-Spark session cost), ties made heavy on purpose."""
    from nessus_client_etl_scripts_spark.operators.windows import (
        scalable_ntile,
    )

    seed = 0xC0FFEE
    for trial in range(6):
        seed = (seed * 6364136223846793005 + 1442695040888963407) % 2**64
        n = 1 + seed % 57
        b = 2 + (seed >> 8) % 9
        vals = []
        s = seed
        for k in range(n):
            s = (s * 6364136223846793005 + 1442695040888963407) % 2**64
            vals.append((k, float(s % 7)))  # heavy ties
        df = spark.createDataFrame(vals, "k long, v double")
        got = sorted(
            (r.k, r.bucket)
            for r in scalable_ntile(
                df, ("v", "k"), b, num_partitions=3
            ).collect()
        )
        w = Window.orderBy("v", "k")
        want = sorted(
            (r.k, r.t)
            for r in df.select("k", F.ntile(b).over(w).alias("t")).collect()
        )
        assert got == want, (trial, n, b)


def test_kernel_totals_and_derive(spark):
    """The r12 optimization surface: totals attached from the driver
    stats pass must equal the separate aggregate they replace, the
    total_out side-channel must carry the same value as a Python int,
    and scalable_row_number derived columns (computed post-exchange)
    must match the same expression computed pre-exchange."""
    import pyspark.sql.functions as F

    from nessus_client_etl_scripts_spark.operators.windows import (
        scalable_cumsum,
        scalable_prefix_sums,
        scalable_row_number,
    )

    rows = [(i, (i * 37) % 101, (i * 13) % 7) for i in range(1, 301)]
    df = spark.createDataFrame(rows, ["k", "w", "u"]).repartition(5)

    # scalable_cumsum total_col: literal equals SUM(w)
    c = scalable_cumsum(
        df, ("k",), "w", num_partitions=4, total_col="tw"
    ).collect()
    want_total = sum(r[1] for r in rows)
    assert {r["tw"] for r in c} == {want_total}
    assert max(r["cumsum"] for r in c) == want_total

    # scalable_row_number total_col + total_out + derive
    tot: dict = {}
    r = scalable_row_number(
        df,
        ("k",),
        out_col="rn",
        num_partitions=4,
        total_col="n",
        derive={"w2": F.col("w") * 2},
        total_out=tot,
    ).collect()
    assert tot["n"] == len(rows)
    assert {x["n"] for x in r} == {len(rows)}
    assert all(x["w2"] == 2 * x["w"] for x in r)
    assert sorted(x["rn"] for x in r) == list(range(1, len(rows) + 1))

    # scalable_prefix_sums total_cols: literals equal the summand sums
    p = scalable_prefix_sums(
        df,
        ("k",),
        val_cols=("w", "u"),
        num_partitions=4,
        total_cols={"w": "tw", "u": "tu"},
    ).collect()
    assert {x["tw"] for x in p} == {sum(r[1] for r in rows)}
    assert {x["tu"] for x in p} == {sum(r[2] for r in rows)}
