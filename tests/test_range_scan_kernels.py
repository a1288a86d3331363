"""The range-scan kernels of operators/windows.py against native windows,
and the number of Spark jobs each one costs.

``scalable_row_number`` and ``grouped_row_number`` must equal
``row_number()`` over a global / per-group window exactly: order ties
broken by a unique key, more range partitions than groups, and range
partitions that receive no rows. The job-count pins hold every kernel to
its two-phase shape: one stats collect that also materializes the lazy
pin, then the final action. A rewrite that adds a stats or materialize
job fails them."""

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from nessus_client_etl_scripts_spark import runner
from nessus_client_etl_scripts_spark.operators import windows as W

# (k unique, g: 3 groups of unequal size, v: heavy ties inside each group)
ROWS = [(k, "abc"[k % 7 % 3], (k * 5) % 4) for k in range(60)]
SCHEMA = "k long, g string, v long"


@pytest.mark.parametrize("num_partitions", [2, 5, 16])
def test_scalable_row_number_matches_row_number(spark, num_partitions):
    df = spark.createDataFrame(ROWS, SCHEMA)
    out = W.scalable_row_number(df, ("v", "k"), num_partitions=num_partitions)
    got = {r.k: r.rn for r in out.collect()}
    w = Window.orderBy("v", "k")
    truth = df.select("k", F.row_number().over(w).alias("rn"))
    want = {r.k: r.rn for r in truth.collect()}
    assert got == want


@pytest.mark.parametrize("num_partitions", [2, 7, 16])
def test_grouped_row_number_matches_row_number(spark, num_partitions):
    # 7 and 16 range partitions over 3 groups: every group spans several
    # partitions and ties in v straddle partition boundaries
    df = spark.createDataFrame(ROWS, SCHEMA)
    out = W.grouped_row_number(
        df, "g", ("v", "k"), num_partitions=num_partitions, count_col="n"
    )
    got = {r.k: (r.rn, r.n) for r in out.collect()}
    w = Window.partitionBy("g").orderBy("v", "k")
    want = {
        r.k: (r.rn, r.n)
        for r in df.select(
            "k",
            F.row_number().over(w).alias("rn"),
            F.count(F.lit(1)).over(Window.partitionBy("g")).alias("n"),
        ).collect()
    }
    assert got == want


def test_row_number_kernels_with_empty_range_partitions(spark):
    # 5 rows over 8 range partitions: at least 3 partitions are empty,
    # so their _pid has no stats row and no offset
    rows = [(k, "ab"[k % 2], 1) for k in range(5)]
    df = spark.createDataFrame(rows, SCHEMA)
    flat = W.scalable_row_number(df, ("v", "k"), num_partitions=8, total_col="t")
    assert sorted((r.k, r.rn, r.t) for r in flat.collect()) == [
        (k, k + 1, 5) for k in range(5)
    ]
    grouped = W.grouped_row_number(df, "g", ("v", "k"), num_partitions=8)
    assert sorted((r.k, r.rn) for r in grouped.collect()) == [
        (0, 1), (1, 1), (2, 2), (3, 2), (4, 3)
    ]
    empty = spark.createDataFrame([], SCHEMA)
    assert W.scalable_row_number(empty, ("v", "k"), num_partitions=4).count() == 0
    assert W.grouped_row_number(empty, "g", ("v", "k"), num_partitions=4).count() == 0


# Jobs per kernel call run to a noop sink (num_partitions=4, AQE on as in
# the session factory): the stats collect, which also materializes the
# lazy pin, then the sink's jobs.
KERNEL_JOBS = {
    "two_phase_rank": (
        lambda df: W.two_phase_rank(df, "g", "v", "k", num_partitions=4, grn_col="p"),
        11,
    ),
    "scalable_cumsum": (
        lambda df: W.scalable_cumsum(
            df, ("v", "k"), "v", num_partitions=4, total_col="t"
        ),
        7,
    ),
    "scalable_running_max": (
        lambda df: W.scalable_running_max(df, "g", ("k",), "v", num_partitions=4),
        7,
    ),
    "scalable_row_number": (
        lambda df: W.scalable_row_number(
            df, ("v", "k"), num_partitions=4, total_col="t"
        ),
        7,
    ),
    "scalable_prefix_sums": (
        lambda df: W.scalable_prefix_sums(
            df,
            ("v", "k"),
            ("v",),
            derive={"one": F.lit(1).cast("long")},
            num_partitions=4,
            total_cols={"one": "n"},
        ),
        7,
    ),
    "grouped_row_number": (
        lambda df: W.grouped_row_number(
            df, "g", ("v", "k"), num_partitions=4, count_col="n"
        ),
        10,
    ),
}


@pytest.mark.parametrize("kernel", sorted(KERNEL_JOBS))
def test_kernel_job_count(spark, kernel):
    build, jobs = KERNEL_JOBS[kernel]

    def query(spark, sf_dir):
        return build(spark.createDataFrame(ROWS, SCHEMA))

    runner.run_query(spark, f"kernel_jobs_{kernel}", query, "unused")  # warm-up
    run = runner.run_query(spark, f"kernel_jobs_{kernel}", query, "unused")
    assert run.jobs == jobs
