"""queries.cut_count: the round cut that also counts, in the same job."""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from pdxbldgimport_spark.queries import cut, cut_count


def _jobs(spark, group: str, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_cut_count_counts_in_the_cut_job(spark):
    rng = random.Random(5)
    rows = [(rng.randrange(40), rng.randrange(1000)) for _ in range(400)]
    # an aggregate, so the cut runs a shuffle as a round state does
    df = (
        spark.createDataFrame(rows, "k long, x long")
        .groupBy("k")
        .agg(F.sum("x").alias("s"))
    )
    flag = F.col("s") % 3 == 0
    expect = df.where(flag).count()
    assert 0 < expect < df.count()

    cut_df, n_cut = _jobs(spark, "cut_count_test_cut", lambda: cut(df))
    (got, n), n_count = _jobs(
        spark, "cut_count_test_count", lambda: cut_count(df, flag)
    )
    assert n == expect
    assert sorted(got.collect()) == sorted(df.collect()) == sorted(cut_df.collect())
    # the count rides the checkpoint's own job(s): no extra job
    assert n_count == n_cut > 0
    assert cut_count(df, F.lit(False))[1] == 0
