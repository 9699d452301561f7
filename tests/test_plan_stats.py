"""`plans/plan_stats.py` unit coverage: the node counters see what the
physical plan actually contains, and do not double-count reused or
broadcast exchanges as shuffles."""

from pyspark.sql import functions as F

from impala_hashset_count_spark.plans.plan_stats import plan_counts


def test_counts_shuffle_and_sort(spark):
    df = (
        spark.range(1000)
        .groupBy((F.col("id") % 7).alias("g"))
        .count()
        .orderBy("g")
    )
    c = plan_counts(df)
    # groupBy -> one hash exchange; orderBy -> one range exchange + Sort
    assert c["shuffles"] == 2
    assert c["sorts"] == 1
    assert c["broadcasts"] == 0
    assert c["python_stages"] == 0


def test_broadcast_not_counted_as_shuffle(spark):
    big = spark.range(10_000).select(F.col("id"), (F.col("id") % 5).alias("k"))
    dim = spark.range(5).select(F.col("id").alias("k"), F.lit("x").alias("v"))
    joined = big.join(F.broadcast(dim), "k")
    c = plan_counts(joined)
    assert c["broadcasts"] == 1
    assert c["shuffles"] == 0


def test_python_stage_counted(spark):
    import pandas as pd

    def f(it):
        for pdf in it:
            yield pdf

    df = spark.range(100).mapInPandas(f, "id long")
    assert plan_counts(df)["python_stages"] == 1


def test_counts_unchanged_after_execution(spark):
    """An executed frame's plan string holds AQE's final plan above its
    initial one; only the initial plan is counted, before and after."""
    df = spark.range(1000).groupBy((F.col("id") % 7).alias("g")).count()
    before = plan_counts(df)
    df.collect()
    assert plan_counts(df) == before
    assert before["shuffles"] == 1
