"""Behavior tests for the extension operators that don't fit
an existing family file: the arg-max aggregate (a20_max_by).
"""

from pyspark.sql import Window
from pyspark.sql import functions as F

from covid_engineering_spark.operators.relational import q_a20_max_by
from covid_engineering_spark.sources import read_table
from tests.conftest import SF_SMOKE


def test_max_by_agrees_with_the_rank_window_formulation(spark):
    # the aggregate shape must return exactly what the (more
    # expensive) rank-window shape returns, tie-break included
    got = {
        (r["n_name"], r["top_customer"], r["max_acctbal_cents"])
        for r in q_a20_max_by(spark, SF_SMOKE).collect()
    }
    c = read_table(spark, SF_SMOKE, "customer")
    n = read_table(spark, SF_SMOKE, "nation")
    cents = F.floor(F.col("c_acctbal") * 100 + F.lit(0.5)).cast("bigint")
    w = Window.partitionBy("c_nationkey").orderBy(
        F.desc("cents"), F.desc("c_custkey")
    )
    ranked = (
        c.withColumn("cents", cents)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .join(n, F.col("c_nationkey") == F.col("n_nationkey"))
    )
    mx = (
        c.withColumn("cents", cents)
        .groupBy("c_nationkey")
        .agg(F.max("cents").alias("max_cents"))
    )
    want = {
        (r["n_name"], r["c_name"], m["max_cents"])
        for r in ranked.collect()
        for m in mx.collect()
        if m["c_nationkey"] == r["c_nationkey"]
    }
    assert got == want
    assert len(got) == n.count()


def test_max_by_is_deterministic_under_exact_balance_ties(spark):
    # two customers sharing the group maximum balance: the composite
    # ordering key must always pick the higher custkey
    rows = [
        (1, "alice", 10, 100.00),
        (7, "bob", 10, 100.00),
        (3, "carol", 10, 55.25),
        (2, "dave", 20, -999.99),
        (5, "erin", 20, -999.99),
    ]
    df = spark.createDataFrame(
        rows, "c_custkey long, c_name string, c_nationkey int, c_acctbal double"
    )
    cents = F.floor(F.col("c_acctbal") * 100 + F.lit(0.5)).cast("bigint")
    ordkey = cents * F.lit(4294967296) + F.col("c_custkey")
    got = {
        (r["c_nationkey"], r["top"])
        for r in df.groupBy("c_nationkey")
        .agg(F.max_by("c_name", ordkey).alias("top"))
        .collect()
    }
    # negative balances: the shifted key stays monotonic below zero
    assert got == {(10, "bob"), (20, "erin")}
