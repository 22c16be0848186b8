"""Bucketed co-located join: the layout-level shuffle elimination.
Writing both join sides bucketed+sorted on the key must produce a
sort-merge join with ZERO exchanges — the property that makes
recurring fact-to-fact joins affordable at 100 TB.
"""

import pytest

from pyspark.sql import functions as F

from covid_engineering_spark.plans import shuffle_count, sort_merge_join_count
from covid_engineering_spark.sources import read_table, write_bucketed

from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def bucketed(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("bucketed")
    orders = read_table(spark, SF_SMOKE, "orders")
    li = read_table(spark, SF_SMOKE, "lineitem")
    write_bucketed(orders, "orders_b", str(base / "orders_b"))
    write_bucketed(
        li.withColumnRenamed("l_orderkey", "o_orderkey"),
        "lineitem_b",
        str(base / "lineitem_b"),
    )
    yield "orders_b", "lineitem_b"
    spark.sql("DROP TABLE IF EXISTS orders_b")
    spark.sql("DROP TABLE IF EXISTS lineitem_b")


def test_bucketed_join_has_zero_shuffles(spark, bucketed):
    t1, t2 = bucketed
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = (
            spark.table(t2)
            .join(spark.table(t1), "o_orderkey")
            .groupBy("o_orderpriority")
            .agg(F.count("*").alias("n"))
        )
        assert sort_merge_join_count(joined) == 1
        # The join itself is exchange-free; the only shuffle in the
        # whole plan is the final small groupBy.
        assert shuffle_count(joined) == 1
        # And the correctness sanity: same result as the plain join.
        plain = (
            read_table(spark, SF_SMOKE, "lineitem")
            .withColumnRenamed("l_orderkey", "o_orderkey")
            .join(read_table(spark, SF_SMOKE, "orders"), "o_orderkey")
            .groupBy("o_orderpriority")
            .agg(F.count("*").alias("n"))
        )
        assert sorted(map(tuple, joined.collect())) == sorted(
            map(tuple, plain.collect())
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
