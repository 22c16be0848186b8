"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

Implementations live in ``covid_engineering_spark`` (SURVEY.md §2 maps
each query id to the reference operator it re-expresses).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: top-5 customers by
    discounted revenue (scan → broadcast join → shuffle join → partial
    agg → top-k), the spine shape from SURVEY.md §7.2.
    """
    from covid_engineering_spark.session import configure_existing
    from covid_engineering_spark.sources import read_table

    configure_existing(spark)
    sf_dir = "/root/testdata/sf0.001"
    li = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders")
    cust = read_table(spark, sf_dir, "customer")
    revenue = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        # customer scales with SF: broadcast is the size-based
        # planner's decision, not a pinned hint.
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("c_custkey", "c_name")
        .agg(
            F.round(F.sum(revenue.cast("decimal(28,6)")).cast("double"), 2).alias(
                "revenue"
            )
        )
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(5)
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    from covid_engineering_spark.queries import registry
    from covid_engineering_spark.session import configure_existing

    reg = registry()

    def _wrap(fn):
        def run(spark: SparkSession, sf_dir: str) -> DataFrame:
            configure_existing(spark)
            return fn(spark, sf_dir)

        run.__name__ = fn.__name__
        run.__doc__ = fn.__doc__
        return run

    return {name: _wrap(fn) for name, fn in reg.items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL twins of ``queries()`` entries — one
    per registered query, no rows-only exceptions: even the IVF ANN
    index replays in SQL (deterministic md5-sampled + one-Lloyd-step
    codebook).
    """
    from covid_engineering_spark.queries import oracles

    return oracles()
