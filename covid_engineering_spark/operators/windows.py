"""Window / time-series tier (SURVEY.md §2.5, §2.9): running totals,
lag-diffs, first/last extraction, per-group tails, ranking, and the
reference's regression pipelines re-expressed as window compositions.

The reference computes all of these on a single pre-filtered country
frame with pandas whole-frame ops (``cumsum`` main.py:260-262, ``diff``
main.py:66,302-304, ``iloc`` slices main.py:49-51,649-652). The engine
generalizes every one to *all* partition keys at once: one shuffle on
the partition key, then per-partition sorted evaluation — the same
plan shape at 188 rows or 100 TB.

Window ordering is always (time, unique_key) so results are
deterministic under ties — a requirement the eager single-threaded
reference never had to think about.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from covid_engineering_spark.sources import read_table

#: Deterministic per-user event ordering (ties broken by event_id).
def _w_user():
    return Window.partitionBy("user_id").orderBy("ts", "event_id")


def q_w1_cumsum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1 — running total per key (``cumsum`` ×3, main.py:260-262):
    cumulative customer spend over order time. Decimal accumulation
    keeps every prefix sum exact (and hash-stable vs the oracle).
    """
    orders = read_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.round(
            F.sum(F.col("o_totalprice").cast("decimal(18,6)")).over(w).cast("double"),
            2,
        ).alias("running_spend"),
    )


def q_w2_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2 — first difference (``diff()``, the reference's workhorse:
    ΔD, ΔR, ΔI at main.py:66,83,100,302-304): per-user value deltas.
    First row of each partition yields null, exactly like pandas diff.
    """
    ev = read_table(spark, sf_dir, "events")
    return ev.select(
        "user_id",
        "event_id",
        (F.col("value") - F.lag("value").over(_w_user())).alias("dv"),
    )


def q_w3_drop_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3 — drop-first-row-after-diff (``iloc[1:]``, main.py:66-69):
    keep only rows with a defined delta, via row_number > 1.
    """
    ev = read_table(spark, sf_dir, "events")
    df = ev.select(
        "user_id",
        "event_id",
        F.row_number().over(_w_user()).alias("rn"),
        (F.col("value") - F.lag("value").over(_w_user())).alias("dv"),
    )
    return df.filter(F.col("rn") > 1).select("user_id", "event_id", "dv")


def q_w4_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W4 — first/last scalar extraction (``iloc[0]`` initial
    conditions main.py:49-51; tail values): per-user first and last
    event value over the full frame.
    """
    ev = read_table(spark, sf_dir, "events")
    w_full = _w_user().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return (
        ev.select(
            "user_id",
            F.first("value").over(w_full).alias("first_value"),
            F.last("value").over(w_full).alias("last_value"),
        )
        .distinct()
    )


def q_w5_tail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W5 — per-group tail slice (``iloc[-(n+1):]``, main.py:649-652):
    last 3 events per user, re-numbered from the end.
    """
    ev = read_table(spark, sf_dir, "events")
    w_desc = Window.partitionBy("user_id").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    return (
        ev.select(
            "user_id",
            "event_id",
            "value",
            F.row_number().over(w_desc).alias("rn_from_end"),
        )
        .filter(F.col("rn_from_end") <= 3)
    )


def q_w8_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W8 (extension) — RANGE frame: per-customer rolling 7-day spend.
    The frame is value-based (previous 6 days + today by *date*, not
    row count), so gaps in order history shrink the window — rows
    cannot express that. One shuffle on the partition key, like every
    other window here.
    """
    orders = read_table(spark, sf_dir, "orders")
    day = F.unix_date(F.col("o_orderdate").cast("date"))
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(day)
        .rangeBetween(-6, 0)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.round(
            F.sum(F.col("o_totalprice").cast("decimal(18,6)")).over(w).cast("double"),
            2,
        ).alias("spend_7d"),
    )


def q_w7_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W7 (extension) — rank/dense_rank/ntile per group: customer
    balance ranking within nation, fully tie-broken.
    """
    cust = read_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(
        F.desc("c_acctbal"), "c_custkey"
    )
    return cust.select(
        "c_nationkey",
        "c_custkey",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.ntile(4).over(w).alias("quartile"),
    )


def q_m1_ols_origin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M1 — zero-intercept OLS as a single aggregate (statsmodels
    ``sm.OLS(ΔD, I).fit()`` → μ̂, main.py:78-87): regress per-user
    value deltas on the previous value, β̂ = Σ(x·y)/Σ(x²). The lag
    runs as a window; the fit collapses into one partial+final agg —
    no ML library, no iteration, one pass.
    """
    ev = read_table(spark, sf_dir, "events")
    pairs = ev.select(
        F.lag("value").over(_w_user()).alias("x"),
        (F.col("value") - F.lag("value").over(_w_user())).alias("y"),
    ).filter(F.col("x").isNotNull())
    return pairs.agg(
        F.round(
            F.sum((F.col("x") * F.col("y")).cast("decimal(28,6)")).cast("double")
            / F.sum((F.col("x") * F.col("x")).cast("decimal(28,6)")).cast("double"),
            6,
        ).alias("beta_hat")
    )


def _delta_and_rate():
    """Per-user value delta and its rate over the eps-guarded previous
    level: the M3 series, which M4 rescales."""
    prev = F.lag("value").over(_w_user())
    delta = F.col("value") - prev
    return delta, delta / F.greatest(prev, F.lit(1e-6))


def q_m3_param_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M3 — per-key time-varying parameter estimation (μₜ,αₜ,βₜ series,
    main.py:295-317,536-556): delta over eps-guarded previous level,
    for every user at once. The reference loops one country at a time
    through a pre-filter; here it is one window pass partitioned by
    key.
    """
    ev = read_table(spark, sf_dir, "events")
    delta, rate = _delta_and_rate()
    return ev.select(
        "user_id",
        "event_id",
        delta.alias("delta"),
        rate.alias("rate"),
    ).filter(F.col("delta").isNotNull())


def q_m4_r0_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M4 — R₀ trajectory assembly (βₜ/γ, main.py:319-331): the M3
    rate series scaled by a constant recovery rate γ=0.1.
    """
    ev = read_table(spark, sf_dir, "events")
    _, rate = _delta_and_rate()
    return ev.select(
        "user_id",
        "event_id",
        (rate / F.lit(0.1)).alias("r0"),
    ).filter(F.col("r0").isNotNull())


QUERIES = {
    "w1_cumsum": q_w1_cumsum,
    "w2_diff": q_w2_diff,
    "w3_drop_first": q_w3_drop_first,
    "w4_first_last": q_w4_first_last,
    "w5_tail": q_w5_tail,
    "w7_rank": q_w7_rank,
    "w8_range_frame": q_w8_range_frame,
    "m1_ols_origin": q_m1_ols_origin,
    "m3_param_series": q_m3_param_series,
    "m4_r0_series": q_m4_r0_series,
}

_W = "PARTITION BY user_id ORDER BY ts, event_id"

ORACLES = {
    "w8_range_frame": """
        SELECT o_custkey, o_orderkey,
               ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) OVER (
                   PARTITION BY o_custkey ORDER BY CAST(o_orderdate AS DATE)
                   RANGE BETWEEN INTERVAL 6 DAY PRECEDING AND CURRENT ROW
               ) AS DOUBLE), 2) AS spend_7d
        FROM orders
    """,
    "w1_cumsum": """
        SELECT o_custkey, o_orderkey,
               ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) OVER (
                   PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS DOUBLE), 2) AS running_spend
        FROM orders
    """,
    "w2_diff": f"""
        SELECT user_id, event_id,
               value - LAG(value) OVER ({_W}) AS dv
        FROM events
    """,
    "w3_drop_first": f"""
        SELECT user_id, event_id, dv FROM (
            SELECT user_id, event_id,
                   ROW_NUMBER() OVER ({_W}) AS rn,
                   value - LAG(value) OVER ({_W}) AS dv
            FROM events
        ) t WHERE rn > 1
    """,
    "w4_first_last": f"""
        SELECT DISTINCT user_id,
               FIRST_VALUE(value) OVER ({_W}
                   ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS first_value,
               LAST_VALUE(value) OVER ({_W}
                   ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_value
        FROM events
    """,
    "w5_tail": """
        SELECT user_id, event_id, value, rn_from_end FROM (
            SELECT user_id, event_id, value,
                   ROW_NUMBER() OVER (PARTITION BY user_id
                                      ORDER BY ts DESC, event_id DESC) AS rn_from_end
            FROM events
        ) t WHERE rn_from_end <= 3
    """,
    "w7_rank": """
        SELECT c_nationkey, c_custkey,
               CAST(RANK() OVER w AS INTEGER) AS rnk,
               CAST(DENSE_RANK() OVER w AS INTEGER) AS drnk,
               CAST(NTILE(4) OVER w AS INTEGER) AS quartile
        FROM customer
        WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey)
    """,
    "m1_ols_origin": f"""
        SELECT ROUND(
            CAST(SUM(CAST(x * y AS DECIMAL(28,6))) AS DOUBLE)
          / CAST(SUM(CAST(x * x AS DECIMAL(28,6))) AS DOUBLE), 6) AS beta_hat
        FROM (
            SELECT LAG(value) OVER ({_W}) AS x,
                   value - LAG(value) OVER ({_W}) AS y
            FROM events
        ) t WHERE x IS NOT NULL
    """,
    "m3_param_series": f"""
        SELECT user_id, event_id, delta, delta / GREATEST(prev, 0.000001) AS rate
        FROM (
            SELECT user_id, event_id,
                   LAG(value) OVER ({_W}) AS prev,
                   value - LAG(value) OVER ({_W}) AS delta
            FROM events
        ) t WHERE delta IS NOT NULL
    """,
    "m4_r0_series": f"""
        SELECT user_id, event_id,
               ((value - prev) / GREATEST(prev, 0.000001)) / 0.1 AS r0
        FROM (
            SELECT user_id, event_id, value,
                   LAG(value) OVER ({_W}) AS prev
            FROM events
        ) t WHERE ((value - prev) / GREATEST(prev, 0.000001)) / 0.1 IS NOT NULL
    """,
}
