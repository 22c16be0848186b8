"""Pins for the relational tier's scale-path operators.

``global_ntile`` (operators/relational.py) is the replacement
for the earlier ``rfm_segments`` plan whose three global
``Window.orderBy()`` windows funneled the whole per-customer frame
through ONE task.  The replacement must be *bit-identical* to the
window form — the window form is the exactness oracle here (the same
sketch-vs-exact discipline as a14/a18), and the driver's DuckDB NTILE
oracle stays unchanged.
"""

from pyspark.sql import Window
from pyspark.sql import functions as F

from covid_engineering_spark.operators.relational import (
    global_ntile,
    q_rfm_segments,
)

from conftest import SF_SMOKE


def _window_ntile(df, sort_exprs, k, out_col):
    return df.withColumn(
        out_col, F.ntile(k).over(Window.orderBy(*sort_exprs))
    )


def test_global_ntile_matches_window_ntile(spark):
    # Ties in the metric, a NULL metric, n % k != 0, and more rows
    # than one range partition will hold at 8 shuffle partitions —
    # every branch of the NTILE arithmetic (including the uneven
    # first-rem-buckets split) is exercised.
    rows = [(i, (i * 7) % 13, float((i * 3) % 5)) for i in range(97)]
    rows += [(1000, None, 0.0)]  # NULL metric sorts per sort_exprs
    df = spark.createDataFrame(rows, "id long, m int, v double")
    for k in (1, 3, 5, 7):
        for exprs in (
            [F.asc("m"), F.asc("id")],
            [F.desc("m"), F.asc_nulls_last("id")],
            [F.desc("v"), F.asc("m"), F.asc("id")],
        ):
            got = {
                r["id"]: r["b"]
                for r in global_ntile(df, exprs, k, "b").collect()
            }
            want = {
                r["id"]: r["b"]
                for r in _window_ntile(df, exprs, k, "b").collect()
            }
            assert got == want, (k, [str(e) for e in exprs])


def test_global_ntile_handles_n_smaller_than_k(spark):
    df = spark.createDataFrame([(1,), (2,), (3,)], "id long")
    got = sorted(
        (r["id"], r["b"])
        for r in global_ntile(df, [F.asc("id")], 5, "b").collect()
    )
    # NTILE with n < k: one row per bucket, buckets 1..n.
    assert got == [(1, 1), (2, 2), (3, 3)]


def test_global_ntile_plan_has_no_full_frame_global_sort(spark):
    # The data path must be the hash(_pid) window over the checkpointed
    # range partitions — the only SinglePartition exchange allowed is
    # the <=P-row offsets frame, which broadcasts. The lazy
    # localCheckpoint shows the range exchange as a Scan ExistingRDD.
    df = spark.range(1000).withColumn("m", F.col("id") % 17)
    plan = (
        global_ntile(df, [F.asc("m"), F.asc("id")], 5, "b")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("BroadcastExchange") == 1, plan
    # The broadcast build side is the join's last child, so its
    # subtree is the tail of the plan text.
    data_path, broadcast = plan.split("BroadcastExchange")
    assert "Exchange SinglePartition" in broadcast, plan
    assert "Exchange SinglePartition" not in data_path, plan
    assert "Exchange hashpartitioning(_gps_pid" in data_path, plan


def test_rfm_matches_window_ntile_form(spark):
    from covid_engineering_spark.sources import read_table

    # c_custkey may legitimately be NULL (NULL FK rows in the data);
    # sort by repr so None-vs-int tuples stay comparable.
    got = sorted(
        (tuple(r) for r in q_rfm_segments(spark, SF_SMOKE).collect()),
        key=repr,
    )

    orders = read_table(spark, SF_SMOKE, "orders")
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
    per_cust = orders.groupBy("o_custkey").agg(
        F.datediff(
            F.lit("2002-01-01").cast("date"),
            F.max(F.col("o_orderdate").cast("date")),
        ).alias("recency_days"),
        F.count("*").alias("n_orders"),
        F.sum(cents).alias("monetary_cents"),
    )
    key = F.asc_nulls_last("o_custkey")
    ref = (
        per_cust.withColumn(
            "r_score",
            F.ntile(5).over(Window.orderBy(F.asc("recency_days"), key)),
        )
        .withColumn(
            "f_score",
            F.ntile(5).over(Window.orderBy(F.desc("n_orders"), key)),
        )
        .withColumn(
            "m_score",
            F.ntile(5).over(Window.orderBy(F.desc("monetary_cents"), key)),
        )
        .select(
            F.col("o_custkey").alias("c_custkey"),
            "recency_days",
            "n_orders",
            "monetary_cents",
            "r_score",
            "f_score",
            "m_score",
            (
                F.col("r_score") * 100
                + F.col("f_score") * 10
                + F.col("m_score")
            ).alias("rfm_segment"),
        )
    )
    want = sorted((tuple(r) for r in ref.collect()), key=repr)
    assert got == want


from hypothesis import given, settings, strategies as st  # noqa: E402


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(0, 50),  # sort key (duplicates force tiebreak)
            st.integers(-100, 100),  # weight — negative and zero too
        ),
        min_size=1,
        max_size=200,
    )
)
def test_global_prefix_sum_matches_python_fold_on_random_frames(
    spark, raw
):
    """The shared primitive under rfm/PPS on ANY frame: the inclusive
    prefix sum along (key, id) must equal the sequential Python fold —
    including zero and NEGATIVE weights (a mixing pipeline can carry
    signed adjustments) — and the emitted total must be the exact sum.
    """
    from covid_engineering_spark.operators.relational import (
        global_prefix_sum,
    )

    rows = [(i, k, w) for i, (k, w) in enumerate(raw)]
    df = spark.createDataFrame(rows, "id LONG, k LONG, w LONG")
    got = {
        r["id"]: (r["cum"], r["tot"])
        for r in global_prefix_sum(
            df, [F.asc("k"), F.asc("id")], F.col("w"), "cum",
            total_col="tot",
        ).collect()
    }
    assert len(got) == len(rows)
    run, total = 0, sum(w for _, _, w in rows)
    for i, _, w in sorted(rows, key=lambda r: (r[1], r[0])):
        run += w
        assert got[i] == (run, total), (i, got[i], run, total)
