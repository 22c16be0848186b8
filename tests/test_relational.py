"""Pins for the relational tier's scale-path operators.

``global_ntile`` (operators/relational.py) is the replacement
for the earlier ``rfm_segments`` plan whose three global
``Window.orderBy()`` windows funneled the whole per-customer frame
through ONE task.  The replacement must be *bit-identical* to the
window form — the window form is the exactness oracle here (the same
sketch-vs-exact discipline as a14/a18), and the driver's DuckDB NTILE
oracle stays unchanged.

The other pins cross-check ``max_by`` against its rank-window
formulation, audit the a25 cut, hold the Misra-Gries summaries to their
stated bounds, and keep the rank pipelines invariant to the shuffle
partition count.
"""

from hypothesis import given, settings, strategies as st
from pyspark.sql import Window
from pyspark.sql import functions as F

from covid_engineering_spark.operators.relational import (
    global_ntile,
    q_a20_max_by,
    q_rfm_segments,
)
from covid_engineering_spark.sources import read_table

from tests.conftest import SF_SMOKE


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


def test_a25_cut_audit_shape_and_flags(spark):
    from covid_engineering_spark.operators.relational import (
        q_a25_quantile_cuts,
    )

    rows = q_a25_quantile_cuts(spark, SF_SMOKE).collect()
    assert len(rows) == 12  # 3 metrics x 4 quantiles
    assert all(r["within_rank_band"] for r in rows)
    by_metric = {}
    for r in rows:
        by_metric.setdefault(r["metric"], []).append(
            (r["quantile"], r["cut"])
        )
    assert set(by_metric) == {"recency", "frequency", "monetary"}
    for m, cuts in by_metric.items():
        qs = [q for q, _ in sorted(cuts)]
        vals = [c for _, c in sorted(cuts)]
        assert qs == [0.2, 0.4, 0.6, 0.8]
        # quantile cuts are monotone non-decreasing in q
        assert vals == sorted(vals), (m, vals)


def _exact_counts(rows):
    out = {}
    for et, uid in rows:
        out[(et, uid)] = out.get((et, uid), 0) + 1
    return out


def test_mg_heavy_invariants_on_fixture(spark):
    from covid_engineering_spark.operators.relational import (
        MG_K,
        q_a26_mg_heavy,
    )
    from covid_engineering_spark.sources import read_table

    out = q_a26_mg_heavy(spark, SF_SMOKE).collect()
    assert out, "summary must be non-empty on the fixture"
    ev = read_table(spark, SF_SMOKE, "events")
    exact = {
        (r["event_type"], r["user_id"]): r["n"]
        for r in ev.groupBy("event_type", "user_id")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    totals = {}
    for (et, _), n in exact.items():
        totals[et] = totals.get(et, 0) + n
    per_type = {}
    for r in out:
        per_type[r["event_type"]] = per_type.get(r["event_type"], 0) + 1
        c = exact[(r["event_type"], r["user_id"])]
        assert r["cnt"] == c  # the emitted exact count is exact
        assert 1 <= r["mg_est"] <= c  # underestimate, never zero
        assert r["mg_err"] == c - r["mg_est"]
        assert r["err_within_bound"]
        # the emitted bound column is the real theorem bound
        assert (c - r["mg_est"]) * (MG_K + 1) <= totals[r["event_type"]]
    # counter budget: at most k survivors per group
    assert all(n <= MG_K for n in per_type.values())


def test_mg_heavy_guaranteed_coverage_on_skew(spark):
    """Every item with cnt*(k+1) > N must survive the distributed
    reduction — the Misra-Gries guarantee the Mergeable Summaries
    merge preserves. Build a corpus where three users dominate one
    event type and assert all three are retained with estimates
    inside the bound, while the long uniform tail is (correctly)
    summarized away.
    """
    from covid_engineering_spark.operators.relational import (
        MG_K,
        mg_summary,
    )

    raw = []
    for uid, n in [(1, 400), (2, 300), (3, 200)]:  # heavy heads
        raw += [("hot", uid)] * n
    for uid in range(100, 180):  # 80-user uniform tail
        raw += [("hot", uid)] * 5
    total = len([r for r in raw if r[0] == "hot"])
    ev = spark.createDataFrame(raw, "event_type STRING, user_id BIGINT")

    summary, _ = mg_summary(ev)
    got = {r["user_id"]: r for r in summary.collect()}
    exact = _exact_counts(raw)
    # guarantee 1: the three heads all clear cnt*(k+1) > N -> present
    for uid, n in [(1, 400), (2, 300), (3, 200)]:
        assert n * (MG_K + 1) > total  # test is non-vacuous
        assert uid in got, f"guaranteed heavy hitter {uid} missing"
        r = got[uid]
        assert r["cnt"] == exact[("hot", uid)] == n
        # guarantee 2: estimate within the theorem bound
        assert n - total / (MG_K + 1) <= r["mg_est"] <= n
    # budget: the tail cannot push the summary past k counters
    assert len(got) <= MG_K


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.sampled_from(["a", "b"]),  # group
            st.integers(0, 30),  # key — small domain forces collisions
        ),
        min_size=1,
        max_size=300,
    )
)
def test_mg_summary_guarantees_on_random_streams(spark, raw):
    """Misra-Gries on ANY stream: for every group, (1) each summary
    row underestimates by at most N_group/(k+1); (2) every key with
    cnt*(k+1) > N_group appears; (3) at most k rows survive per
    group; (4) emitted counts are exact."""
    from covid_engineering_spark.operators.relational import (
        MG_K,
        mg_summary,
    )

    ev = spark.createDataFrame(raw, "event_type STRING, user_id BIGINT")
    summary, _ = mg_summary(ev)
    got = [tuple(r) for r in summary.collect()]
    exact = _exact_counts(raw)
    totals: dict = {}
    for (g, _), n in exact.items():
        totals[g] = totals.get(g, 0) + n
    per_group: dict = {}
    present = set()
    for g, key, cnt, est in got:
        per_group[g] = per_group.get(g, 0) + 1
        present.add((g, key))
        assert cnt == exact[(g, key)]  # (4) exact counts
        assert 1 <= est <= cnt  # underestimate, positive
        assert (cnt - est) * (MG_K + 1) <= totals[g]  # (1) bound
    assert all(n <= MG_K for n in per_group.values())  # (3) budget
    for (g, key), n in exact.items():  # (2) guaranteed coverage
        if n * (MG_K + 1) > totals[g]:
            assert (g, key) in present, (g, key, n, totals[g])


def test_rank_pipelines_invariant_to_shuffle_partition_count(spark):
    """The README's 'determinism at any partitioning' claim, tested
    head-on for the operators whose correctness leans on total orders
    across range/hash exchanges: the same query under 5 shuffle
    partitions must return the exact row set it returns under the
    session default (32). A partition-count-sensitive rank or prefix
    sum would silently corrupt on any cluster resize."""
    from covid_engineering_spark.queries import registry

    reg = registry()
    names = ["rfm_segments", "pipe_weighted_sample", "a26_mg_heavy"]
    default = spark.conf.get("spark.sql.shuffle.partitions")
    base = {}
    for n in names:
        base[n] = sorted(map(tuple, reg[n](spark, SF_SMOKE).collect()))
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "5")
        for n in names:
            got = sorted(map(tuple, reg[n](spark, SF_SMOKE).collect()))
            assert got == base[n], f"{n} changed under 5 partitions"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", default)
