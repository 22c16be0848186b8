"""Time-series tier (operators/timeseries.py): the determinism
precondition, rollup invariants, and Holt's window-identity forecast
checked against its sequential textbook fold."""

from pyspark.sql import functions as F

from covid_engineering_spark.operators.timeseries import resample
from covid_engineering_spark.sources import read_table
from tests.conftest import SF_SMOKE


def test_event_timestamps_are_unique_the_determinism_precondition(spark):
    # open/close pick by min_by/max_by on ts alone; that is total only
    # because the feed's nanosecond timestamps never collide.
    ev = read_table(spark, SF_SMOKE, "events")
    assert ev.count() == ev.select("ts").distinct().count()


def test_resample_is_partition_invariant(spark):
    ev = read_table(spark, SF_SMOKE, "events")
    key = ["bucket", "event_type"]
    a = {tuple(r[k] for k in key): tuple(r) for r in resample(ev).collect()}
    b = {
        tuple(r[k] for k in key): tuple(r)
        for r in resample(ev.repartition(13)).collect()
    }
    assert a == b


def test_resample_invariants(spark):
    ev = read_table(spark, SF_SMOKE, "events")
    rows = resample(ev).collect()
    assert sum(r["n_events"] for r in rows) == ev.count()
    for r in rows:
        assert r["low"] <= r["open_value"] <= r["high"]
        assert r["low"] <= r["close_value"] <= r["high"]


def test_sessionize_splits_on_the_gap_boundary(spark):
    from covid_engineering_spark.operators.timeseries import sessionize

    ev = spark.createDataFrame(
        [
            # user 7: two events 1 h apart, then an 9-h gap, then one more
            (1, "2024-01-01 00:00:00", 7),
            (2, "2024-01-01 01:00:00", 7),
            (3, "2024-01-01 10:00:00", 7),
            # user 8: a single event
            (4, "2024-01-01 00:30:00", 8),
        ],
        "event_id long, ts string, user_id long",
    ).withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    got = {
        r["event_id"]: r["session_id"] for r in sessionize(ev).collect()
    }
    assert got == {1: 1, 2: 1, 3: 2, 4: 1}


def test_sessionize_is_partition_invariant_and_total(spark):
    from covid_engineering_spark.operators.timeseries import sessionize

    ev = read_table(spark, SF_SMOKE, "events")
    a = {r["event_id"]: r["session_id"] for r in sessionize(ev).collect()}
    b = {
        r["event_id"]: r["session_id"]
        for r in sessionize(ev.repartition(13)).collect()
    }
    assert a == b and len(a) == ev.count()
    assert max(a.values()) > 1  # the 8-h gap yields real multi-session users


def test_funnel_requires_step_order(spark):
    from covid_engineering_spark.operators.timeseries import (
        FUNNEL_STEPS,
        funnel,
    )

    ev = spark.createDataFrame(
        [
            # user 1: view -> click -> purchase, fully ordered
            (1, "2024-01-01 00:00:00", 1, "view"),
            (2, "2024-01-01 01:00:00", 1, "click"),
            (3, "2024-01-01 02:00:00", 1, "purchase"),
            # user 2: clicked BEFORE viewing — the click must not count
            (4, "2024-01-02 00:00:00", 2, "click"),
            (5, "2024-01-02 01:00:00", 2, "view"),
            # user 3: view then purchase but never clicked — depth stops at 1
            (6, "2024-01-03 00:00:00", 3, "view"),
            (7, "2024-01-03 01:00:00", 3, "purchase"),
            # user 4: never viewed — not in the funnel at all
            (8, "2024-01-04 00:00:00", 4, "purchase"),
        ],
        "event_id long, ts string, user_id long, event_type string",
    ).withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    rows = {r["user_id"]: r for r in funnel(ev, FUNNEL_STEPS).collect()}
    assert set(rows) == {1, 2, 3}
    assert rows[1]["funnel_depth"] == 3
    assert rows[2]["funnel_depth"] == 1 and rows[2]["t_click"] is None
    assert rows[3]["funnel_depth"] == 1 and rows[3]["t_purchase"] is None


def test_funnel_counts_only_post_view_clicks(spark):
    from covid_engineering_spark.operators.timeseries import (
        FUNNEL_STEPS,
        funnel,
    )

    # the user clicks twice: once before the first view (ignored) and
    # once after (the one the funnel must report)
    ev = spark.createDataFrame(
        [
            (1, "2024-01-01 00:00:00", 9, "click"),
            (2, "2024-01-01 01:00:00", 9, "view"),
            (3, "2024-01-01 02:00:00", 9, "click"),
        ],
        "event_id long, ts string, user_id long, event_type string",
    ).withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    row = funnel(ev, FUNNEL_STEPS).collect()[0]
    assert str(row["t_click"]).startswith("2024-01-01 02:00:00")


def test_cohort_cell_totals_bound_by_cohort_size(spark):
    from covid_engineering_spark.operators.timeseries import cohort_retention

    ev = read_table(spark, SF_SMOKE, "events")
    rows = cohort_retention(ev).collect()
    # week-0 cell == cohort size (every member is active the week they
    # first appear), later cells never exceed it
    week0 = {r["cohort_week"]: r["n_active"] for r in rows if r["week_offset"] == 0}
    for r in rows:
        assert r["n_active"] <= week0[r["cohort_week"]]
        assert r["week_offset"] >= 0


def test_gapfill_covers_span_with_zero_days(spark):
    from covid_engineering_spark.operators.timeseries import gapfill_daily

    ev = spark.createDataFrame(
        [
            (1, "2024-01-01 12:00:00", 5, "view"),
            (2, "2024-01-05 12:00:00", 5, "view"),
            (3, "2024-01-05 13:00:00", 5, "view"),
        ],
        "event_id long, ts string, user_id long, event_type string",
    ).withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    rows = {str(r["day"]): r["n_events"] for r in gapfill_daily(ev).collect()}
    assert rows == {
        "2024-01-01": 1,
        "2024-01-02": 0,
        "2024-01-03": 0,
        "2024-01-04": 0,
        "2024-01-05": 2,
    }


def test_gapfill_total_preserved(spark):
    from covid_engineering_spark.operators.timeseries import gapfill_daily

    ev = read_table(spark, SF_SMOKE, "events")
    out = gapfill_daily(ev)
    assert out.agg(F.sum("n_events")).collect()[0][0] == ev.count()
    # spine has no duplicate (user, day) rows
    assert out.count() == out.select("user_id", "day").distinct().count()


def test_funnel_single_pass_out_of_order_and_pre_step_events(spark):
    from covid_engineering_spark.operators.timeseries import (
        FUNNEL_STEPS,
        funnel,
    )

    ev = spark.createDataFrame(
        [
            # user 2: clicked BEFORE viewing — the click must not count
            (4, "2024-01-02 00:00:00", 2, "click"),
            (5, "2024-01-02 01:00:00", 2, "view"),
            # user 9: click before AND after first view — report the post one
            (1, "2024-01-01 00:00:00", 9, "click"),
            (2, "2024-01-01 01:00:00", 9, "view"),
            (3, "2024-01-01 02:00:00", 9, "click"),
            # user 4: never viewed — not in the funnel at all
            (8, "2024-01-04 00:00:00", 4, "purchase"),
        ],
        "event_id long, ts string, user_id long, event_type string",
    ).withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    out = funnel(ev, FUNNEL_STEPS)
    # the fold accumulator carries the INPUT ts type: a bare
    # cast("timestamp") would coerce ntz to ltz, shifting wall-clock
    # times in non-UTC sessions
    assert {f.dataType.simpleString() for f in out.schema.fields[1:4]} == {
        "timestamp_ntz"
    }
    rows = {r["user_id"]: r for r in out.collect()}
    assert set(rows) == {2, 9}
    assert rows[2]["funnel_depth"] == 1 and rows[2]["t_click"] is None
    assert str(rows[9]["t_click"]).startswith("2024-01-01 02:00:00")


def test_funnel_single_pass_is_one_exchange_for_five_steps(spark):
    # The fold's shuffle count must not grow with the step count (a
    # per-step join form pays one join per step).
    from covid_engineering_spark.plans import has_cartesian, shuffle_count
    from covid_engineering_spark.operators.timeseries import (
        FUNNEL_STEPS_5,
        funnel,
    )

    ev = read_table(spark, SF_SMOKE, "events")
    df = funnel(ev, FUNNEL_STEPS_5)
    assert shuffle_count(df) <= 2
    assert not has_cartesian(df)


def test_funnel_queries_plan_one_user_exchange_and_no_join(spark):
    # Both registered funnels, 3 and 5 steps, plan as one groupBy on
    # user_id: exactly one user_id exchange and no join of any kind.
    from covid_engineering_spark.plans import simple_plan
    from covid_engineering_spark.queries import registry

    reg = registry()
    for name in ("ts_funnel", "ts_funnel_steps"):
        plan = simple_plan(reg[name](spark, SF_SMOKE))
        assert plan.count("Exchange hashpartitioning(user_id") == 1, name
        assert "Join" not in plan, name


def test_anomaly_baseline_excludes_judged_point(spark):
    # A constant series with one spike: every pre-spike bucket has
    # zero variance, so the spike is flagged iff the baseline excludes
    # it (a frame including the current row would fold the spike into
    # its own variance).
    import datetime as dt

    rows = [
        (i, dt.datetime(2024, 1, 1) + dt.timedelta(hours=i), 1, "a", 5.0, "{}")
        for i in range(12)
    ] + [(99, dt.datetime(2024, 1, 1, 12), 1, "a", 500.0, "{}")]
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    )
    from covid_engineering_spark.operators.timeseries import rolling_anomaly

    rows = rolling_anomaly(ev).collect()
    spikes = [r for r in rows if r["x_cents"] == 50000]
    assert len(spikes) == 1 and spikes[0]["is_anomaly"] is True
    constants = [r for r in rows if r["x_cents"] == 500]
    assert len(constants) == 12
    assert all(not r["is_anomaly"] for r in constants)


def test_anomaly_flags_fire_on_real_feed_nonvacuously(spark):
    from covid_engineering_spark.operators.timeseries import rolling_anomaly

    ev = read_table(spark, SF_SMOKE, "events")
    rows = rolling_anomaly(ev).collect()
    flagged = [r for r in rows if r["is_anomaly"]]
    eligible = [r for r in rows if r["n_hist"] >= 8]
    # The synthetic feed must exercise BOTH branches or the oracle
    # match is vacuous.
    assert flagged and len(flagged) < len(eligible)
    # No NULL flags escape: empty/short frames are definitively false.
    assert all(r["is_anomaly"] is not None for r in rows)


def test_active_users_wau_bounds_and_partition_invariance(spark):
    from covid_engineering_spark.operators.timeseries import active_users

    ev = read_table(spark, SF_SMOKE, "events")
    rows = active_users(ev).collect()
    assert rows
    total_users = ev.select("user_id").distinct().count()
    for r in rows:
        # WAU is a superset count of DAU, bounded by the user universe.
        assert r["dau"] <= r["wau"] <= total_users
    again = {
        r["day"]: (r["dau"], r["wau"])
        for r in active_users(ev.repartition(13)).collect()
    }
    assert again == {r["day"]: (r["dau"], r["wau"]) for r in rows}


def test_hourly_profile_totals_and_dow_anchor(spark):
    import datetime as dt

    from covid_engineering_spark.operators.timeseries import hourly_profile

    ev = read_table(spark, SF_SMOKE, "events")
    rows = hourly_profile(ev).collect()
    assert sum(r["n_events"] for r in rows) == ev.count()
    assert all(0 <= r["dow"] <= 6 and 0 <= r["hour"] <= 23 for r in rows)
    # anchor check: a known Monday lands on dow 0
    one = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 8, 5, 0), 1, "view", 1.0, "{}")],
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    got = hourly_profile(one).collect()
    assert (got[0]["dow"], got[0]["hour"]) == (0, 5)


def test_cents_derivation_is_environment_proof_at_driver_scale(spark):
    # A driver mismatch this pins: round(value*100) tie-breaking differs
    # between Spark (HALF_UP on a decimal rendering) and DuckDB
    # (C-library rounding on the binary value) on a half-cent boundary
    # that sf0.01 hits. The floor(v*100+0.5) derivation uses only
    # IEEE-double ops + exact floor, so both engines agree bit-for-bit.
    # This runs the driver's exact sf0.01 differential for the two
    # cents-carrying queries so a regression reproduces locally.
    from covid_engineering_spark.queries import oracles, registry
    from tests.conftest import SF_ORACLE
    from tests.oracle_check import compare, duck_con

    reg, orc = registry(), oracles()
    con = duck_con(SF_ORACLE)
    try:
        for name in ("ts_anomaly", "ts_hourly_profile"):
            res = compare(reg[name](spark, SF_ORACLE), con, orc[name])
            assert res["match"], (name, res)
    finally:
        con.close()


def test_seasonal_anomaly_leave_one_out_baseline(spark):
    # The judged point must be excluded from its own baseline: a cell
    # whose other members are constant must show zero variance in the
    # base stats, and a single spike in that cell must be flagged
    # against the constant baseline (not diluted by itself).
    import datetime as dt

    from covid_engineering_spark.operators.timeseries import (
        seasonal_anomaly,
    )

    rows = []
    eid = 0
    # 10 Mondays at 05:00 (same seasonal cell), value 1.00 — plus one
    # spiked Monday at 1000.00
    for wk in range(10):
        val = 1000.0 if wk == 9 else 1.0
        rows.append(
            (eid, dt.datetime(2024, 1, 1, 5, 0) + dt.timedelta(weeks=wk),
             1, "view", val, "{}")
        )
        eid += 1
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    got = {r.bucket: r for r in seasonal_anomaly(ev).collect()}
    assert len(got) == 10
    spike = [r for r in got.values() if r.x_cents == 100000]
    flat = [r for r in got.values() if r.x_cents == 100]
    assert len(spike) == 1 and spike[0].is_anomaly is True
    # flat points: baseline contains the spike, variance is huge, so
    # none are flagged — and each baseline excludes the judged point
    for r in flat:
        assert r.is_anomaly is False
        assert r.n_base == 9
        assert r.s_base == 8 * 100 + 100000


def test_seasonal_anomaly_fires_nonvacuously_on_real_feed(spark):
    from covid_engineering_spark.operators.timeseries import (
        seasonal_anomaly,
    )

    rows = seasonal_anomaly(read_table(spark, SF_SMOKE, "events")).collect()
    assert all(r.is_anomaly is not None for r in rows)
    assert 0 < sum(r.is_anomaly for r in rows) < len(rows)


def test_trending_rank_and_coverage(spark):
    from covid_engineering_spark.operators.timeseries import (
        TRENDING_K,
        trending,
    )

    rows = trending(read_table(spark, SF_SMOKE, "events")).collect()
    per_bucket = {}
    for r in rows:
        per_bucket.setdefault(r.bucket, []).append(r)
    for bucket, rs in per_bucket.items():
        ranks = sorted(x.rank for x in rs)
        assert ranks == list(range(1, len(rs) + 1))
        assert len(rs) <= TRENDING_K
        # ranking is by count desc then type asc
        ordered = sorted(rs, key=lambda x: (-x.n_events, x.event_type))
        assert [x.rank for x in ordered] == list(range(1, len(rs) + 1))


def test_holt_equals_textbook_sequential_recursion(spark):
    # The engine evaluates Holt as integer-coefficient combinations of
    # the window inputs; the textbook form is a sequential fold. They
    # must agree bit-for-bit under exact rational arithmetic + floor.
    import math
    from fractions import Fraction as Fr

    from covid_engineering_spark.operators.timeseries import (
        EWMA_W,
        q_ts_holt,
    )

    rows = (
        q_ts_holt(spark, SF_SMOKE)
        .filter("event_type = 'click'")
        .orderBy("bucket")
        .collect()
    )
    assert rows
    xs = [r["x_cents"] for r in rows]
    for i, r in enumerate(rows):
        win = xs[max(0, i - EWMA_W + 1) : i + 1]
        level = trend = None
        for t, x in enumerate(win, start=1):
            if t == 1:
                level, trend = Fr(x), Fr(0)
            else:
                new_level = (Fr(x) + level + trend) / 2
                trend = (new_level - level + trend) / 2
                level = new_level
        assert r["holt_level_cents"] == math.floor(level), (i, r)
        assert r["holt_trend_cents"] == math.floor(trend), (i, r)
        assert r["holt_forecast_cents"] == math.floor(level + trend)
