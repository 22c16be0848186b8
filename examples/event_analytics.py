#!/usr/bin/env python
"""End-to-end event analytics: the metrics-store tier as one engine
script.

    python examples/event_analytics.py [sf_dir] [out_dir]

Starting from the raw ``events`` table (one row per event: user, time,
type, value), this runs the standard product-analytics stack:

1. sessionize       — label every event with a per-user session id
                      (8 h inactivity gap);
2. funnel           — per-user ordered-step conversion times through
                      the 5-step funnel in ONE shuffle (the
                      fold-over-sorted-events form, not a join per
                      step);
3. DAU / WAU        — daily active users and the 7-day rolling
                      distinct-user count;
4. hourly profile   — the day-of-week x hour-of-day seasonality grid;
5. anomaly flags    — per-type rolling z-score over hourly sums;
6. OHLC resample    — hourly open/high/low/close/sum rollup, written
                      hive-partitioned by event_type so dashboard
                      readers prune to their series.

Every stage is lazy DataFrame composition — the whole stack compiles
to a handful of shuffles (user_id for sessions/funnel, bucket keys for
the rollups) regardless of scale.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from covid_engineering_spark.operators.timeseries import (
    FUNNEL_STEPS_5,
    active_users,
    funnel,
    hourly_profile,
    incremental_rollup,
    resample,
    rolling_anomaly,
    sessionize,
)
from covid_engineering_spark.session import get_spark
from covid_engineering_spark.sources import read_table, write_partitioned


def main(
    sf_dir: str = "/root/testdata/sf0.001",
    out_dir: str = "/tmp/covid_engine_events",
) -> None:
    spark = get_spark(app_name="event-analytics")
    spark.sparkContext.setLogLevel("ERROR")

    ev = read_table(spark, sf_dir, "events")
    n_events = ev.count()

    # 1. sessions: count + mean session length in events
    sess = sessionize(ev)
    sess_stats = (
        sess.groupBy("user_id", "session_id")
        .agg(F.count("*").alias("n"))
        .agg(
            F.count("*").alias("n_sessions"),
            F.round(F.avg("n"), 2).alias("avg_events_per_session"),
        )
        .first()
    )

    # 2. one-shuffle funnel: conversion depth histogram
    fun = funnel(ev, FUNNEL_STEPS_5)
    depth_hist = {
        r["funnel_depth"]: r["n"]
        for r in fun.groupBy("funnel_depth")
        .agg(F.count("*").alias("n"))
        .collect()
    }

    # 3. DAU / WAU: latest day's numbers
    au = active_users(ev).orderBy(F.desc("day")).first()

    # 4. seasonality grid: the busiest (weekday, hour) cell
    peak = (
        hourly_profile(ev)
        .orderBy(F.desc("n_events"))
        .select("dow", "hour", "n_events")
        .first()
    )

    # 5. anomaly flags over hourly sums
    n_anom = rolling_anomaly(ev).filter(F.col("is_anomaly")).count()

    # 5a. the rest of the monitoring stack on the same hourly feed:
    # integer EWMA smoothing, CUSUM drift detection, and the
    # seasonal-naive forecast backtest (per-type MAE in cents)
    from covid_engineering_spark.operators.timeseries import (
        autocorr,
        cusum_changepoint,
        ewma,
        mad_anomaly,
        snaive_backtest,
    )

    n_smoothed = ewma(ev).count()
    n_drift = cusum_changepoint(ev).filter(F.col("drift_flag")).count()
    mae = {
        r["event_type"]: r["mae_cents"]
        for r in snaive_backtest(ev).collect()
    }
    # robust (median/MAD) flags alongside the z-score ones — a spike
    # that inflates the mean/sigma baseline can't hide from these —
    # and the lag-1 autocorrelation that decides trend vs point alerts
    n_robust = mad_anomaly(ev).filter(F.col("is_anomaly")).count()
    ac = {
        r["event_type"]: r["autocorr_lag1"] for r in autocorr(ev).collect()
    }
    # feed-freshness: contiguous missing-hour runs per type (zero rows
    # on a dense feed — the healthy answer)
    from covid_engineering_spark.operators.timeseries import downtime_gaps

    gaps = downtime_gaps(ev)
    n_gaps = gaps.count()
    worst = gaps.orderBy(F.desc("n_hours")).first()

    # 5c. who drives the load: exact per-type heavy hitters, the CMS
    # sketch estimate judged against them, and the hour-of-day SLO
    # bands a static alert threshold is replaced with
    from covid_engineering_spark.operators.relational import (
        q_a23_heavy_hitters,
        q_a24_cms_heavy,
    )
    from covid_engineering_spark.operators.timeseries import (
        percentile_profile,
    )

    hh = q_a23_heavy_hitters(spark, sf_dir).count()
    cms = q_a24_cms_heavy(spark, sf_dir)
    over = cms.agg(
        F.count("*").alias("n"), F.sum("overcount").alias("oc")
    ).first()
    # the bounded-state third leg of the frequency family: the
    # Misra-Gries k-counter summary, judged in the same frame (its
    # underestimate bound is the dual of the CMS overestimate)
    from covid_engineering_spark.operators.relational import q_a26_mg_heavy

    mg = q_a26_mg_heavy(spark, sf_dir).agg(
        F.count("*").alias("n"),
        F.sum("mg_err").alias("under"),
        F.min("err_within_bound").alias("ok"),
    ).first()
    bands = percentile_profile(ev).count()

    # 5d. stream-static enrichment: the event fact rolled up by the
    # customer dimension's market segment (broadcast dim join)
    from covid_engineering_spark.sources import read_table as _rt
    from covid_engineering_spark.streaming.joins import segment_rollup

    seg = segment_rollup(ev, _rt(spark, sf_dir, "customer")).count()

    # 5b. SCD2 version history of each (user, event-type) state stream:
    # every version with its validity interval; the current rows are
    # exactly what the cdc_upsert compaction would keep
    from covid_engineering_spark.operators.pipeline import scd2_history

    hist = scd2_history(
        ev.select("user_id", "event_type", "ts", "event_id"),
        keys=["user_id", "event_type"],
        seq="event_id",
    )
    scd = hist.agg(
        F.count("*").alias("n"),
        F.sum(F.col("is_current").cast("long")).alias("cur"),
        F.max("version").alias("deepest"),
    ).first()

    # 6. hourly OHLC rollup, partitioned by series for pruned reads —
    # maintained INCREMENTALLY (the driver-verified helper: a standing
    # rollup absorbs an arriving batch by merging partials, refresh
    # cost O(batch + touched buckets)). Written once, then the
    # written-back data is proven EQUAL to the full recompute in both
    # directions (subset checks alone would miss dropped groups).
    write_partitioned(incremental_rollup(ev), f"{out_dir}/hourly", "event_type")
    back = spark.read.parquet(f"{out_dir}/hourly").select(*resample(ev).columns)
    full = resample(ev)
    assert back.exceptAll(full).count() == 0
    assert full.exceptAll(back).count() == 0

    print(f"events            : {n_events}")
    print(
        f"sessions          : {sess_stats['n_sessions']} "
        f"(avg {sess_stats['avg_events_per_session']} events)"
    )
    print(f"funnel depth hist : {dict(sorted(depth_hist.items()))}")
    print(f"latest DAU/WAU    : {au['dau']} / {au['wau']} ({au['day']})")
    print(f"peak load cell    : dow={peak['dow']} hour={peak['hour']} n={peak['n_events']}")
    print(f"anomalous buckets : {n_anom}")
    print(f"ewma smoothed     : {n_smoothed} buckets")
    print(f"drift buckets     : {n_drift}")
    print(f"snaive MAE cents  : {dict(sorted(mae.items()))}")
    print(f"robust MAD flags  : {n_robust}")
    print(
        f"downtime gaps     : {n_gaps}"
        + (
            f" (worst {worst['n_hours']}h on {worst['event_type']})"
            if worst
            else " (feed dense)"
        )
    )
    print(
        f"heavy hitters     : {hh} exact; cms est over {over['n']} "
        f"candidates, total overcount {over['oc']}"
    )
    print(
        f"mg summary        : {mg['n']} counters kept, total "
        f"undercount {mg['under']}, bound held: {bool(mg['ok'])}"
    )
    print(f"SLO band cells    : {bands} (type x hour p50/p90)")
    print(f"segment rollup    : {seg} (mktsegment x type) cells")
    print(
        "lag-1 autocorr    : "
        + ", ".join(f"{t}={r:.3f}" for t, r in sorted(ac.items()))
    )
    print(
        f"scd2 history      : {scd['n']} versions, {scd['cur']} current "
        f"keys, deepest chain {scd['deepest']}"
    )
    print(f"hourly rollup rows: {back.count()} -> {out_dir}/hourly")


if __name__ == "__main__":
    main(*sys.argv[1:3])
