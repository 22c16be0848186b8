"""applyInPandasWithState end-to-end: state must accumulate across
micro-batches (forced with maxFilesPerTrigger=1) and the final emitted
totals must equal the batch groupBy answer.
"""

import pytest

from pyspark.sql import functions as F

from covid_engineering_spark import schemas
from covid_engineering_spark.sources import read_table
from covid_engineering_spark.streaming.stateful import running_user_totals

from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def source_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("events_state"))
    ev = read_table(spark, SF_SMOKE, "events")
    ev.filter(F.col("event_id") % 2 == 0).coalesce(1).write.mode("append").parquet(d)
    ev.filter(F.col("event_id") % 2 == 1).coalesce(1).write.mode("append").parquet(d)
    return d


def test_stateful_totals_accumulate_across_batches(spark, source_dir):
    stream = (
        spark.readStream.schema(schemas.STAR["events"])
        .option("maxFilesPerTrigger", 1)  # force >= 2 micro-batches
        .parquet(source_dir)
    )
    q = (
        running_user_totals(stream)
        .writeStream.format("memory")
        .queryName("user_totals")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    batches = q.recentProgress
    assert len([p for p in batches if p["numInputRows"] > 0]) >= 2

    # update-mode memory sink appends every emission; the LAST row per
    # user carries the lifetime total.
    emitted = spark.sql(
        """
        SELECT user_id, n_events, total_value FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY rid DESC) AS rn
            FROM (SELECT *, monotonically_increasing_id() AS rid FROM user_totals)
        ) WHERE rn = 1
        """
    ).collect()
    got = {r.user_id: (r.n_events, r.total_value) for r in emitted}

    want_rows = (
        spark.read.parquet(source_dir)
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum(F.coalesce(F.col("value"), F.lit(0.0))), 2).alias("tv"),
        )
        .collect()
    )
    want = {r.user_id: (r.n, r.tv) for r in want_rows}
    assert set(got) == set(want)
    for uid, (n, tv) in want.items():
        gn, gtv = got[uid]
        assert gn == n, (uid, gn, n)
        assert abs(gtv - tv) < 0.05, (uid, gtv, tv)  # float fold-order slack


def test_state_store_is_rocksdb(spark, source_dir):
    # The engine session defaults to the RocksDB provider (session.py):
    # watermark-bounded state becomes a disk bound, not a heap bound.
    # Confirm the provider is really in effect by its progress metrics.
    assert "RocksDBStateStoreProvider" in spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass"
    )
    stream = (
        spark.readStream.schema(schemas.STAR["events"])
        .option("maxFilesPerTrigger", 1)
        .parquet(source_dir)
    )
    q = (
        running_user_totals(stream)
        .writeStream.format("memory")
        .queryName("user_totals_rocksdb")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    ops = [p for p in q.recentProgress if p.get("stateOperators")]
    assert ops, "no stateful operator progress recorded"
    metrics = ops[-1]["stateOperators"][0].get("customMetrics", {})
    assert any(k.startswith("rocksdb") for k in metrics), metrics


def test_session_state_stays_watermark_bounded_over_batches(spark, tmp_path):
    # Run the RocksDB session aggregation as a real
    # incremental query — three availableNow micro-batch runs over one
    # checkpoint, one day-separated file each — and assert the state
    # store holds only watermark-live sessions, not the cumulative
    # session history.
    from datetime import datetime

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    sch = "event_id long, ts timestamp_ntz, user_id long, event_type string, value double"
    n_users = 4

    def write_day(day):
        rows = [
            (day * 10 + u, datetime(2024, 1, 1 + day, 12, 0, 0), u, "view", 1.0)
            for u in range(1, n_users + 1)
        ]
        spark.createDataFrame(rows, sch).coalesce(1).write.mode("append").parquet(src)

    def run_once():
        stream = (
            spark.readStream.schema(sch)
            .parquet(src)
            .withColumn("ts", F.col("ts").cast("timestamp"))
            .withWatermark("ts", "1 hour")
        )
        agg = (
            stream.groupBy(
                F.session_window("ts", "30 minutes").alias("w"), "user_id"
            )
            .agg(F.count("*").alias("n_events"))
            .select(
                "user_id",
                F.col("w.start").alias("session_start"),
                F.col("w.end").alias("session_end"),
                "n_events",
            )
        )
        q = (
            agg.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        ops = [p for p in q.recentProgress if p.get("stateOperators")]
        assert ops, "no stateful progress recorded"
        return ops[-1]["stateOperators"][0]["numRowsTotal"]

    state_rows = []
    for day in range(3):
        write_day(day)
        state_rows.append(run_once())

    # Run 1: exactly one open session per user buffered.
    assert state_rows[0] == n_users, state_rows
    # Run 3: 12 sessions existed cumulatively, but the watermark
    # (trailing 1 h behind a day-granularity feed) keeps at most the
    # last two days' sessions live — day-0 state MUST have been
    # evicted (state rows < distinct live sessions + 1).
    live_upper = 2 * n_users
    assert state_rows[2] <= live_upper, state_rows
    assert state_rows[2] < 3 * n_users, state_rows
