"""Structured Streaming tier (SURVEY.md §2.12 — beyond-reference
extension; the reference has no streaming at all).

Event-time windowed aggregation — tumbling, sliding, session — in
batch (driver correctness checks, with SQL oracles); the tumbling
window also runs as an incremental streaming query (``stream_events``
+ watermark, exercised in tests with a file source and availableNow
trigger).

Scale notes: windowed aggs shuffle on (window, key); the watermark
bounds state size — without it session/sliding state grows without
limit. ``withWatermark`` before the aggregation is the contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from covid_engineering_spark.functions import dsum
from covid_engineering_spark.sources import read_events_stream, read_table

GAP = "30 minutes"


def tumbling_agg(ev: DataFrame) -> DataFrame:
    """1-hour tumbling windows: count + exact sum per window."""
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count("*").alias("n_events"), dsum("value").alias("sum_value"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "n_events",
            "sum_value",
        )
    )


#: Report size for the per-window top-k event types.
TOPK_PER_WINDOW = 3


def windowed_type_counts(ev: DataFrame) -> DataFrame:
    """Per (1-hour tumbling window, event_type) counts — the
    STREAMABLE half of windowed top-k: a plain watermarkable windowed
    aggregation whose state is bounded by (windows in flight ×
    types). The rank itself is NOT streamable (row_number over a
    window is unsupported on update-mode streams), which is exactly
    the production split: stream the counts into the serving store,
    rank at read — ``windowed_topk`` is that read."""
    return ev.groupBy(
        F.window("ts", "1 hour").alias("w"), "event_type"
    ).agg(F.count("*").alias("n_events"))


def windowed_topk(ev: DataFrame) -> DataFrame:
    """Per-window top-k event types by count — the trending/leaderboard
    query every metrics store serves. Batch face of the
    counts-stream + rank-at-read split (see
    :func:`windowed_type_counts`); the rank window partitions on the
    window struct (cardinality = hours of data), ordered
    (n_events DESC, event_type ASC) with Spark's asc-nulls-first
    mirrored as NULLS FIRST in the twin so a NULL type tie cannot
    diverge."""
    counts = windowed_type_counts(ev)
    wnd = Window.partitionBy("w").orderBy(
        F.desc("n_events"), F.asc("event_type")
    )
    return (
        counts.withColumn("rank", F.row_number().over(wnd))
        .filter(F.col("rank") <= TOPK_PER_WINDOW)
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            F.col("rank").cast("int").alias("rank"),
        )
    )


def q_stream_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return windowed_topk(read_table(spark, sf_dir, "events"))


def sliding_agg(ev: DataFrame) -> DataFrame:
    """1-hour windows sliding every 30 minutes — each event lands in
    two windows.
    """
    return (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(F.count("*").alias("n_events"), dsum("value").alias("sum_value"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "n_events",
            "sum_value",
        )
    )


def session_agg(ev: DataFrame) -> DataFrame:
    """Per-user session windows with a 30-minute inactivity gap:
    session end = last event + gap (Spark session_window semantics,
    mirrored by the gaps-and-islands oracle).
    """
    return (
        ev.groupBy(
            F.session_window("ts", GAP).alias("w"), F.col("user_id")
        )
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


def stream_events(spark: SparkSession, source_dir: str) -> DataFrame:
    """Streaming flavor of :func:`tumbling_agg`: parquet file source ->
    1-hour event-time windows with a watermark bounding late data and
    state. Start with ``.writeStream.trigger(availableNow=True)``
    for a catch-up run, or a processing-time trigger for continuous
    ingest.
    """
    stream = read_events_stream(spark, source_dir).withWatermark(
        "ts", "2 hours"
    )
    # the stream windows a TIMESTAMP ts; cast the bounds back so the
    # streaming schema equals the batch tumbling_agg schema
    return tumbling_agg(stream).select(
        F.col("window_start").cast("timestamp_ntz").alias("window_start"),
        F.col("window_end").cast("timestamp_ntz").alias("window_end"),
        "n_events",
        "sum_value",
    )


def q_stream_tumble(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tumbling_agg(read_table(spark, sf_dir, "events"))


def q_stream_slide(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sliding_agg(read_table(spark, sf_dir, "events"))


def q_stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    return session_agg(read_table(spark, sf_dir, "events"))


QUERIES = {
    "stream_tumble": q_stream_tumble,
    "stream_slide": q_stream_slide,
    "stream_session": q_stream_session,
    "stream_topk": q_stream_topk,
}

_SUM = "ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 2)"

ORACLES = {
    "stream_tumble": f"""
        SELECT time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)) AS window_start,
               time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP))
                   + INTERVAL '1 hour' AS window_end,
               COUNT(*) AS n_events,
               {_SUM} AS sum_value
        FROM events
        GROUP BY 1, 2
    """,
    "stream_slide": f"""
        SELECT time_bucket(INTERVAL '30 minutes', CAST(ts AS TIMESTAMP))
                   - off * INTERVAL '30 minutes' AS window_start,
               time_bucket(INTERVAL '30 minutes', CAST(ts AS TIMESTAMP))
                   - off * INTERVAL '30 minutes' + INTERVAL '1 hour' AS window_end,
               COUNT(*) AS n_events,
               {_SUM} AS sum_value
        FROM events CROSS JOIN (VALUES (0), (1)) AS o(off)
        GROUP BY 1, 2
    """,
    "stream_topk": f"""
        WITH counts AS (
            SELECT time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP))
                       AS ws,
                   event_type, CAST(COUNT(*) AS BIGINT) AS n_events
            FROM events GROUP BY 1, 2
        ),
        ranked AS (
            SELECT ws, event_type, n_events,
                   ROW_NUMBER() OVER (
                       PARTITION BY ws
                       ORDER BY n_events DESC,
                                event_type ASC NULLS FIRST) AS rk
            FROM counts
        )
        SELECT ws AS window_start,
               ws + INTERVAL '1 hour' AS window_end,
               event_type, n_events,
               CAST(rk AS INTEGER) AS rank
        FROM ranked WHERE rk <= {TOPK_PER_WINDOW}
    """,
    "stream_session": f"""
        WITH marked AS (
            SELECT user_id, ts, value,
                   CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                             > INTERVAL '{GAP}'
                        OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                        THEN 1 ELSE 0 END AS new_session
            FROM events
        ), numbered AS (
            SELECT user_id, ts, value,
                   SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS session_id
            FROM marked
        )
        SELECT user_id,
               CAST(MIN(ts) AS TIMESTAMP) AS session_start,
               CAST(MAX(ts) AS TIMESTAMP) + INTERVAL '{GAP}' AS session_end,
               COUNT(*) AS n_events
        FROM numbered
        GROUP BY user_id, session_id
    """,
}
