"""Stream-stream interval join (SURVEY.md §2.12): click-to-view
attribution — each click joined to the same user's views that happened
within the attribution window before it. The canonical Structured
Streaming stream-stream join: both sides watermarked, the join
condition carrying the event-time bound that lets the engine EVICT
view state once no future click can match it.

Written once against the DataFrame API so the same join runs in batch
(driver correctness check with a SQL oracle twin) and incrementally
(``stream_attributed_clicks``, exercised against the batch face with a
file source + availableNow trigger in tests).

Scale shape: an equi-join on ``user_id`` with a time-range residual —
batch plans it as one co-partitioned join (both sides shuffle on
user_id once; the range predicate filters inside the join, no
fan-out beyond true matches). In streaming, state per side is bounded
by (events inside watermark + attribution window), NOT by the stream
history — the watermark is what makes an infinite join finite; an
unwatermarked stream-stream join grows state forever.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from covid_engineering_spark.sources import read_events_stream, read_table

#: Attribution window: a click is attributed to every view by the
#: same user in the preceding 8 hours (inclusive; the synthetic
#: feed's per-user inter-arrival median is ~7.7 h, so real multi-view
#: attributions exist without the join degenerating to all-pairs).
ATTRIB_WINDOW = "INTERVAL 8 HOURS"


def attributed_clicks(views: DataFrame, clicks: DataFrame) -> DataFrame:
    """All (view, click) attribution pairs per user with
    ``view_ts <= click_ts <= view_ts + ATTRIB_WINDOW``. Pure interval
    arithmetic on the event-time column — the exact same µs
    comparison runs in the SQL oracle.
    """
    v = views.select(
        "user_id",
        F.col("event_id").alias("view_id"),
        F.col("ts").alias("view_ts"),
    )
    c = clicks.select(
        "user_id",
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    return (
        v.join(c, "user_id")
        .filter(
            (F.col("click_ts") >= F.col("view_ts"))
            & (F.col("click_ts") <= F.col("view_ts") + F.expr(ATTRIB_WINDOW))
        )
        .select("user_id", "view_id", "view_ts", "click_id", "click_ts")
    )


def q_stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    return attributed_clicks(
        ev.filter(F.col("event_type") == "view"),
        ev.filter(F.col("event_type") == "click"),
    )


def stream_attributed_clicks(
    spark: SparkSession,
    source_dir: str,
    watermark: str = "2 hours",
) -> DataFrame:
    """Incremental flavor of :func:`attributed_clicks`: one
    watermarked stream over the landing zone, split by event type
    into the two join sides. The time-range filter folds into the
    join condition, which is the state-eviction contract: views older
    than watermark + window are dropped.
    """
    ev = read_events_stream(spark, source_dir).withWatermark("ts", watermark)
    return attributed_clicks(
        ev.filter(F.col("event_type") == "view"),
        ev.filter(F.col("event_type") == "click"),
    )


def segment_rollup(ev: DataFrame, customer: DataFrame) -> DataFrame:
    """Stream-static enrichment rollup: the event fact joined to the
    static ``customer`` dimension on the user key, aggregated to
    (market segment, event type) — counts plus exact integer-cent
    sums. The standard streaming enrichment topology: the dimension is
    broadcast (re-read per micro-batch in the incremental flavor, the
    Structured Streaming stream-static contract — a dim update is
    picked up at the next batch without restarting the query).

    Scale shape: the fact side never shuffles for the join (broadcast
    hash join); the one shuffle is the (segment × type ≤ 5×5)-key
    aggregation, partial-aggregated map-side.
    """
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    dim = customer.select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    return (
        ev.join(F.broadcast(dim), "user_id")
        .groupBy("c_mktsegment", "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(cents).alias("sum_cents"),
        )
    )


def q_stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    return segment_rollup(
        read_table(spark, sf_dir, "events"),
        read_table(spark, sf_dir, "customer"),
    )


def stream_segment_rollup(
    spark: SparkSession,
    source_dir: str,
    customer: DataFrame,
) -> DataFrame:
    """Incremental flavor of :func:`segment_rollup`: a streaming
    event reader joined to the STATIC customer frame (no watermark
    needed — stream-static joins carry no cross-stream state; the
    dimension is re-evaluated per micro-batch) and rolled up in
    complete mode. Asserted equal to the batch face in tests.
    """
    return segment_rollup(read_events_stream(spark, source_dir), customer)


QUERIES = {
    "stream_interval_join": q_stream_interval_join,
    "stream_static_enrich": q_stream_static_enrich,
}

ORACLES = {
    "stream_static_enrich": """
        SELECT c.c_mktsegment, e.event_type,
               COUNT(*) AS n_events,
               CAST(SUM(CAST(floor(e.value * 100 + 0.5) AS BIGINT))
                    AS BIGINT) AS sum_cents
        FROM events e
        JOIN customer c ON e.user_id = c.c_custkey
        GROUP BY 1, 2
    """,
    "stream_interval_join": """
        SELECT v.user_id,
               v.event_id AS view_id,
               v.ts AS view_ts,
               c.event_id AS click_id,
               c.ts AS click_ts
        FROM events v
        JOIN events c
          ON v.user_id = c.user_id
         AND v.event_type = 'view' AND c.event_type = 'click'
         AND c.ts >= v.ts
         AND c.ts <= v.ts + INTERVAL 8 HOURS
    """,
}
