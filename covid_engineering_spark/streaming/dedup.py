"""Streaming exact deduplication (dedup tier × streaming tier): the
incremental face of ``operators.dedup.q_dedup_exact`` for
at-least-once sources (file landing zones, replayed queues) where the
same record can arrive more than once.

``dropDuplicatesWithinWatermark`` keeps a state-store entry per key
only while the key can still recur inside the watermark horizon, then
evicts it — so at a 100 TB/day ingest rate the dedup state is bounded
by (distinct keys arriving within the horizon), not by the corpus.
Plain ``dropDuplicates`` on a stream would retain every key forever.
State lives in the engine's RocksDB store (session.py), so the bound
is a disk number.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from covid_engineering_spark.sources import read_events_stream, read_table


def stream_dedup(spark: SparkSession, source_dir: str) -> DataFrame:
    """Watermark-bounded streaming dedup over the events file source:
    emits each key's FIRST arrival, drops re-deliveries that land
    within the watermark horizon (append output mode).
    """
    stream = read_events_stream(spark, source_dir).withWatermark(
        "ts", "2 hours"
    )
    return stream.dropDuplicatesWithinWatermark(["event_id"])


def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checkable batch face of the streaming dedup: events with
    a simulated at-least-once redelivery (every 7th event arrives
    twice, byte-identical — the failure-retry shape) collapsed back to
    one row per key. Batch ``dropDuplicates`` is the bounded-time
    equivalence of ``dropDuplicatesWithinWatermark`` (the incremental
    face is exercised with a real checkpointed stream in
    tests/test_streaming.py); duplicates are exact copies, so the
    surviving row is value-deterministic.
    """
    ev = read_table(spark, sf_dir, "events").select(
        "event_id",
        F.col("ts").cast("timestamp").alias("ts"),
        "user_id",
        "value",
    )
    redelivered = ev.unionAll(ev.filter(F.col("event_id") % 7 == 0))
    return redelivered.dropDuplicates(["event_id"])


QUERIES = {"stream_dedup": q_stream_dedup}

ORACLES = {
    "stream_dedup": """
        SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, value
        FROM events
    """,
}
