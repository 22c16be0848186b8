#!/usr/bin/env python
"""End-to-end Structured Streaming: the engine's streaming tier run as
REAL incremental queries — file source, availableNow trigger, memory /
parquet sinks — and checked against the batch answers on the spot.

Four faces of batch/stream unification (the same column expressions
run both ways; reference parity per SURVEY §2.12):

1. watermarked tumbling event-time aggregation  (stream ≡ batch)
2. watermark-bounded dedup of at-least-once redeliveries (append mode)
3. stream-static dimension enrichment            (stream ≡ batch)
4. stateful per-user running totals (applyInPandasWithState) — the
   streaming-only operator, checked against a batch groupBy fold

Run: python examples/streaming_pipeline.py [sf_dir] [out_dir]
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile

from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main(sf_dir: str = "/root/testdata/sf0.001", out_dir: str | None = None):
    from covid_engineering_spark.session import get_spark
    from covid_engineering_spark.sources import read_table
    from covid_engineering_spark.streaming.dedup import stream_dedup
    from covid_engineering_spark.streaming.joins import (
        segment_rollup,
        stream_segment_rollup,
    )
    from covid_engineering_spark.streaming.stateful import (
        running_user_totals,
    )
    from covid_engineering_spark.streaming.windows import (
        stream_events,
        tumbling_agg,
    )

    spark = get_spark(app_name="streaming-pipeline")
    spark.sparkContext.setLogLevel("ERROR")
    scratch = out_dir or tempfile.mkdtemp(prefix="ces_stream_")
    os.makedirs(scratch, exist_ok=True)

    # 0. stage the events table as a directory of parquet chunks, the
    # shape a file-source stream ingests (three "arrivals"; the third
    # redelivers every 7th event — the at-least-once retry shape).
    # A reused out_dir must start from a CLEAN arrivals directory —
    # appending onto a previous run's staging would double every
    # staged row and fail the dedup/stateful asserts below.
    src = os.path.join(scratch, "arrivals")
    shutil.rmtree(src, ignore_errors=True)
    ev = read_table(spark, sf_dir, "events")
    ev.filter(F.col("event_id") % 2 == 0).write.mode("append").parquet(src)
    ev.filter(F.col("event_id") % 2 == 1).write.mode("append").parquet(src)
    ev.filter(F.col("event_id") % 7 == 0).write.mode("append").parquet(src)
    n_staged = spark.read.parquet(src).count()
    print(f"staged {n_staged} event arrivals (incl. redeliveries)")

    # 1. watermarked tumbling aggregation, run incrementally to
    # completion, vs the same expressions over a batch read.
    q = (
        stream_events(spark, src)
        .writeStream.format("memory")
        .queryName("ex_tumble")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql(
        "SELECT COUNT(*) AS n, SUM(n_events) AS e FROM ex_tumble"
    ).first()
    want = tumbling_agg(spark.read.parquet(src)).agg(
        F.count("*").alias("n"), F.sum("n_events").alias("e")
    ).first()
    assert (got.n, got.e) == (want.n, want.e), (got, want)
    print(f"tumbling stream ≡ batch: {got.n} windows, {got.e} events")

    # 2. watermark-bounded dedup: the duplicate third arrival must
    # collapse; append mode emits each event_id's first arrival once.
    # Like the arrivals dir: a reused out_dir must start from a clean
    # sink AND checkpoint — a stale checkpoint would treat the freshly
    # re-staged part files as new arrivals and append duplicate
    # event_ids onto the previous run's sink, failing the assert.
    ded_dir = os.path.join(scratch, "deduped")
    ck_dedup = os.path.join(scratch, "ck_dedup")
    shutil.rmtree(ded_dir, ignore_errors=True)
    shutil.rmtree(ck_dedup, ignore_errors=True)
    q = (
        stream_dedup(spark, src)
        .writeStream.format("parquet")
        .option("path", ded_dir)
        .option("checkpointLocation", ck_dedup)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    n_unique = spark.read.parquet(ded_dir).select("event_id").distinct().count()
    n_rows = spark.read.parquet(ded_dir).count()
    n_expected = ev.count()
    assert n_rows == n_unique == n_expected, (n_rows, n_unique, n_expected)
    print(f"streaming dedup: {n_staged} arrivals -> {n_rows} unique events")

    # 3. stream-static enrich: per-segment rollup with the customer
    # dimension joined per micro-batch (no cross-stream state).
    cust = read_table(spark, sf_dir, "customer")
    q = (
        stream_segment_rollup(spark, src, cust)
        .writeStream.format("memory")
        .queryName("ex_enrich")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["c_mktsegment"]: r["n_events"]
        for r in spark.sql("SELECT * FROM ex_enrich").collect()
    }
    want = {
        r["c_mktsegment"]: r["n_events"]
        for r in segment_rollup(spark.read.parquet(src), cust).collect()
    }
    assert got == want
    print(f"stream-static enrich ≡ batch: {len(got)} segments")

    # 4. stateful running totals: the streaming-only operator; the
    # final per-user state must equal a batch fold over the same files.
    stream = (
        spark.readStream.schema(ev.schema)
        .parquet(src)
        .select("user_id", "value")
    )
    q = (
        running_user_totals(stream)
        .writeStream.format("memory")
        .queryName("ex_state")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # update mode emits a row per touched key per micro-batch; the
    # LAST emission per user is the lifetime total.
    final = spark.sql(
        """SELECT user_id, n_events FROM (
               SELECT *, ROW_NUMBER() OVER (
                   PARTITION BY user_id ORDER BY n_events DESC) rk
               FROM ex_state) WHERE rk = 1"""
    )
    got_total = final.agg(F.sum("n_events")).first()[0]
    assert got_total == n_staged, (got_total, n_staged)
    print(f"stateful totals: {final.count()} users, {got_total} events folded")

    # 5. ingestion-time near-dup: arriving document batches probe the
    # STANDING MinHash/LSH index via foreachBatch — the composition of
    # the streaming tier with the corpus index tier (per-batch cost is
    # O(batch + probe); candidates come from the index, never from
    # co-arriving docs, so per-batch union == one-shot batch probe).
    from covid_engineering_spark.operators.pipeline import (
        write_near_dup_index,
    )
    from covid_engineering_spark.streaming.neardup import stream_near_dup

    docs = read_table(spark, sf_dir, "documents")
    idx_dir = os.path.join(scratch, "nd_index")
    write_near_dup_index(docs.filter(F.col("doc_id") % 5 != 0), idx_dir)
    doc_src = os.path.join(scratch, "doc_arrivals")
    shutil.rmtree(doc_src, ignore_errors=True)
    arriving = docs.filter(F.col("doc_id") % 5 == 0)
    arriving.filter(F.col("doc_id") % 2 == 0).write.mode("append").parquet(
        doc_src
    )
    arriving.filter(F.col("doc_id") % 2 == 1).write.mode("append").parquet(
        doc_src
    )
    pairs: list = []
    nd = (
        stream_near_dup(
            spark,
            doc_src,
            idx_dir,
            lambda df, bid: pairs.extend(df.collect()),
        )
        .trigger(availableNow=True)
        .start()
    )
    nd.awaitTermination(120)
    print(
        f"streaming near-dup vs standing index: "
        f"{len(pairs)} pairs across {arriving.count()} arriving docs"
    )

    if out_dir is None:
        shutil.rmtree(scratch, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(
        main(
            sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001",
            sys.argv[2] if len(sys.argv) > 2 else None,
        )
    )
