"""Structured Streaming execution test: the SAME windowed-aggregation
code runs as an incremental streaming query (file source, availableNow
trigger, memory sink) and must produce exactly the batch answer —
Spark's batch/streaming unification, demonstrated rather than claimed.
"""

import pytest

from pyspark.sql import functions as F

from covid_engineering_spark.sources import read_table
from covid_engineering_spark.streaming.windows import stream_events, tumbling_agg

from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def source_dir(spark, tmp_path_factory):
    """Stage the events table as a directory of parquet chunks, as a
    file-source stream would receive them (two 'arrivals').
    """
    d = str(tmp_path_factory.mktemp("events_stream"))
    ev = read_table(spark, SF_SMOKE, "events")
    ev.filter(F.col("event_id") % 2 == 0).write.mode("append").parquet(d)
    ev.filter(F.col("event_id") % 2 == 1).write.mode("append").parquet(d)
    return d


def test_streaming_equals_batch(spark, source_dir):
    q = (
        stream_events(spark, source_dir)
        .writeStream.format("memory")
        .queryName("tumble_stream")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {
        (str(r.window_start), str(r.window_end)): (r.n_events, r.sum_value)
        for r in spark.sql("SELECT * FROM tumble_stream").collect()
    }
    want = {
        (str(r.window_start), str(r.window_end)): (r.n_events, r.sum_value)
        for r in tumbling_agg(spark.read.parquet(source_dir)).collect()
    }
    assert got == want
    assert len(got) > 0


def test_sliding_streaming_equals_batch(spark, source_dir):
    """The overlapping-window face must also hold under incremental
    execution: every event lands in TWO windows, and the availableNow
    run over chunked arrivals must equal the batch sliding aggregate
    exactly (the last window face that only had batch verification)."""
    from covid_engineering_spark.streaming.windows import sliding_agg

    q = (
        stream_events(spark, source_dir, slide="30 minutes")
        .writeStream.format("memory")
        .queryName("slide_stream")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (str(r.window_start), str(r.window_end)): (r.n_events, r.sum_value)
        for r in spark.sql("SELECT * FROM slide_stream").collect()
    }
    want = {
        (str(r.window_start), str(r.window_end)): (r.n_events, r.sum_value)
        for r in sliding_agg(spark.read.parquet(source_dir)).collect()
    }
    assert got == want
    # genuinely sliding: half-hour-offset windows must exist
    assert any(ws.endswith("30:00") for ws, _ in got)


def test_watermark_drops_late_data_across_restart(spark, tmp_path):
    """Concrete late-data semantics, production-shaped: run 1 advances
    the watermark to 11:00 (max 13:00 − 2h) and checkpoints it; run 2
    restarts from the checkpoint and receives a 09:15 straggler whose
    window closed strictly below the restored watermark — the row must
    be dropped (numRowsDroppedByWatermark) and its window must never
    reach the append-mode sink. (Within a single fresh run Spark
    applies batch N's watermark to data filtering only from the next
    restart's offset log — which is why the checkpoint matters.)
    """
    import datetime as dt

    d = str(tmp_path / "late_events")
    cp = str(tmp_path / "cp")
    out = str(tmp_path / "out")

    def mk(rows, part):
        spark.createDataFrame(
            [
                (i, dt.datetime(2021, 3, 1, h, m), 1, "click", 1.0, "{}")
                for i, (h, m) in enumerate(rows, start=part * 100)
            ],
            "event_id long, ts timestamp_ntz, user_id long, event_type string, value double, props string",
        ).coalesce(1).write.mode("append").parquet(d)

    def run():
        q = (
            stream_events(spark, d)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", cp)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return q

    mk([(10, 0), (13, 0)], part=0)
    run()  # watermark 11:00 lands in the checkpoint
    mk([(9, 15)], part=1)  # straggler: window end 10:00 < 11:00
    q2 = run()

    dropped = sum(
        p["stateOperators"][0].get("numRowsDroppedByWatermark", 0)
        for p in q2.recentProgress
        if p["stateOperators"]
    )
    assert dropped == 1
    rows = {
        str(r.window_start): r.n_events
        for r in spark.read.parquet(out).collect()
    }
    assert rows.get("2021-03-01 10:00:00") == 1, rows
    assert "2021-03-01 09:00:00" not in rows, rows


def test_streaming_plan_is_stateful(spark, source_dir):
    # The streaming frame must carry the event-time watermark that
    # bounds state at scale — no watermark means unbounded state.
    sdf = stream_events(spark, source_dir)
    assert sdf.isStreaming
    assert "watermark" in sdf.explain.__self__._jdf.queryExecution().analyzed().toString().lower()


def test_stream_dedup_drops_redelivered_rows(spark, tmp_path):
    """dropDuplicatesWithinWatermark: the same file landed twice (an
    at-least-once redelivery) must come out once per event_id, and the
    second micro-batch's duplicates must be dropped against the FIRST
    batch's state — cross-batch dedup, not per-batch distinct."""
    import pyspark.sql.functions as F

    from covid_engineering_spark.sources import read_table
    from covid_engineering_spark.streaming.dedup import stream_dedup
    from tests.conftest import SF_SMOKE

    src = str(tmp_path / "dup_events")
    ev = read_table(spark, SF_SMOKE, "events").filter(F.col("event_id") < 500)
    ev.coalesce(1).write.mode("append").parquet(src)
    ev.coalesce(1).write.mode("append").parquet(src)  # redelivery

    q = (
        stream_dedup(spark, src, reader_options={"maxFilesPerTrigger": "1"})
        .writeStream.format("memory")
        .queryName("deduped_events")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    assert len([p for p in q.recentProgress if p["numInputRows"] > 0]) >= 2

    got = spark.sql("SELECT event_id FROM deduped_events").collect()
    want = ev.select("event_id").distinct().count()
    assert len(got) == want
    assert len({r.event_id for r in got}) == want


def test_stream_static_join_enriches_like_batch(spark, source_dir):
    """Stream-static join: a streaming fact enriched against a static
    dimension (re-broadcast per micro-batch — the standard enrichment
    topology) must aggregate to exactly the batch answer."""
    from covid_engineering_spark.functions import dsum

    batch = spark.read.parquet(source_dir)
    dim = (
        batch.select("user_id")
        .distinct()
        .withColumn("tier", F.concat(F.lit("t"), (F.col("user_id") % 3)))
    )
    stream = (
        spark.readStream.schema(batch.schema)
        .parquet(source_dir)
        .join(dim, "user_id")
        .groupBy("tier")
        .agg(F.count("*").alias("n"), dsum("value").alias("sv"))
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("enriched_stream")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r.tier: (r.n, r.sv)
        for r in spark.sql("SELECT * FROM enriched_stream").collect()
    }
    want = {
        r.tier: (r.n, r.sv)
        for r in batch.join(dim, "user_id")
        .groupBy("tier")
        .agg(F.count("*").alias("n"), dsum("value").alias("sv"))
        .collect()
    }
    assert got == want
    assert len(got) == 3


def test_session_streaming_equals_batch(spark, source_dir):
    # The session face, run INCREMENTALLY (not just through its batch
    # twin): multi-batch availableNow over the same parquet source,
    # complete mode so no session is lost to the final watermark, and
    # the emitted sessions must equal the batch session_agg exactly.
    from covid_engineering_spark import schemas
    from covid_engineering_spark.streaming.windows import session_agg

    stream = (
        spark.readStream.schema(schemas.STAR["events"])
        .option("maxFilesPerTrigger", 1)
        .parquet(source_dir)
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", "2 hours")
    )
    q = (
        stream.groupBy(
            F.session_window("ts", "30 minutes").alias("w"), F.col("user_id")
        )
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").cast("timestamp_ntz").alias("session_start"),
            F.col("w.end").cast("timestamp_ntz").alias("session_end"),
            "n_events",
        )
        .writeStream.format("memory")
        .queryName("session_stream")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    assert len([p for p in q.recentProgress if p["numInputRows"] > 0]) >= 2
    got = {
        (r.user_id, str(r.session_start), str(r.session_end)): r.n_events
        for r in spark.sql("SELECT * FROM session_stream").collect()
    }
    want = {
        (r.user_id, str(r.session_start), str(r.session_end)): r.n_events
        for r in session_agg(spark.read.parquet(source_dir)).collect()
    }
    assert got == want
    assert len(got) > 0


def test_interval_join_streaming_equals_batch(spark, source_dir):
    """The stream-stream interval join (append mode, watermarked both
    sides) over the chunked landing zone must produce exactly the
    batch face's attribution pairs."""
    from covid_engineering_spark.streaming.joins import (
        attributed_clicks,
        stream_attributed_clicks,
    )

    q = (
        stream_attributed_clicks(spark, source_dir, watermark="0 seconds")
        .writeStream.format("memory")
        .queryName("attrib_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    got = {
        (r.user_id, r.view_id, r.click_id)
        for r in spark.sql("SELECT * FROM attrib_stream").collect()
    }
    ev = spark.read.parquet(source_dir).withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    want = {
        (r.user_id, r.view_id, r.click_id)
        for r in attributed_clicks(
            ev.filter(F.col("event_type") == "view"),
            ev.filter(F.col("event_type") == "click"),
        ).collect()
    }
    assert got == want
    assert len(got) > 0


def test_interval_join_state_is_watermark_bounded(spark, tmp_path):
    """The join condition's event-time bound plus the watermark must
    let the engine evict view-side state: after processing, the state
    store must hold fewer rows than the total views ingested (an
    unbounded stream-stream join keeps every row forever)."""
    import datetime as dt

    from covid_engineering_spark.streaming.joins import stream_attributed_clicks

    d = str(tmp_path / "ev")
    cp = str(tmp_path / "cp")
    base = dt.datetime(2021, 3, 1, 0, 0)

    def rows(part, hours):
        return [
            (part * 1000 + i, base + dt.timedelta(hours=h), 1,
             "view" if i % 2 == 0 else "click", 1.0, "{}")
            for i, h in enumerate(hours)
        ]

    schema = ("event_id long, ts timestamp_ntz, user_id long, "
              "event_type string, value double, props string")
    # two arrivals 3 days apart: run 1's views are far below run 2's
    # watermark, so their state must be gone by the end of run 2
    spark.createDataFrame(rows(0, [0, 1, 2, 3]), schema).coalesce(1).write.mode(
        "append"
    ).parquet(d)

    def run():
        q = (
            stream_attributed_clicks(spark, d, watermark="1 hour")
            .writeStream.format("noop")
            .option("checkpointLocation", cp)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        return q.lastProgress

    p1 = run()
    spark.createDataFrame(rows(1, [72, 73]), schema).coalesce(1).write.mode(
        "append"
    ).parquet(d)
    p2 = run()
    ops = (p2 or {}).get("stateOperators") or []
    assert ops, "no state operator reported"
    n_state = sum(op.get("numRowsTotal", 0) for op in ops)
    # 6 events ingested in total; bounded state must have evicted the
    # day-1 rows once the watermark passed them
    assert n_state < 6, f"state not evicted: {n_state} rows"


def test_segment_rollup_streaming_equals_batch(spark, source_dir):
    """The registered stream-static enrichment (segment_rollup batch
    face) must equal its incremental flavor over the chunked landing
    zone — the dimension is re-read per micro-batch, the rollup runs
    in complete mode."""
    from covid_engineering_spark.streaming.joins import (
        segment_rollup,
        stream_segment_rollup,
    )

    customer = read_table(spark, SF_SMOKE, "customer")
    q = (
        stream_segment_rollup(spark, source_dir, customer)
        .writeStream.format("memory")
        .queryName("segment_stream")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.c_mktsegment, r.event_type): (r.n_events, r.sum_cents)
        for r in spark.sql("SELECT * FROM segment_stream").collect()
    }
    ev = spark.read.parquet(source_dir).withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    want = {
        (r.c_mktsegment, r.event_type): (r.n_events, r.sum_cents)
        for r in segment_rollup(ev, customer).collect()
    }
    assert got == want
    assert len(got) > 0


def test_stream_near_dup_probes_the_standing_index(spark, tmp_path):
    """The ingestion-time composition: arriving document batches probe
    the STANDING near-dup index via foreachBatch, and the union of the
    per-micro-batch outputs equals the batch operator over the full
    arrival set (each arrival's candidates come from the standing
    index, never from co-arriving documents — so per-batch probing and
    one-shot probing see the same pairs)."""
    from covid_engineering_spark.operators.pipeline import (
        near_dup_incremental_lsh,
        read_near_dup_index,
        write_near_dup_index,
    )
    from covid_engineering_spark.streaming import stream_near_dup

    docs = read_table(spark, SF_SMOKE, "documents")
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    arriving = docs.filter(F.col("doc_id") % 5 == 0)
    idx_path = str(tmp_path / "ndidx")
    write_near_dup_index(corpus, idx_path)

    # two 'arrivals' of the batch stream
    src = str(tmp_path / "doc_stream")
    arriving.filter(F.col("doc_id") % 2 == 0).write.mode(
        "append"
    ).parquet(src)
    arriving.filter(F.col("doc_id") % 2 == 1).write.mode(
        "append"
    ).parquet(src)

    got: list = []

    def sink(pairs, batch_id):
        got.extend(tuple(r) for r in pairs.collect())

    q = (
        stream_near_dup(spark, src, idx_path, sink)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    want = sorted(
        tuple(r)
        for r in near_dup_incremental_lsh(
            None,
            arriving,
            index=read_near_dup_index(spark, idx_path),
        ).collect()
    )
    assert sorted(got) == want
    assert len(want) > 0
