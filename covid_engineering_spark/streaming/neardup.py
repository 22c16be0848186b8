"""Streaming near-duplicate detection against the STANDING MinHash/LSH
index — the ingestion-time composition of the streaming tier with the
corpus index tier: documents arrive as a file-source stream, and every
micro-batch probes ``write_near_dup_index``'s persisted band buckets
exactly like the batch probe does.

Why ``foreachBatch`` and not a single incremental plan: the MinHash
signature is a per-document AGGREGATION over the exploded shingle
stream, and Structured Streaming does not support an aggregation
UPSTREAM of a join in one incremental query — the canonical escape
hatch is ``foreachBatch``, which hands each micro-batch to the proven
BATCH operator (``near_dup_incremental_lsh(index=...)``) with
exactly-once sink semantics left to the caller's ``sink_fn``. This is
the production shape for index-probing ingestion (the same pattern
Delta/Iceberg merge writers use), and it means the streaming face can
NEVER diverge from the registered batch operator — it IS the batch
operator, applied per arrival (asserted in tests/test_streaming.py:
union of per-batch outputs == the batch face over the full arrival
set, because each arriving document's candidates come from the
standing index, never from co-arriving documents).

Scale shape per micro-batch: O(batch + probe) — the standing index is
read, not rebuilt; candidates are ≤ |batch|·bands·cap.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from covid_engineering_spark import schemas
from covid_engineering_spark.operators.pipeline import (
    near_dup_incremental_lsh,
    read_near_dup_index,
)


def stream_near_dup(
    spark: SparkSession,
    source_dir: str,
    index_path: str,
    sink_fn: Callable[[DataFrame, int], None],
):
    """Build (unstarted) the foreachBatch streaming query: arriving
    parquet document batches under ``source_dir`` probe the standing
    index at ``index_path``; each micro-batch's near-dup pairs go to
    ``sink_fn(pairs_df, batch_id)``. Caller starts with
    ``.trigger(availableNow=True).start()`` or a processing-time
    trigger.
    """
    idx = read_near_dup_index(spark, index_path)

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        sink_fn(near_dup_incremental_lsh(None, batch_df, index=idx), batch_id)

    return (
        spark.readStream.schema(schemas.STAR["documents"])
        .parquet(source_dir)
        .writeStream.foreachBatch(_process)
    )
