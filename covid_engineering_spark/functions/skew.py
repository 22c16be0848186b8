"""Shared skew guards.

``salted_block_sides`` is the one mechanism behind every EXACT
intra-block self-join in the engine (the kNN graph, embedding near-dup
pairs): blocks bigger than ``cap`` split into s = ceil(n/cap) salted
sub-blocks per side, the join key grows to (blk, salt_a, salt_b), and
each of the s×s grid cells becomes its own shuffle partition of ~cap ×
~cap rows. Every pair (x, y) of a block meets in EXACTLY one cell —
(salt(x), salt(y)) — so results are bit-invariant to the split (the
callers' tests assert this with a tiny cap on a skewed corpus) while
the largest task concentrates around cap² pairs no matter how skewed
the block sizes are. Cell sides are hash-assigned, so ~cap per side IN
EXPECTATION with Binomial(n, 1/s) variance, not a hard bound — an
exact row_number split would pay an extra window for the guarantee.

This bounds PER-TASK work for a join whose total output is the point
(exact pairs / exact top-k within a block). Where total quadratic work
is itself the failure — e.g. a mega-bucket in the MinHash-LSH
candidate join — salting is no fix and the capped chain-pair
approximation applies instead (operators/dedup.py,
``SKETCH_BUCKET_CAP``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: Default block cap: sized so a full cell's pair scoring (cap² 64-dim
#: dots) stays a seconds-scale task on one core.
BLOCK_CAP = 4096

#: The join key both sides share.
SALTED_JOIN_KEYS = ["blk", "salt_a", "salt_b"]


def salted_block_sides(
    df: DataFrame, block: str, id_col: str, payload: str, cap: int = BLOCK_CAP
) -> tuple[DataFrame, DataFrame]:
    """Build the two sides of an exact salted intra-block self-join.

    ``cap`` must be >= 1: a degenerate cap would make n_sub zero (an
    empty salt sequence drops every row silently). Both callers
    (knn_graph, embedding_pairs) treat only None as "use the
    default" — an explicit 0 is a caller bug and fails loudly here.

    Returns ``(a, b)`` with columns ``(blk, id_a, pay_a, salt_a,
    salt_b)`` / ``(blk, id_b, pay_b, salt_a, salt_b)``; join them on
    ``SALTED_JOIN_KEYS`` and apply the caller's pair predicate
    (``id_a < id_b`` for unordered pairs, ``!=`` for a directed graph).
    Per-block s comes from a count aggregate broadcast back onto both
    sides, so the plan stays fully lazy.
    """
    if cap is None or cap < 1:
        raise ValueError(f"salted_block_sides cap must be >= 1, got {cap!r}")
    # NOTE: caching the projected input here (the size aggregate
    # and both join sides re-derive it) was implemented and A/B'd —
    # and REJECTED: the three derivations are a thin projection of an
    # already-fanned scan, while the InMemoryRelation in the middle
    # breaks whole-stage codegen fusion and runtime exchange reuse and
    # adds a materialization barrier. Measured at sf0.1 (interleaved,
    # honest resets): graph_label_propagation 3.0s uncached vs 4.0s
    # cached (its 4 unrolled rounds share exchanges without the
    # cache); knn/semdedup/hard-negatives flat-to-worse. Guide §5:
    # cache only when recompute beats the memory+barrier cost.
    sizes = df.groupBy(F.col(block).alias("blk")).agg(
        F.ceil(F.count("*") / F.lit(cap)).cast("int").alias("n_sub")
    )
    salts = F.explode(F.sequence(F.lit(0), F.col("n_sub") - 1))
    base = df.select(
        F.col(block).alias("blk"),
        F.col(id_col).alias("_id"),
        F.col(payload).alias("_pay"),
    ).join(F.broadcast(sizes), "blk")
    own_salt = F.pmod(F.xxhash64("_id"), F.col("n_sub")).cast("int")
    a = (
        base.withColumn("salt_a", own_salt)
        .withColumn("salt_b", salts)
        .select(
            "blk",
            F.col("_id").alias("id_a"),
            F.col("_pay").alias("pay_a"),
            "salt_a",
            "salt_b",
        )
    )
    b = (
        base.withColumn("salt_b", own_salt)
        .withColumn("salt_a", salts)
        .select(
            "blk",
            F.col("_id").alias("id_b"),
            F.col("_pay").alias("pay_b"),
            "salt_a",
            "salt_b",
        )
    )
    return a, b
