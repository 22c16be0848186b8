"""Scalar helpers shared across operators (SURVEY.md §2.8).

Everything here is a thin composition of built-in ``pyspark.sql.functions``
— JVM-side, codegen-friendly, no Python UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dsum(c: Column | str) -> Column:
    """Deterministic sum of a money-like double column.

    Plain ``SUM(double)`` is accumulation-order dependent, which breaks
    bit-exact differential testing between Spark and the DuckDB oracle
    (and between two Spark runs with different partitioning). Casting
    each value to ``DECIMAL(18,6)`` first makes the aggregation exact
    and order-independent; the final cast back to double + round is a
    single deterministic rounding. The oracle mirrors the same cast
    (``SUM(CAST(x AS DECIMAL(18,6)))``).

    At scale this costs one widening per value — still whole-stage
    codegen, still a partial/final hash aggregate, no extra shuffle.

    NaN/range policy (found by the adversarial oracle sweep): Spark's
    non-ANSI cast of NaN, +-Infinity, OR any magnitude >= 1e12 (past
    DECIMAL(18,6)) to decimal yields NULL, so such input rows silently
    DROP OUT of the sum, while the DuckDB twin errors loudly on the
    same cast. Money-like columns are therefore contracted finite and
    < 1e12 in magnitude at ingest — validate with
    :func:`covid_engineering_spark.functions.diagnostics.non_finite_counts`
    (which counts all three hazard classes) before trusting aggregates
    over external data. The SUM widens to DECIMAL(28,6) (capacity
    ~1e22), so the accumulator holds 1e12 rows up to an AVERAGE
    magnitude of ~1e10 — past that, the overflow itself NULLs under
    non-ANSI Spark; shard the aggregation (e.g. the A13 salt) before
    approaching it.
    """
    c = F.col(c) if isinstance(c, str) else c
    return F.round(F.sum(c.cast("decimal(18,6)")).cast("double"), 2)


def dot(a: Column, b: Column) -> Column:
    """Dot product of two numeric arrays: elementwise double products,
    then a sequential left-fold sum from 0.0 — the order the oracles'
    ``list_dot_product`` over double-cast lists adds in, so both
    engines produce the same double. Unrounded; see
    :func:`cosine_expr` for the rounded score.
    """
    prods = F.zip_with(
        a, b, lambda x, y: x.cast("double") * y.cast("double")
    )
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def cosine_expr(a: Column, b: Column) -> Column:
    """Cosine of two unit-norm vectors: :func:`dot` rounded to 6dp,
    the grid every similarity oracle ranks and hashes on.
    """
    return F.round(dot(a, b), 6)


def missing_count(*cols: str) -> Column:
    """Row-wise count of nulls across columns — the reference's
    ``row[cols].isna().sum()`` (main.py:424, F6) as a codegen expression.
    """
    out = F.lit(0)
    for c in cols:
        out = out + F.when(F.col(c).isNull(), 1).otherwise(0)
    return out
