"""Operational diagnostics: the numbers you need BEFORE submitting a
100 TB job, computed as cheap aggregate queries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


#: Magnitude ceiling of the DECIMAL(18,6) accumulation type: values at
#: or beyond it cast to NULL under non-ANSI Spark and silently leave
#: decimal sums, exactly like NaN/Inf.
DSUM_RANGE = 1e12


def non_finite_counts(df: DataFrame, *cols: str) -> DataFrame:
    """Per-column NaN / +-Infinity / NULL / out-of-decimal-range counts
    for double columns — the ingest-time validation the
    decimal-accumulation contract (``scalar.dsum``) assumes: Spark's
    non-ANSI cast of NaN, Infinity, OR a magnitude >= 1e12 to
    DECIMAL(18,6) is NULL, so any of them silently vanishes from money
    sums while the DuckDB differential twin errors. Run this at the
    ingest edge and quarantine or repair before aggregating. One
    partial-aggregated pass, no shuffle beyond the single global row.
    """
    names = list(cols) or [
        f.name for f in df.schema.fields if f.dataType.simpleString() == "double"
    ]
    if not names:
        raise ValueError(
            "non_finite_counts: no double columns to validate "
            f"(frame columns: {df.columns})"
        )
    # coalesce: on a legitimately EMPTY batch every counter must read
    # 0, not NULL — ingest gates assert equality against 0
    zsum = lambda c: F.coalesce(F.sum(c.cast("long")), F.lit(0))  # noqa: E731
    aggs = []
    for c in names:
        col = F.col(c)
        aggs += [
            zsum(F.isnan(col)).alias(f"{c}_nan"),
            zsum(F.abs(col) == float("inf")).alias(f"{c}_inf"),
            zsum(col.isNull()).alias(f"{c}_null"),
            # disjoint classes: Inf is counted by _inf, not again here
            zsum(
                (F.abs(col) >= DSUM_RANGE)
                & ~F.isnan(col)
                & (F.abs(col) != float("inf"))
            ).alias(f"{c}_oob"),
        ]
    return df.agg(*aggs)
