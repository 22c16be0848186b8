from covid_engineering_spark.functions.caching import evicting_cache
from covid_engineering_spark.functions.diagnostics import (
    key_skew_stats,
    non_finite_counts,
)
from covid_engineering_spark.functions.scalar import (
    dsum,
    missing_count,
)
from covid_engineering_spark.functions.skew import (
    BLOCK_CAP,
    SALTED_JOIN_KEYS,
    salted_block_sides,
)

__all__ = [
    "BLOCK_CAP",
    "SALTED_JOIN_KEYS",
    "dsum",
    "evicting_cache",
    "key_skew_stats",
    "missing_count",
    "non_finite_counts",
    "salted_block_sides",
]
