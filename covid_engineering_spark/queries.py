"""Query registry: assembles every operator's `(spark, sf_dir) ->
DataFrame` callable and its DuckDB oracle SQL into the dicts that
``__spark_entry__`` exposes to the verification driver.

Modules register themselves via ``QUERIES`` / ``ORACLES`` dicts; a
query without an oracle entry would get the driver's weaker rows-only
check — there are NONE: every registered query carries a
SQL twin (the last holdout, the IVF ANN index, switched its registered
codebook to a deterministic SQL-replayable form).

Registry order is module order (``_MODULES``, then each module's
``QUERIES`` order); callers look queries up by name. Every registered
query is checked against its oracle by the tier-1 suite
(tests/test_oracle.py) and, over the whole registry at any scale, by
``scripts/full_sweep.py``.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from covid_engineering_spark import streaming
from covid_engineering_spark.operators import (
    covid,
    dedup,
    ingest,
    multimodal,
    pipeline,
    relational,
    similarity,
    simulation,
    text,
    timeseries,
    windows,
    wrangling,
)

_MODULES = [
    relational,
    windows,
    wrangling,
    simulation,
    covid,
    ingest,
    dedup,
    pipeline,
    similarity,
    text,
    timeseries,
    multimodal,
    streaming,
]


def registry() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    out: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    for mod in _MODULES:
        overlap = out.keys() & mod.QUERIES.keys()
        if overlap:
            raise ValueError(f"duplicate query names: {sorted(overlap)}")
        out.update(mod.QUERIES)
    return out


#: Queries whose DataFrame CONSTRUCTION performs staging writes (CSV/
#: JSONL/ORC/parquet sinks, SQLite extraction, bucketed saveAsTable) —
#: the ingest family demonstrates sink semantics, so building the
#: frame is itself a job. register_query_views skips these by default:
#: registering a "lazy view" must never silently run write jobs.
SIDE_EFFECTING = frozenset({
    "s1_csv_scan",
    "s2_sqlite_ingest",
    "s5_sink_partitioned",
    "s6_jsonl_scan",
    "s7_orc_roundtrip",
    "s8_sink_compact",
    "s9_sink_range_sorted",
    "s10_schema_evolution",
    "s11_zorder_layout",
    "j7_bucketed_join",
})


def register_query_views(
    spark: SparkSession,
    sf_dir: str,
    include_staged: bool = False,
) -> list[str]:
    """SQL API surface: expose every registered query as a temp view
    (named ``q_<query_name>``) over ``sf_dir``, so a SQL-only user can
    ``SELECT * FROM q_dedup_minhash_lsh`` — or join/filter/re-aggregate
    any engine result — without touching the DataFrame API.

    Registration is lazy for every pure query (a view wraps the
    unexecuted plan; Catalyst still prunes/pushes through it) and
    costs only catalog metadata. The EXCEPTION is the ingest family
    (``SIDE_EFFECTING``): those queries stage data — eager CSV/JSONL/
    ORC/parquet writes or a bucketed ``saveAsTable`` — at DataFrame-
    construction time, so the default registration SKIPS them; pass
    ``include_staged=True`` to opt into running their staging jobs.
    Returns the view names registered.
    """
    reg = registry()
    picked = [n for n in reg if include_staged or n not in SIDE_EFFECTING]
    out = []
    for name in picked:
        reg[name](spark, sf_dir).createOrReplaceTempView(f"q_{name}")
        out.append(f"q_{name}")
    return out


def oracles() -> dict[str, str]:
    """DuckDB oracle SQL per registered query.

    Result-type contract (see TESTDATA.md, "Oracle result type
    contract"): the driver's value hash is type-sensitive, so oracle
    columns must arrive in arrow as int64/float64/bool/timestamp/
    date/string only — never HUGEINT/decimal128 (DuckDB's default for
    ``SUM(BIGINT)``; always ``CAST(... AS BIGINT)``). Enforced by
    tests/test_oracle_types.py against every entry here.
    """
    out: dict[str, str] = {}
    for mod in _MODULES:
        out.update(getattr(mod, "ORACLES", {}))
    unknown = out.keys() - registry().keys()
    if unknown:
        raise ValueError(f"oracles without queries: {sorted(unknown)}")
    return out
