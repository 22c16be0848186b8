"""Query registry: assembles every operator's `(spark, sf_dir) ->
DataFrame` callable and its DuckDB oracle SQL into the dicts that
``__spark_entry__`` exposes to the verification driver.

Modules register themselves via ``QUERIES`` / ``ORACLES`` dicts; a
query without an oracle entry would get the driver's weaker rows-only
check — there are NONE: every registered query carries a
SQL twin (the last holdout, the IVF ANN index, switched its registered
codebook to a deterministic SQL-replayable form; the MLlib-KMeans
codebook stays available as a lib function).

Registration ORDER is part of the driver contract: the driver hashes
exactly the first 50 registry entries, so ``PRIORITY`` pins the
verification window explicitly. The window rotates between driver
runs: entries without a driver CORRECTNESS row yet go first, then the
stalest ``last checked`` rows in LEDGER.md. Everything after slot 50
holds a green driver row from an earlier run (see LEDGER.md, regenerated
from the CORRECTNESS_r*.json artifacts) or sits in the explicit
``WINDOW_OVERFLOW`` queue, and keeps its local DuckDB-differential
coverage either way (tests/test_oracle.py).
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

#: The first 50 registry entries — the driver's verification window.
#: The rotation policy is ledger-driven (LEDGER.md, regenerated by
#: scripts/verification_ledger.py from CORRECTNESS_r*.json):
#:   1. entries with NO green driver row ever go first;
#:   2. entries whose code or registered output changed after their
#:      last green row re-enter (tests/test_registry_order.py
#:      CHANGED_SINCE_LAST_GREEN);
#:   3. newly added operators claim slots as they land;
#:   4. remaining slots re-verify the STALEST `last checked` rows in
#:      LEDGER.md.
#:
#: Entries left out with an in-window sibling on the identical code
#: path: pipe_keep_best (pipe_curate_corpus/dedup_clusters — same CC +
#: retention path), graph_pagerank/graph_kcore (graph_triangle_count —
#: same kNN-graph build), x1_sird_sim (the two wrangling entries cover
#: the SQL-string expression assembly), p4_null_drop (p2_filter_eq +
#: p5_masked_assign — the same projection/filter/null family).
PRIORITY = [
    # 1: never green.
    "text_js_divergence",
    "ts_decompose",
    "pipe_quality_classifier",
    "pipe_curriculum_order",
    "graph_label_propagation",
    "ann_rerank_topk",
    "emb_outliers",
    "a27_quantile_sketch",
    "a28_quantile_hist",
    # 2: changed after their last green rows.
    "pipe_curate_corpus",
    "dedup_clusters",
    "ann_graph_greedy",
    "graph_triangle_count",
    "dedup_minhash_lsh",
    "pipe_bloom_decontaminate",
    "pipe_near_dup_incremental_lsh",
    "q21_suppliers_waiting",
    "wrangle_clean_complete",
    "w6_interpolate",
    # 4: the stalest `last checked` rows, unchanged since.
    "a25_quantile_cuts",
    "a2_groupby_sum",
    "a3_groupby_avg",
    "a4_global_sums",
    "a5_global_avg",
    "a6_minmax",
    "a7_distinct",
    "f2_round",
    "f3_replace",
    "f4_clamp_div",
    "f6_null_count",
    "f8_format",
    "p2_filter_eq",
    "p3_date_range",
    "p5_masked_assign",
    "pipe_decontaminate",
    "pipe_quota_source",
    "s6_jsonl_scan",
    "s7_orc_roundtrip",
    "s8_sink_compact",
    "s9_sink_range_sorted",
    "set_intersect",
    "stream_static_enrich",
    "stream_tumble",
    "text_langid",
    "text_repetition",
    "text_tfidf",
    "text_top_terms",
    "ts_downtime_detect",
    "ts_resample",
    "w7_rank",
]

#: The overflow queue: pinned to the FRONT of the post-window tail
#: (slots 51+, asserted in tests/test_registry_order.py) and FIRST in
#: line for the next window.
WINDOW_OVERFLOW: list[str] = []


def registry() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    out: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    for mod in _MODULES:
        overlap = out.keys() & mod.QUERIES.keys()
        if overlap:
            raise ValueError(f"duplicate query names: {sorted(overlap)}")
        out.update(mod.QUERIES)
    missing = [
        n for n in PRIORITY + WINDOW_OVERFLOW if n not in out
    ]
    if missing:
        raise ValueError(f"PRIORITY names without implementations: {missing}")
    ordered = {n: out[n] for n in PRIORITY + WINDOW_OVERFLOW}
    ordered.update({n: fn for n, fn in out.items() if n not in ordered})
    return ordered


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
    names: list[str] | None = None,
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
    ``include_staged=True`` (or name them explicitly in ``names``) to
    opt into running their staging jobs. Returns the view names
    registered.
    """
    reg = registry()
    if names is None:
        picked = [
            n for n in reg if include_staged or n not in SIDE_EFFECTING
        ]
    else:
        picked = names
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
