"""Dual API surface: the same engine tables answer through
``spark.sql`` over registered views exactly as through the DataFrame
registry — the contract that lets reference users bring raw SQL.
"""

from covid_engineering_spark.queries import registry
from covid_engineering_spark.sources import register_star

from tests.conftest import SF_SMOKE


def test_sql_matches_dataframe_q1(spark):
    register_star(spark, SF_SMOKE)
    got = spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE), 2) AS sum_qty,
               COUNT(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP_NTZ '2000-09-02 00:00:00'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus
        """
    ).collect()
    want = {
        (r.l_returnflag, r.l_linestatus): (r.sum_qty, r.count_order)
        for r in registry()["q1_pricing_summary"](spark, SF_SMOKE).collect()
    }
    assert len(got) == len(want) > 0
    for r in got:
        assert want[(r.l_returnflag, r.l_linestatus)] == (r.sum_qty, r.count_order)


def test_views_cover_all_star_tables(spark):
    tables = register_star(spark, SF_SMOKE)
    for name in tables:
        assert spark.sql(f"SELECT COUNT(*) AS n FROM {name}").first().n >= 0


# ---------------------------------------------------------------------------
# Full SQL-surface contract: every registered query must be
# reachable via spark.sql, two ways —
#   1. its oracle twin, where written in portable ANSI SQL, runs
#      unchanged on Spark over the same views and matches the
#      DataFrame-API result value-for-value;
#   2. every query (portable twin or not) is queryable as a lazy view
#      through register_query_views.
# DUCKDB_ONLY pins the twins that are dialect-bound (DuckDB list
# lambdas `list_reduce`/`list_transform`, `string_split`, `arg_min`/
# `arg_max`, `//` integer division, `strftime`, date -/+ integer
# arithmetic, `GROUP BY ALL`, recursive CTEs with DuckDB list
# accumulators, struct-literal syntax). The companion test asserts
# each pinned name REALLY fails to parse/analyze on Spark, so this
# list shrinks the moment a twin is made portable and cannot hide a
# portable twin that silently diverges.

import pytest

from covid_engineering_spark.queries import oracles, register_query_views
from tests.oracle_check import compare_frames

_ORC = oracles()

DUCKDB_ONLY = {
    "a11_percentile",
    # quantile_cont / list_dot_product / the md5(CAST(... AS
    # VARCHAR)) idiom are DuckDB dialect
    "a25_quantile_cuts",
    "emb_rp_recall",
    "pipe_weighted_sample",
    "text_gopher_rules",
    "ts_holt",
    # the '0x'||substr(md5..)::BIGINT portable-hash idiom (a26)
    # and string_split/unnest token explosion (dsir) are DuckDB
    # dialect
    "a26_mg_heavy",
    "pipe_dsir_select",
    # same string_split/unnest weights chain + portable-hash
    # idiom as pipe_dsir_select
    "pipe_dsir_gumbel",
    # string_split / generate_series-unnest / list-slice
    # positional grams are DuckDB dialect
    "dedup_substring",
    # same positional-gram chain + string_agg-ORDER-BY token
    # reassembly (strip); string_split/list_transform band chain +
    # '0x'||md5 hashes (near-dup LSH probe); list_dot_product /
    # list_transform / md5(CAST..VARCHAR) k-means chain (both k-means
    # forms)
    "dedup_substring_strip",
    "pipe_near_dup_incremental_lsh",
    "emb_kmeans_lloyd",
    "ann_ivf_kmeans_topk",
    # the _SH4_SQL string_split/list_transform shingle chain
    "pipe_contamination_report",
    # same shingle chain + '0x'||md5 bit positions + unnest(range)
    "pipe_bloom_decontaminate",
    # list_dot_product kNN edge chain + unnest([..]) corner fanout
    "graph_triangle_count",
    # string_split/unnest char explosion + '//' integer division
    "text_entropy",
    # list_transform/list_dot_product power rounds + '//' division
    "emb_pca_power",
    # string_split/list_transform bigram chain + split_part
    "text_collocations",
    # list_dot_product kNN/beam chain + md5(CAST..VARCHAR) hubs
    "ann_graph_greedy",
    # string_split/len token counters + '//' integer division
    "pipe_tokenizer_fertility",
    # list_dot_product kNN chain + AS MATERIALIZED round frames
    "graph_kcore",
    # string_split/unnest token explosion (js_divergence,
    # quality_classifier) + the '0x'||md5 hash idiom and unnest(range)
    # weights table (quality_classifier, curriculum_order); '//'
    # integer division + DuckDB date-minus-date arithmetic
    # (ts_decompose); list_dot_product/list_transform kNN and ADC
    # chains + AS MATERIALIZED round frames (label_propagation,
    # rerank); list lambdas + HUGEINT moment sums (emb_outliers);
    # '//' division + '0x'||md5 shard hash + VALUES table alias
    # (a27_quantile_sketch)
    "text_js_divergence",
    "ts_decompose",
    "pipe_quality_classifier",
    "pipe_curriculum_order",
    "graph_label_propagation",
    "ann_rerank_topk",
    "emb_outliers",
    "a27_quantile_sketch",
    # '//' ceil division + VALUES table alias (a28)
    "a28_quantile_hist",
    "a24_cms_heavy",
    "ann_hamming_topk",
    "ann_range_search",
    "emb_mrl_recall",
    "pipe_blocklist_filter",
    "text_bigram_lm",
    "text_bm25",
    "text_perplexity",
    "ts_downtime_detect",
    "ts_mad_anomaly",
    "ts_percentile_profile",
    "a18_approx_percentile",
    "ann_cosine_topk",
    "ann_ivf_topk",
    "ann_lsh_topk",
    "covid_param_series",
    "covid_transfer_sim",
    "covid_wave_peaks",
    "ann_ivfpq_topk",
    "ann_pq_adc_topk",
    "ann_recall_eval",
    "emb_dim_stats",
    "emb_sq8",
    "dedup_clusters",
    "dedup_containment",
    "dedup_embedding",
    "emb_pq_codes",
    "graph_pagerank",
    "pipe_dataset_card",
    "text_dup_ngram_rate",
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "dedup_simhash",
    "emb_assign_nearest",
    "emb_centroid",
    "emb_hard_negatives",
    "emb_knn_graph",
    "emb_semdedup",
    "f5_date_parse",
    "f8_format",
    "j6_asof_join",
    "json_extract",
    "mm_feature_extract",
    "mm_frame_sample",
    "mm_resize",
    "pipe_cdc_upsert",
    "pipe_curate_corpus",
    "pipe_decontaminate",
    "pipe_keep_best",
    "pipe_length_hist",
    "pipe_mixture_plan",
    "pipe_mixture_sample",
    "pipe_near_dup_incremental",
    "pipe_pack_chunks",
    "pipe_pii_scrub",
    "pipe_quality_filter",
    "pipe_source_gate",
    "pipe_split_hash",
    "pipe_stratified_sample",
    "stream_slide",
    "stream_tumble",
    # time_bucket window bucketing (like tumble/slide)
    "stream_topk",
    "text_fingerprint",
    "text_langid",
    "text_normalize",
    "text_quality",
    "text_repetition",
    "text_tfidf",
    "text_token_stats",
    "text_top_terms",
    "text_unigram_lm",
    "ts_changepoint",
    "ts_cohort",
    "ts_snaive_backtest",
    "ts_ewma",
    "ts_gapfill",
    "ts_hourly_profile",
    "ts_resample",
    "ts_rollup_incremental",
    "ts_seasonal_anomaly",
    "w6_interpolate",
    "wrangle_clean_complete",
}


@pytest.mark.parametrize("name", sorted(set(_ORC) - DUCKDB_ONLY))
def test_portable_twin_matches_dataframe_api_via_spark_sql(spark, name):
    register_star(spark, SF_SMOKE)
    via_sql = spark.sql(_ORC[name]).toPandas()
    via_df = registry()[name](spark, SF_SMOKE).toPandas()
    res = compare_frames(via_sql, via_df)
    assert res["match"], (name, res)


@pytest.mark.parametrize("name", sorted(DUCKDB_ONLY))
def test_duckdb_only_pins_are_really_dialect_bound(spark, name):
    # Keeps DUCKDB_ONLY honest: if Spark learns to run a pinned twin,
    # this fails and the name must move to the portable tier above.
    from pyspark.errors import AnalysisException, ParseException

    register_star(spark, SF_SMOKE)
    with pytest.raises((AnalysisException, ParseException)):
        spark.sql(_ORC[name]).limit(1).collect()


def test_every_registered_query_is_reachable_as_sql_view(spark):
    from covid_engineering_spark.queries import SIDE_EFFECTING

    # Registration must NOT run the ingest family's staging writes: it
    # registers every pure query only.
    views = register_query_views(spark, SF_SMOKE)
    assert len(views) == len(registry()) - len(SIDE_EFFECTING)
    assert not {f"q_{n}" for n in SIDE_EFFECTING} & set(views)
    # analysis (schema resolution) through every view must succeed —
    # independent driver-side analyses, overlapped per §2.6
    from tests.conftest import parallel_sweep

    def analyzes(v):
        assert spark.sql(f"SELECT * FROM {v}").columns

    failures = parallel_sweep(views, analyzes)
    assert not failures, failures
    # spot-execute a cross-section through spark.sql, one per family
    for v in ("q_q1_pricing_summary", "q_dedup_minhash_lsh",
              "q_ann_ivf_topk", "q_ts_anomaly", "q_mm_feature_extract",
              "q_pipe_curate_corpus"):
        assert spark.sql(f"SELECT COUNT(*) AS n FROM {v}").first().n >= 0
