"""SURVEY.md §2 completeness guard: every operator ID in the inventory
maps to a registered query (and an oracle, unless listed as rows-only).
If an operator is added to SURVEY.md without an implementation — or an
implementation is dropped — this fails.
"""

from covid_engineering_spark.queries import oracles, registry

# SURVEY §2 ID -> queries() key. None = exercised outside the query
# registry (ingest paths have dedicated tests instead of driver queries).
SURVEY_MAP = {
    # §2.1 scans/sources/sinks — driver-checkable round-trips (the
    # reference-CSV/SQLite forms also run in tests/test_reference_data,
    # test_sqlite_ingest, test_csv_coercion).
    "S1": "s1_csv_scan",
    "S2": "s2_sqlite_ingest",
    "S3": "s2_sqlite_ingest",  # catalog enumeration + whole-table load
    "S4": "s1_csv_scan",  # NA-null + date coercion in the same scan
    "S5": "s5_sink_partitioned",
    # §2.2 projections/filters
    "P1": "p1_project",
    "P2": "p2_filter_eq",
    "P3": "p3_date_range",
    "P4": "p4_null_drop",
    "P5": "p5_masked_assign",
    # §2.3 joins
    "J1": "j1_broadcast_lookup",
    "J2": "j2_semi",
    "J3": "j3_anti",
    "J4": "j4_outer_count",
    "J5": "j5_range_join",
    "J6": "j6_asof_join",
    # §2.4 aggregations
    "A1": "a1_groupby_max",
    "A2": "a2_groupby_sum",
    "A3": "a3_groupby_avg",
    "A4": "a4_global_sums",
    "A5": "a5_global_avg",
    "A6": "a6_minmax",
    "A7": "a7_distinct",
    "A8": "a8_lsq_ratio",
    "A9": "a9_mse",
    "A10": "a10_rollup",
    "A11": "a11_percentile",
    "A12": "a12_cube",
    "A13": "a13_salted_agg",
    "A14": "a14_approx_distinct",
    "A15": "a15_grouping_sets",
    "A16": "a16_pivot",
    "A17": "a17_unpivot",
    "A18": "a18_approx_percentile",
    # §2.5 windows
    "W1": "w1_cumsum",
    "W2": "w2_diff",
    "W3": "w3_drop_first",
    "W4": "w4_first_last",
    "W5": "w5_tail",
    "W6": "w6_interpolate",
    "W7": "w7_rank",
    "W8": "w8_range_frame",
    # §2.6 sort/top-k
    "O1": "o1_sort_limit",
    "O2": "o2_topk",
    # §2.7 set ops
    "SET-U": "set_union",
    "SET-I": "set_intersect",
    "SET-E": "set_except",
    # §2.8 scalar functions
    "F1": "f1_arithmetic",
    "F2": "f2_round",
    "F3": "f3_replace",
    "F4": "f4_clamp_div",
    "F5": "f5_date_parse",
    "F6": "f6_null_count",
    "F7": "f7_impute_invariant",
    "F8": "f8_format",
    "FX-JSON": "json_extract",
    "FX-RE": "str_regex",
    # §2.9 regression/model fitting
    "M1": "m1_ols_origin",
    "M2": "a8_lsq_ratio",  # normal-equation LSQ == the A8 aggregate
    "M3": "m3_param_series",
    "M4": "m4_r0_series",
    # §2.10 simulation
    "X1": "x1_sird_sim",
    "X2": "x2_sird_transfer",
    "X3": "x3_sird_mse",
    # wrangling pipeline (§7.1 step 5)
    "WRANGLE": "wrangle_clean_complete",
    # north-star extensions (BASELINE.json)
    "DD-EXACT": "dedup_exact",
    "DD-NGRAM": "dedup_ngram_jaccard",
    "DD-MINHASH": "dedup_minhash_lsh",
    "DD-SIMHASH": "dedup_simhash",
    "DD-EMB": "dedup_embedding",
    "ANN-BF": "ann_cosine_topk",
    "ANN-LSH": "ann_lsh_topk",
    "ANN-IVF": "ann_ivf_topk",
    "ANN-POOL": "emb_centroid",
    "TXT-TOK": "text_token_stats",
    "TXT-Q": "text_quality",
    "TXT-LANG": "text_langid",
    "TXT-FP": "text_fingerprint",
    "TXT-TOP": "text_top_terms",
    "TXT-TFIDF": "text_tfidf",
    "TXT-REP": "text_repetition",
    "TXT-NORM": "text_normalize",
    "ANN-KNN": "emb_knn_graph",
    "ANN-ASSIGN": "emb_assign_nearest",
    "MM": "mm_feature_extract",
    "MM-FRAMES": "mm_frame_sample",
    "MM-RESIZE": "mm_resize",
    # streaming tier (§2.12)
    "STR-TUMBLE": "stream_tumble",
    "STR-SLIDE": "stream_slide",
    "STR-SESSION": "stream_session",
    "STR-DEDUP": "stream_dedup",
    # time-series rollup + event analytics
    "TS-RESAMPLE": "ts_resample",
    "TS-ROLLUPINC": "ts_rollup_incremental",
    "TS-SESSIONIZE": "ts_sessionize",
    "TS-FUNNEL": "ts_funnel",
    "TS-COHORT": "ts_cohort",
    "TS-GAPFILL": "ts_gapfill",
    # training-data pipeline tier (corpus management)
    "PIPE-SPLIT": "pipe_split_hash",
    "PIPE-QUOTA": "pipe_quota_source",
    "PIPE-DECON": "pipe_decontaminate",
    "PIPE-PACK": "pipe_pack_chunks",
    "PIPE-MIX": "pipe_mixture_sample",
    "PIPE-CC": "dedup_clusters",
    "PIPE-KEEP": "pipe_keep_best",
    "PIPE-HIST": "pipe_length_hist",
    "PIPE-CDC": "pipe_cdc_upsert",
    # SCD Type-2 dimension history
    "PIPE-SCD2": "pipe_scd2_history",
    "PIPE-PII": "pipe_pii_scrub",
    "PIPE-DUPRATE": "pipe_dup_rate",
    "PIPE-STRAT": "pipe_stratified_sample",
    "PIPE-CURATE": "pipe_curate_corpus",
    "PIPE-SNAPDIFF": "pipe_snapshot_diff",
    "PIPE-QFILTER": "pipe_quality_filter",
    "PIPE-INCDEDUP": "pipe_dedup_incremental",
    "PIPE-INCNEAR": "pipe_near_dup_incremental",
    "PIPE-MIXPLAN": "pipe_mixture_plan",
    "STR-JOIN": "stream_interval_join",
    "TS-FUNNEL1P": "ts_funnel_steps",
    "TS-ANOMALY": "ts_anomaly",
    "TS-ACTIVE": "ts_active_users",
    "TS-PROFILE": "ts_hourly_profile",
    "TXT-UNIGRAM": "text_unigram_lm",
    # containment dedup, corpus dup-ngram rate,
    # kNN-graph PageRank, dataset-card rollup, PQ encode + ADC search
    "DD-CONTAIN": "dedup_containment",
    "TXT-DUPNGRAM": "text_dup_ngram_rate",
    "GRAPH-PR": "graph_pagerank",
    "PIPE-CARD": "pipe_dataset_card",
    "ANN-PQ": "emb_pq_codes",
    "ANN-PQADC": "ann_pq_adc_topk",
    "ANN-IVFPQ": "ann_ivfpq_topk",
    # SemDeDup-style semantic dedup over embeddings
    "DD-SEMDEDUP": "emb_semdedup",
    # in-batch hard-negative mining
    "ANN-HARDNEG": "emb_hard_negatives",
    # per-dimension corpus profile, int8 scalar
    # quantization with queryable reconstruction loss, in-engine
    # recall@k of the IVF index against brute-force ground truth
    "ANN-DIMSTATS": "emb_dim_stats",
    "ANN-SQ8": "emb_sq8",
    "ANN-RECALL": "ann_recall_eval",
    # integer EWMA smoother, CUSUM changepoint,
    # RFM segmentation, ranking-window completion, explicit skew-salted
    # join (bit-equal to its plain twin)
    "TS-EWMA": "ts_ewma",
    "TS-CUSUM": "ts_changepoint",
    "TS-SNAIVE": "ts_snaive_backtest",
    "A21": "a21_corr_moments",
    "A22": "a22_mode",
    "PIPE-GATE": "pipe_source_gate",
    "RFM": "rfm_segments",
    "W9": "w9_ntile_cume",
    "J8": "j8_salted_join",
    "Q4": "q4_order_priority",
    "TS-SEASONAL": "ts_seasonal_anomaly",
    "TS-TRENDING": "ts_trending",
    # 1-bit binary quantization + Hamming
    # top-k, bigram-LM phrase novelty, blocklist density gate, lag-1
    # autocorrelation in exact moment space
    "ANN-HAMMING": "ann_hamming_topk",
    "TXT-BIGRAM": "text_bigram_lm",
    "PIPE-BLOCK": "pipe_blocklist_filter",
    "TS-AUTOCORR": "ts_autocorr",
    # BM25 ranked retrieval, LSH range
    # search, MAD robust anomaly, per-group heavy hitters
    "TXT-BM25": "text_bm25",
    "ANN-RANGE": "ann_range_search",
    "TS-MAD": "ts_mad_anomaly",
    "A23": "a23_heavy_hitters",
    # CMS sketch-vs-exact, Matryoshka prefix recall,
    # unigram-LM perplexity gate, hour-of-day percentile bands
    "A24": "a24_cms_heavy",
    "ANN-MRL": "emb_mrl_recall",
    "TXT-PPL": "text_perplexity",
    "TS-PCTL": "ts_percentile_profile",
    # stream-static enrichment rollup, feed-freshness gaps
    "STR-STATIC": "stream_static_enrich",
    "TS-GAPS": "ts_downtime_detect",
    # one-pass quantile cut-point audit, JL
    # random-projection recall eval, k-anonymity release gate
    "A25": "a25_quantile_cuts",
    "A26": "a26_mg_heavy",
    "PIPE-DSIR": "pipe_dsir_select",
    # the paper's Gumbel-top-k resampling rule in
    # integer micro-units, and the ExactSubstr duplicated-span
    # analysis.
    "PIPE-DSIR-G": "pipe_dsir_gumbel",
    "DEDUP-SUBSTR": "dedup_substring",
    # the span REMOVAL form (strip every merged
    # duplicated span from the text, with per-doc token accounting),
    # and the standing-index incremental near-dup (batch probes the
    # MinHash band buckets; candidates <= |batch| * bands * cap).
    "DEDUP-SUBSTR-STRIP": "dedup_substring_strip",
    "PIPE-NEARDUP-LSH": "pipe_near_dup_incremental_lsh",
    # iterated deterministic Lloyd k-means, full-trajectory twin, and
    # the IVF index trained on it (recall 0.75 vs the one-step 0.725)
    "EMB-KMEANS": "emb_kmeans_lloyd",
    "ANN-IVF-KMEANS": "ann_ivf_kmeans_topk",
    # graded eval-overlap contamination report
    "PIPE-CONTAM": "pipe_contamination_report",
    # Bloom-prescreened decontamination: the eval suite collapses to a
    # <= m-row set-bit frame, corpus shingles probe k broadcast joins,
    # only Bloom-positives reach the exact verify; FP rate measured
    "PIPE-BLOOM": "pipe_bloom_decontaminate",
    # degree-ordered triangle census (Suri & Vassilvitskii 2011):
    # per-vertex triangle counts + local clustering coefficient over
    # the kNN graph — oriented out-degree O(sqrt(m)) bounds the wedges
    "GRAPH-TRI": "graph_triangle_count",
    # char-level Shannon entropy in integer nat-micro-units — the
    # base64/gibberish/padding quality signal token metrics miss
    "TXT-ENTROPY": "text_entropy",
    # top principal component by unrolled power iteration — DECIMAL
    # centering, micro-integer w sums, Rayleigh eigenvalue + explained
    # variance; the whitening/OPQ/collapse-diagnostic primitive
    "EMB-PCA": "emb_pca_power",
    # corpus PMI collocation extraction (Church & Hanks 1990) — the
    # multiword-unit miner feeding tokenizer/boilerplate inventories
    "TXT-COLLOC": "text_collocations",
    # big-big interval join via time binning: intervals explode into
    # covered bins, points bin once, equi-join + exact filter — the
    # scale form of j5's broadcast-only range join, exactly-once by
    # construction (no dedup stage)
    "J9": "j9_binned_interval_join",
    # navigable-graph beam ANN (the NSW/HNSW search procedure): hub
    # layer + undirected kNN edges, unrolled beam hops, found@top-k
    # judged in-engine against brute force
    "ANN-GRAPH": "ann_graph_greedy",
    # per-lang tokenizer fertility (chars/token, tokens/word on exact
    # corpus-level sums) — the multilingual token-budget audit
    "PIPE-FERTILITY": "pipe_tokenizer_fertility",
    # k-core peel of the mutual kNN graph: convergence-broken peeling
    # with per-round localCheckpoint; the dense-community gate
    "GRAPH-KCORE": "graph_kcore",
    # per-window top-k event types: the counts stream (watermarkable),
    # the rank applied at read — the lambda-free serving split,
    # demonstrated end-to-end in tests/test_streaming.py
    "STREAM-TOPK": "stream_topk",
    # per-source JS mixture audit, classical
    # additive decomposition, broadcast linear quality model,
    # curriculum ordering on the distributed ntile/prefix-sum
    # primitives, synchronous LPA communities, two-stage ADC+exact
    # retrieval rerank, per-label centroid-distance outlier gate,
    # and the mergeable rank-stride quantile summary
    "TXT-JS": "text_js_divergence",
    "TS-DECOMP": "ts_decompose",
    "PIPE-QCLS": "pipe_quality_classifier",
    "PIPE-CURR": "pipe_curriculum_order",
    "GRAPH-LPA": "graph_label_propagation",
    "ANN-RERANK": "ann_rerank_topk",
    "EMB-OUTLIER": "emb_outliers",
    "A27": "a27_quantile_sketch",
    # exact percentiles by value-histogram collapse (bounded domain)
    "A28": "a28_quantile_hist",
    "ANN-RP": "emb_rp_recall",
    "PIPE-KANON": "pipe_k_anonymity",
    "PIPE-PPS": "pipe_weighted_sample",
    "TXT-GOPHER": "text_gopher_rules",
    "TS-HOLT": "ts_holt",
    # ingest extensions (JSONL / ORC / compaction round-trips)
    "ING-JSONL": "s6_jsonl_scan",
    "ING-ORC": "s7_orc_roundtrip",
    "ING-COMPACT": "s8_sink_compact",
    "ING-RANGE": "s9_sink_range_sorted",
    "ING-EVOLVE": "s10_schema_evolution",
    # multi-column Z-order clustering layout
    "ING-ZORDER": "s11_zorder_layout",
    "J7": "j7_bucketed_join",
    "A19": "a19_hll_union",
    # arg-max aggregate (max_by, composite-key ties)
    "A20": "a20_max_by",
    # real-data covid composites, fixture-backed registry forms
    "COVID-PARAMS": "covid_param_series",
    "COVID-TRANSFER": "covid_transfer_sim",
    "COVID-WAVES": "covid_wave_peaks",
    # flagship composites (§7.2)
    "Q1": "q1_pricing_summary",
    "Q2": "q2_min_cost_supplier",
    "Q3": "q3_top_orders",
    "Q5": "q5_region_revenue",
    "Q6": "q6_forecast_revenue",
    # TPC-H query-shape completion (double nation
    # join, outer-join histogram, conditional-ratio, scalar-max view,
    # correlated-AVG decorrelation, HAVING-IN, disjunctive pushdown,
    # scalar-avg + anti-join)
    "Q7": "q7_nation_volume",
    "Q8": "q8_market_share",
    "Q9": "q9_product_profit",
    "Q10": "q10_returned_items",
    "Q11": "q11_important_stock",
    "Q12": "q12_shipmode_priority",
    "Q13": "q13_cust_distribution",
    "Q14": "q14_promo_effect",
    "Q15": "q15_top_supplier",
    "Q16": "q16_parts_supplier",
    "Q17": "q17_small_quantity",
    "Q18": "q18_large_orders",
    "Q19": "q19_disjunctive",
    "Q20": "q20_dominant_supplier",
    "Q21": "q21_suppliers_waiting",
    "Q22": "q22_global_balance",
}

# Rows-only by design: EMPTY — every registered query now carries a
# SQL twin. The last holdout (ann_ivf_topk, formerly keyed on a fitted
# MLlib k-means codebook) switched its registered form to the
# deterministic sampled-init + one-Lloyd-step codebook, whose every
# arithmetic step replays in SQL; the MLlib path survives as the
# production lib function (`_centroids`), recall-tested through the
# identical probe/score plan. Also oracle-matched: the LSH ANN index
# (deterministic LCG planes), the MinHash/SimHash sketches (portable
# md5-derived hash family in the registered forms), the mapInPandas
# decode, both simulation recursions, and the full cleaning pipeline.
ROWS_ONLY: set[str] = set()


def test_every_survey_operator_is_registered():
    reg = registry()
    missing = {
        sid: name
        for sid, name in SURVEY_MAP.items()
        if name is not None and name not in reg
    }
    assert not missing, f"SURVEY ops without implementations: {missing}"


def test_every_registered_query_is_in_survey_map():
    mapped = {n for n in SURVEY_MAP.values() if n is not None}
    extras = set(registry()) - mapped
    assert not extras, f"implemented but not in the SURVEY inventory: {extras}"


def test_oracle_coverage_is_exactly_rows_only_exceptions():
    reg, orc = set(registry()), set(oracles())
    assert reg - orc == ROWS_ONLY


def test_bench_headline_names_all_resolve():
    """bench.py skips unknown names silently (reg.get) — a typo'd or
    renamed HEADLINE entry would quietly drop a query from every
    bench artifact. Pin the whole list to the registry."""
    import bench

    missing = [n for n in bench.HEADLINE if n not in registry()]
    assert not missing, missing
