"""Library operators: semantic pins beyond the oracle differential.

- text_js_divergence — per-source Jensen–Shannon divergence vs the
  corpus unigram distribution (mixture-audit signal); absent-token
  mass folded into a closed-form ln2 remainder, no source×vocab grid.
- ts_decompose — classical additive decomposition (centered 7-day
  moving-average trend, day-of-week seasonal index, residual) in
  exact integer cents.
- pipe_quality_classifier — hashed-bag-of-words linear scorer with a
  broadcast (bucket, weight) model table; fastText-style keep gate.
- pipe_curriculum_order — easy→hard stage assignment (global_ntile)
  + deterministic within-stage shuffle + global serving position
  (global_prefix_sum); no single-partition sort anywhere.
- graph_label_propagation — synchronous min-tie-break LPA communities
  over the union-symmetrized kNN graph, fixed unrolled rounds.
- ann_rerank_topk — two-stage retrieval: PQ-ADC shortlist, exact
  float cosine re-rank; recall must dominate the raw ADC ranking.
- emb_outliers — distance-to-own-centroid z-score flags; per-label
  float math happens once per LABEL, never per row.
"""

import pytest
from pyspark.sql import functions as F

from conftest import SF_SMOKE

from tests.oracle_check import compare, duck_con
from tests.test_round9_ops import patho_dir  # noqa: F401 - fixture reuse

NEW_OPS = [
    "text_js_divergence",
    "ts_decompose",
    "pipe_quality_classifier",
    "pipe_curriculum_order",
    "graph_label_propagation",
    "ann_rerank_topk",
    "emb_outliers",
    "a27_quantile_sketch",
    "a28_quantile_hist",
]


@pytest.mark.parametrize("name", NEW_OPS)
def test_matches_duckdb_twin(spark, name):
    from covid_engineering_spark.queries import oracles, registry

    con = duck_con(SF_SMOKE)
    try:
        res = compare(
            registry()[name](spark, SF_SMOKE), con, oracles()[name]
        )
        assert res["match"], res
    finally:
        con.close()


@pytest.mark.parametrize("name", NEW_OPS)
def test_matches_twin_on_null_payloads(spark, name, patho_dir):  # noqa: F811
    from covid_engineering_spark.queries import oracles, registry

    con = duck_con(patho_dir)
    try:
        res = compare(
            registry()[name](spark, patho_dir), con, oracles()[name]
        )
        assert res["match"], res
    finally:
        con.close()


# --- text_js_divergence ----------------------------------------------


def test_js_divergence_zero_for_identical_distributions(spark):
    # every source emits the same token multiset -> every pointwise
    # term is ln(1) and the remainder mass is 1 -> exactly 0 micros
    docs = spark.createDataFrame(
        [(i, "a b c a", None, f"s{i % 3}", 7) for i in range(9)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    from covid_engineering_spark.operators.text import js_divergence

    rows = js_divergence(docs).collect()
    assert len(rows) == 3
    assert all(r.js_micros == 0 for r in rows)


def test_js_divergence_symmetric_disjoint_sources(spark):
    # two sources with disjoint, equal-mass vocabularies: positive
    # divergence, identical for both by symmetry, and below ln2 (the
    # JS bound against the mixture the corpus distribution is)
    docs = spark.createDataFrame(
        [(1, "a b c d", None, "s0", 7), (2, "e f g h", None, "s1", 7)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    from covid_engineering_spark.operators.text import js_divergence

    rows = {r.source: r.js_micros for r in js_divergence(docs).collect()}
    assert rows["s0"] == rows["s1"]
    assert 0 < rows["s0"] < 693148  # ln 2 in micros


def test_js_divergence_null_source_is_its_own_group(spark):
    docs = spark.createDataFrame(
        [(1, "a b", None, None, 3), (2, "a c", None, "s0", 3)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    from covid_engineering_spark.operators.text import js_divergence

    rows = js_divergence(docs).collect()
    assert {r.source for r in rows} == {None, "s0"}


# --- ts_decompose ----------------------------------------------------


def test_decompose_constant_series_has_zero_seasonal_and_residual(spark):
    import datetime

    rows = [
        (i, datetime.datetime(2024, 1, 1 + i), 1, "t", 10.0, "{}")
        for i in range(14)
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    from covid_engineering_spark.operators.timeseries import decompose

    out = decompose(ev).collect()
    full = [r for r in out if r.trend_cents is not None]
    # 14 daily points, ±3 window -> 8 full-window rows
    assert len(full) == 8
    assert all(r.trend_cents == r.x_cents for r in full)
    assert all(r.seasonal_cents == 0 for r in full)
    assert all(r.resid_cents == 0 for r in full)
    edges = [r for r in out if r.trend_cents is None]
    assert len(edges) == 6
    # edge rows detrend to NULL, so their residuals are NULL too
    assert all(r.resid_cents is None for r in edges)


def test_decompose_additivity_on_real_data(spark):
    from covid_engineering_spark.operators.timeseries import decompose
    from covid_engineering_spark.sources import read_table

    out = decompose(read_table(spark, SF_SMOKE, "events")).collect()
    full = [r for r in out if r.trend_cents is not None]
    assert full, "expected full-window rows on the 30-day feed"
    for r in full:
        assert r.x_cents == r.trend_cents + r.seasonal_cents + r.resid_cents


# --- pipe_quality_classifier -----------------------------------------


def test_quality_classifier_model_table_is_swappable(spark):
    from covid_engineering_spark.operators.pipeline import (
        QC_BUCKETS,
        quality_classifier,
    )
    from covid_engineering_spark.sources import read_table

    docs = read_table(spark, SF_SMOKE, "documents")
    pos = spark.range(QC_BUCKETS).select(
        F.col("id").alias("bucket"), F.lit(1).cast("long").alias("w_micros")
    )
    neg = spark.range(QC_BUCKETS).select(
        F.col("id").alias("bucket"),
        F.lit(-1).cast("long").alias("w_micros"),
    )
    kept_pos = quality_classifier(docs, weights=pos).filter("keep")
    kept_neg = quality_classifier(docs, weights=neg).filter("keep")
    n_docs = docs.filter(F.col("text").isNotNull()).count()
    assert kept_pos.count() == n_docs  # all-positive model keeps all
    assert kept_neg.count() == 0  # all-negative model keeps none


def test_quality_classifier_null_text_fails_the_gate(spark):
    from covid_engineering_spark.operators.pipeline import quality_classifier

    docs = spark.createDataFrame(
        [(1, None, None, "s0", None), (2, "a b", None, "s0", 3)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    rows = {r.doc_id: r for r in quality_classifier(docs).collect()}
    assert rows[1].keep is False
    assert rows[1].n_tokens is None and rows[1].score_micros is None
    assert rows[2].n_tokens == 2


def test_quality_classifier_plan_broadcasts_the_model(spark):
    from covid_engineering_spark.plans import (
        broadcast_join_count,
        has_cartesian,
    )
    from covid_engineering_spark.queries import registry

    df = registry()["pipe_quality_classifier"](spark, SF_SMOKE)
    assert not has_cartesian(df)
    assert broadcast_join_count(df) >= 1


# --- pipe_curriculum_order -------------------------------------------


def test_curriculum_positions_are_a_permutation(spark):
    from covid_engineering_spark.queries import registry

    out = registry()["pipe_curriculum_order"](spark, SF_SMOKE)
    rows = out.collect()
    n = len(rows)
    assert sorted(r.global_pos for r in rows) == list(range(1, n + 1))


def test_curriculum_stages_are_length_ordered(spark):
    from covid_engineering_spark.queries import registry

    rows = (
        registry()["pipe_curriculum_order"](spark, SF_SMOKE)
        .orderBy("n_chars", "doc_id")
        .collect()
    )
    stages = [r.stage for r in rows]
    assert stages == sorted(stages), "stage must be monotone in length"
    # serving order walks the stages in order
    by_pos = sorted(rows, key=lambda r: r.global_pos)
    assert [r.stage for r in by_pos] == sorted(s for s in stages)


def test_curriculum_shuffles_within_stage(spark):
    # within a stage the serving order must NOT be doc_id order
    # (hash-shuffled): with 125 docs per stage the probability of an
    # accidental sorted run is nil
    from covid_engineering_spark.queries import registry

    rows = (
        registry()["pipe_curriculum_order"](spark, SF_SMOKE)
        .filter("stage = 1")
        .orderBy("global_pos")
        .collect()
    )
    ids = [r.doc_id for r in rows]
    assert ids != sorted(ids)


# --- graph_label_propagation -----------------------------------------


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src_id long, n_id long")


def test_lpa_two_components_converge_to_min_labels(spark):
    from covid_engineering_spark.operators.similarity import (
        label_propagation,
    )

    tri1 = [(1, 2), (2, 3), (3, 1)]
    tri2 = [(10, 11), (11, 12), (12, 10)]
    rows = label_propagation(_edges(spark, tri1 + tri2)).collect()
    comm = {r.node: r.community for r in rows}
    assert comm == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 12: 10}
    assert all(r.community_size == 3 for r in rows)


def test_lpa_community_sizes_sum_to_node_count(spark):
    from covid_engineering_spark.queries import registry

    rows = registry()["graph_label_propagation"](spark, SF_SMOKE).collect()
    n = len(rows)
    sizes = {}
    for r in rows:
        sizes[r.community] = sizes.get(r.community, 0) + 1
    assert all(sizes[r.community] == r.community_size for r in rows)
    assert sum(sizes.values()) == n
    # communities actually form (not the all-singletons degenerate)
    assert max(sizes.values()) > 1


def test_lpa_plan_has_no_cartesian(spark):
    from covid_engineering_spark.plans import has_cartesian
    from covid_engineering_spark.queries import registry

    assert not has_cartesian(
        registry()["graph_label_propagation"](spark, SF_SMOKE)
    )


# --- ann_rerank_topk --------------------------------------------------


def test_rerank_recall_dominates_raw_adc(spark):
    from covid_engineering_spark.operators.similarity import (
        TOP_K,
        pq_adc_topk,
        q_cosine_frame,
        rerank_topk,
    )
    from covid_engineering_spark.sources import read_table

    emb = read_table(spark, SF_SMOKE, "embeddings")
    exact = {
        (r.q_id, r.n_id)
        for r in q_cosine_frame(emb).select("q_id", "n_id").collect()
    }
    adc = {
        (r.q_id, r.n_id)
        for r in pq_adc_topk(emb, k=TOP_K).select("q_id", "n_id").collect()
    }
    rer = {
        (r.q_id, r.n_id)
        for r in rerank_topk(emb).select("q_id", "n_id").collect()
    }
    # measured at sf0.001: rerank 15/40 vs raw ADC 3/40 — the exact
    # stage is what makes the compressed shortlist servable
    assert len(rer & exact) > len(adc & exact)
    assert len(rer & exact) > 0


def test_rerank_recall_is_monotone_in_shortlist(spark):
    # the serving lever: a larger shortlist is a superset of a smaller
    # one, and the exact stage picks the best of whatever it is given,
    # so recall@k can only rise with the shortlist budget
    from covid_engineering_spark.operators.similarity import (
        q_cosine_frame,
        rerank_topk,
    )
    from covid_engineering_spark.sources import read_table

    emb = read_table(spark, SF_SMOKE, "embeddings")
    exact = {
        (r.q_id, r.n_id)
        for r in q_cosine_frame(emb).select("q_id", "n_id").collect()
    }
    hits = []
    for shortlist in (10, 25, 50):
        got = {
            (r.q_id, r.n_id)
            for r in rerank_topk(emb, shortlist=shortlist)
            .select("q_id", "n_id")
            .collect()
        }
        hits.append(len(got & exact))
    assert hits == sorted(hits), hits
    assert hits[-1] > hits[0]


def test_rerank_emits_topk_per_query(spark):
    from covid_engineering_spark.operators.similarity import (
        N_QUERIES,
        TOP_K,
    )
    from covid_engineering_spark.queries import registry

    rows = registry()["ann_rerank_topk"](spark, SF_SMOKE).collect()
    assert len(rows) == N_QUERIES * TOP_K
    per_q = {}
    for r in rows:
        per_q.setdefault(r.q_id, []).append(r)
    for q_id, rs in per_q.items():
        assert sorted(r.rank for r in rs) == list(range(1, TOP_K + 1))
        by_rank = sorted(rs, key=lambda r: r.rank)
        cosines = [r.cosine for r in by_rank]
        assert cosines == sorted(cosines, reverse=True)


# --- a27_quantile_sketch ----------------------------------------------


def test_quantile_sketch_bound_holds_on_real_data(spark):
    from covid_engineering_spark.queries import registry

    rows = registry()["a27_quantile_sketch"](spark, SF_SMOKE).collect()
    assert rows
    assert all(r.err_within_bound for r in rows)
    # every group reports every requested percentile
    per_g = {}
    for r in rows:
        per_g.setdefault(r.event_type, set()).add(r.pct)
    assert all(p == {25, 50, 75, 90} for p in per_g.values())


def test_quantile_sketch_exact_when_budget_covers_the_shard(spark):
    import datetime
    import math

    from covid_engineering_spark.operators.relational import (
        quantile_sketch,
    )

    vals = [float(v) for v in range(1, 101)]  # 1.00 .. 100.00
    rows = [
        (i, datetime.datetime(2024, 1, 1), 1, "t", vals[i], "{}")
        for i in range(100)
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    # b large enough that every shard keeps every element (stride 1)
    out = quantile_sketch(ev, "event_type", b=1000).collect()
    got = {r.pct: r.est_cents for r in out}
    for pct in (25, 50, 75, 90):
        want = int(sorted(vals)[math.ceil(pct * 100 / 100) - 1] * 100)
        assert got[pct] == want, (pct, got[pct], want)
        assert all(r.err_bound == 0 for r in out)


# --- a28_quantile_hist ------------------------------------------------


def test_quantile_hist_is_exact(spark):
    import math

    import duckdb

    from covid_engineering_spark.queries import registry

    got = {
        (r.event_type, r.pct): (r.est_cents, r.n_total)
        for r in registry()["a28_quantile_hist"](spark, SF_SMOKE).collect()
    }
    rows = duckdb.sql(
        f"select event_type, CAST(floor(value*100+0.5) AS BIGINT) "
        f"from '{SF_SMOKE}/events.parquet' where value is not null"
    ).fetchall()
    byg: dict = {}
    for g, x in rows:
        byg.setdefault(g, []).append(int(x))
    for g, xs in byg.items():
        xs.sort()
        for pct in (25, 50, 75, 90):
            want = xs[math.ceil(pct * len(xs) / 100) - 1]
            assert got[(g, pct)] == (want, len(xs)), (g, pct)


def test_quantile_hist_agrees_with_sketch_when_bound_is_zero(spark):
    # with a per-shard budget covering every element the sketch is
    # exact (bound 0) and must produce the identical order statistics
    import datetime

    from covid_engineering_spark.operators.relational import (
        quantile_histogram,
        quantile_sketch,
    )

    rows = [
        (i, datetime.datetime(2024, 1, 1), 1, "t", float((i * 7) % 50), "{}")
        for i in range(200)
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    sk = {
        (r.event_type, r.pct): r.est_cents
        for r in quantile_sketch(ev, "event_type", b=1000).collect()
    }
    hs = {
        (r.event_type, r.pct): r.est_cents
        for r in quantile_histogram(ev, "event_type").collect()
    }
    assert sk == hs


# --- emb_outliers -----------------------------------------------------


def test_outliers_flag_matches_threshold(spark):
    from covid_engineering_spark.queries import registry

    rows = registry()["emb_outliers"](spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert r.d2_micros >= 0
        assert r.is_outlier == (r.d2_micros > r.thr_micros)
    flagged = sum(r.is_outlier for r in rows)
    assert 0 < flagged < len(rows)


def test_outliers_hand_planted_far_vector_is_flagged(spark):
    from covid_engineering_spark.operators.similarity import (
        DIM,
        embedding_outliers,
    )

    base = [0.0] * DIM
    tight = []
    for i in range(10):
        v = list(base)
        v[0] = 1.0
        v[1] = 0.001 * i  # tiny jitter
        tight.append((i, v, 0))
    far = list(base)
    far[2] = 1.0  # orthogonal to the cluster
    rows = embedding_outliers(
        spark.createDataFrame(
            tight + [(99, far, 0)],
            "vec_id long, embedding array<float>, label int",
        )
    ).collect()
    flags = {r.vec_id: r.is_outlier for r in rows}
    assert flags[99] is True
    assert sum(flags.values()) == 1


def test_outliers_corpus_never_shuffles(spark):
    # centroid/stats branches aggregate to bounded frames; the
    # corpus-side path is scan -> broadcast joins -> project. The
    # full plan's exchanges must all sit on the bounded branches:
    # with 8 shuffle partitions the corpus frame would contribute
    # hash exchanges carrying vec_id — assert the total exchange
    # count stays at the two bounded aggregations' four exchanges.
    from covid_engineering_spark.plans import shuffle_count
    from covid_engineering_spark.queries import registry

    df = registry()["emb_outliers"](spark, SF_SMOKE)
    assert shuffle_count(df) <= 4, df._jdf.queryExecution().toString()[:2000]
