"""ANN quality: both approximate paths (LSH buckets, IVF inverted
lists) measured against the brute-force cosine top-k on the same data.
The synthetic embeddings are near-uniform — the hardest case for any
space-partitioning index — so the floors are conservative; the point
is a *measured, regression-guarded* recall, not a benchmark number.
"""

import pytest

from covid_engineering_spark.operators.similarity import (
    q_ann_cosine_topk,
    q_ann_ivf_topk,
    q_ann_lsh_topk,
)

from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def brute_force(spark):
    return {
        (r.q_id, r.n_id): r.cosine
        for r in q_ann_cosine_topk(spark, SF_SMOKE).collect()
    }


def _check(approx_rows, brute_force, floor):
    approx = {(r.q_id, r.n_id): r.cosine for r in approx_rows}
    # every approximate hit carries the true cosine (scores are exact,
    # only candidate generation is approximate)
    for pair, c in approx.items():
        if pair in brute_force:
            assert brute_force[pair] == c
    recall = len(set(approx) & set(brute_force)) / len(brute_force)
    assert recall >= floor, recall
    return recall


def test_lsh_recall(spark, brute_force):
    _check(q_ann_lsh_topk(spark, SF_SMOKE).collect(), brute_force, 0.3)


def test_ivf_recall(spark, brute_force):
    _check(q_ann_ivf_topk(spark, SF_SMOKE).collect(), brute_force, 0.5)


def test_ivf_probes_bound_the_scan(spark):
    # every query scores at most N_PROBE of N_CENTROIDS lists: the
    # candidate set must be well under the full corpus per query.
    from covid_engineering_spark.operators.similarity import (
        N_CENTROIDS,
        N_PROBE,
        N_QUERIES,
        TOP_K,
    )

    out = q_ann_ivf_topk(spark, SF_SMOKE)
    assert out.count() <= N_QUERIES * TOP_K
    assert N_PROBE < N_CENTROIDS


def test_kmeans_codebook_beats_or_matches_stride(spark, brute_force):
    # The iterated k-means codebook must not lose to the naive stride
    # baseline (every (n//K)-th vector) at the SAME probe budget.
    from pyspark.sql import functions as F

    from covid_engineering_spark.operators.similarity import (
        N_CENTROIDS,
        ivf_topk,
        kmeans_centroids,
    )
    from covid_engineering_spark.sources import read_table

    emb = read_table(spark, SF_SMOKE, "embeddings").cache()
    stride = emb.agg(F.max("vec_id")).head()[0] // N_CENTROIDS + 1
    stride_cent = emb.filter(F.col("vec_id") % stride == 0).select(
        (F.col("vec_id") / stride).cast("int").alias("c_id"),
        F.col("embedding").cast("array<double>").alias("c_emb"),
    )
    learned = _check(ivf_topk(emb, kmeans_centroids(emb)).collect(), brute_force, 0.0)
    baseline = _check(ivf_topk(emb, stride_cent).collect(), brute_force, 0.0)
    assert learned >= baseline, (learned, baseline)


def test_knn_graph_blocked_exact_and_symmetric_candidates(spark):
    from pyspark.sql import functions as F

    from covid_engineering_spark.operators.similarity import KNN_K, knn_graph
    from covid_engineering_spark.sources import read_table

    emb = read_table(spark, SF_SMOKE, "embeddings").cache()
    rows = knn_graph(emb).collect()
    labels = {r["vec_id"]: r["label"] for r in emb.select("vec_id", "label").collect()}
    by_src: dict = {}
    for r in rows:
        # neighbors never cross the block, never self-match
        assert labels[r["src_id"]] == r["label"] == labels[r["n_id"]]
        assert r["src_id"] != r["n_id"]
        assert 1 <= r["rank"] <= KNN_K
        by_src.setdefault(r["src_id"], []).append(r)
    # every vector whose block has >= 2 members appears as a source,
    # with min(block_size - 1, k) neighbors, ranked by descending cosine
    sizes: dict = {}
    for lbl in labels.values():
        sizes[lbl] = sizes.get(lbl, 0) + 1
    for vid, lbl in labels.items():
        expect = min(sizes[lbl] - 1, KNN_K)
        got = sorted(by_src.get(vid, []), key=lambda r: r["rank"])
        assert len(got) == expect, (vid, expect, len(got))
        cosines = [r["cosine"] for r in got]
        assert cosines == sorted(cosines, reverse=True)


def test_knn_graph_salted_split_is_exact_and_cartesian_free(spark):
    # The skew guard: a tiny cap forces every block into multiple
    # salted sub-blocks. The graph must be EXACTLY the unsplit one
    # (salting changes execution, never results), and the plan must
    # stay an equi-join — no cartesian product from the salting.
    from covid_engineering_spark.operators.similarity import knn_graph
    from covid_engineering_spark.sources import read_table

    emb = read_table(spark, SF_SMOKE, "embeddings")
    # one dominant block: collapse 3/4 of the labels onto label 0
    from pyspark.sql import functions as F

    skewed = emb.withColumn(
        "label",
        F.when(F.col("label") % 4 != 3, F.lit(0)).otherwise(F.col("label")),
    )
    baseline = knn_graph(skewed, cap=1 << 30)
    salted = knn_graph(skewed, cap=16)
    plan = salted._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    # the top-k merge must be partial-then-final: Catalyst's partial
    # WindowGroupLimit bounds what each join task ships to the rank
    assert "row_number(), 5, Partial" in plan, plan[:2000]
    key = lambda r: (r["src_id"], r["rank"])
    base_rows = sorted(baseline.collect(), key=key)
    salt_rows = sorted(salted.collect(), key=key)
    assert [tuple(r) for r in base_rows] == [tuple(r) for r in salt_rows]
    assert len(base_rows) > 0
    # bounded task evidence: replay the salting arithmetic and check
    # no (block, salt) cell holds more than ~cap rows (hash-variance
    # slack 3x) — i.e. the dominant block really was split and every
    # join task's pair count is ~cap^2, not block^2
    cap = 16
    sizes = skewed.groupBy(F.col("label").alias("blk")).agg(
        F.ceil(F.count("*") / F.lit(cap)).cast("int").alias("n_sub")
    )
    cell_max = (
        skewed.join(sizes, F.col("label") == F.col("blk"))
        .groupBy(
            "label", F.pmod(F.xxhash64("vec_id"), F.col("n_sub")).alias("s")
        )
        .count()
        .agg(F.max("count"))
        .head()[0]
    )
    dominant = skewed.groupBy("label").count().agg(F.max("count")).head()[0]
    assert dominant > 10 * cap  # the skew is real
    assert cell_max <= 3 * cap, cell_max


def test_semdedup_keeps_cell_minima_and_splits_nontrivially(spark):
    from covid_engineering_spark.operators.similarity import semdedup
    from covid_engineering_spark.sources import read_table

    emb = read_table(spark, SF_SMOKE, "embeddings")
    rows = semdedup(emb).collect()
    # whole-corpus keep-list: one row per vector
    assert len(rows) == emb.count()
    kept = [r for r in rows if r["kept"]]
    dropped = [r for r in rows if not r["kept"]]
    assert kept and dropped  # both populations live on the synthetic data
    # the lowest id of every cell has no lower-id cell-mate to dominate
    # it, so it must always survive
    import collections

    min_per_cell = {}
    for r in rows:
        c = min_per_cell.setdefault(r["cell"], r)
        if r["vec_id"] < c["vec_id"]:
            min_per_cell[r["cell"]] = r
    assert all(r["kept"] for r in min_per_cell.values())
    # every cell emits at least its survivor
    per_cell_kept = collections.Counter(r["cell"] for r in kept)
    assert set(per_cell_kept) == {r["cell"] for r in rows}


def test_semdedup_is_invariant_to_the_salt_split(spark):
    from covid_engineering_spark.operators.similarity import semdedup
    from covid_engineering_spark.sources import read_table

    emb = read_table(spark, SF_SMOKE, "embeddings")
    base = {(r["vec_id"], r["cell"], r["kept"]) for r in semdedup(emb).collect()}
    # a tiny cap forces many sub-blocks per cell; the epsilon-ball
    # domination result must be bit-identical (every pair meets in
    # exactly one grid cell)
    split = {
        (r["vec_id"], r["cell"], r["kept"])
        for r in semdedup(emb, cap=16).collect()
    }
    assert base == split


def test_hard_negatives_excludes_own_label_and_ranks_contiguously(spark):
    import collections
    import math

    from covid_engineering_spark.operators.similarity import (
        HN_BATCH_CAP,
        HN_K,
        hard_negatives,
    )
    from covid_engineering_spark.sources import read_table

    emb = read_table(spark, SF_SMOKE, "embeddings")
    labels = {r["vec_id"]: r["label"] for r in emb.select("vec_id", "label").collect()}
    n_batch = math.ceil(len(labels) / HN_BATCH_CAP)
    rows = hard_negatives(emb).collect()
    assert rows
    by_src = collections.defaultdict(list)
    for r in rows:
        # a negative is never the anchor's own class, and both label
        # columns faithfully echo the corpus
        assert r["src_label"] != r["neg_label"]
        assert labels[r["src_id"]] == r["src_label"]
        assert labels[r["neg_id"]] == r["neg_label"]
        # mining is strictly in-batch
        assert r["src_id"] % n_batch == r["neg_id"] % n_batch
        by_src[r["src_id"]].append(r)
    for src, rs in by_src.items():
        rs.sort(key=lambda r: r["rank"])
        assert [r["rank"] for r in rs] == list(range(1, len(rs) + 1))
        assert len(rs) <= HN_K
        cosines = [r["cosine"] for r in rs]
        assert cosines == sorted(cosines, reverse=True)


def test_hard_negatives_is_invariant_to_the_salt_split(spark):
    from covid_engineering_spark.operators.similarity import hard_negatives
    from covid_engineering_spark.sources import read_table

    emb = read_table(spark, SF_SMOKE, "embeddings")
    key = lambda r: (r["src_id"], r["neg_id"], r["cosine"], r["rank"])  # noqa: E731
    base = sorted(map(key, hard_negatives(emb, batch_cap=500).collect()))
    # same batch layout, but a tiny salt cap forces each batch into
    # many sub-block grid cells; the mined set must be bit-identical
    # (every pair meets in exactly one cell)
    split = sorted(
        map(key, hard_negatives(emb, batch_cap=500, salt_cap=16).collect())
    )
    assert base == split
