#!/usr/bin/env python
"""Similarity search over an embedding corpus: the ANN tier as one
engine script.

    python examples/similarity_search.py [sf_dir]

Over the ``embeddings`` table (``vec_id``, ``label``,
``embedding array<float>``), this runs the retrieval stack a
vector-heavy pipeline ships:

1. brute-force cosine top-k — the exactness baseline (broadcast query
   set, the corpus is scanned once, never shuffled);
2. LSH ANN — multi-table sign-random-projection buckets, candidates
   scored exactly; recall measured inline against the baseline;
3. IVF ANN — deterministic sampled-init + one-Lloyd-step codebook,
   inverted-list probes; recall measured inline;
4. blocked exact kNN graph — the all-pairs primitive with the salted
   sub-block skew guard;
5. nearest-centroid assignment — vector quantization against the
   per-label centroids;
6. product quantization — PQ encode (8x16 deterministic
   sub-codebooks), the flat ADC scan, and the IVF-PQ composition
   (coarse-cell pruning + ADC over codes), each with inline recall
   against the baseline (unit-norm corpus, so L2 == cosine ranking);
7. integer PageRank over the kNN graph — hub scoring — then the
   graph-analytics companions: the degree-ordered triangle census,
   the k-core peel of the mutual kNN graph, and the navigable-graph
   beam search judged against the brute-force baseline;
8. embedding near-dup pairs — the cosine dedup path on its salted
   block join, plus the MinHash bucket-stats pre-flight on the
   documents table (the "no silent caps" report);
9. in-batch hard-negative mining — per-anchor top-k cross-label
   cosine inside fixed-size deterministic batches, the triplet/
   InfoNCE mining step a contrastive-training pipeline feeds on.

Everything is lazy DataFrame composition; the one materialization is
the LSH bucket index (the production shape: a real pipeline persists
its sketch index).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from covid_engineering_spark.operators.dedup import (
    embedding_pairs,
    lsh_bucket_stats,
)
from covid_engineering_spark.operators.similarity import (
    PQ_M,
    SEMDEDUP_TAU,
    assign_nearest_centroid,
    deterministic_codebook,
    graph_greedy_search,
    hard_negatives,
    ivf_topk,
    ivfpq_topk,
    kcore,
    knn_graph,
    pagerank,
    triangle_count,
    pq_adc_topk,
    pq_codes,
    q_ann_cosine_topk,
    q_ann_lsh_topk,
    semdedup,
)
from covid_engineering_spark.session import get_spark
from covid_engineering_spark.sources import read_table


def _pairs(rows) -> set:
    return {(r["q_id"], r["n_id"]) for r in rows}


def main(sf_dir: str = "/root/testdata/sf0.001") -> None:
    spark = get_spark(app_name="similarity-search")
    spark.sparkContext.setLogLevel("ERROR")

    emb = read_table(spark, sf_dir, "embeddings")
    n_vecs = emb.count()

    # 1. exactness baseline
    brute = _pairs(q_ann_cosine_topk(spark, sf_dir).collect())
    print(f"brute-force top-5 neighbors for 8 queries over {n_vecs} vectors: {len(brute)} pairs")

    # 2-3. the two approximate indexes, recall measured on the spot
    lsh = _pairs(q_ann_lsh_topk(spark, sf_dir).collect())
    print(f"lsh ann recall vs brute force: {len(lsh & brute) / len(brute):.3f}")
    ivf = _pairs(ivf_topk(emb, deterministic_codebook(emb)).collect())
    print(f"ivf ann recall vs brute force: {len(ivf & brute) / len(brute):.3f}")

    # 3b. the same probe budget over the TRAINED codebook (iterated
    # Lloyd): train longer, index better — measured on the spot
    from covid_engineering_spark.operators.similarity import (
        kmeans_centroids,
    )

    ivf_km = _pairs(ivf_topk(emb, kmeans_centroids(emb)).collect())
    print(
        f"ivf ann recall with 3-round k-means codebook: "
        f"{len(ivf_km & brute) / len(brute):.3f}"
    )

    # 4. blocked exact kNN graph (salted skew guard inside)
    graph = knn_graph(emb)
    n_edges = graph.count()
    n_blocks = emb.select("label").distinct().count()
    print(f"knn graph: {n_edges} edges across {n_blocks} label blocks")

    # 5. vector quantization against per-label centroids
    assigned = assign_nearest_centroid(emb)
    agree = assigned.filter("vec_id >= 0").count()
    print(f"nearest-centroid assignment: {agree} vectors quantized")

    # 6. the compressed tier: PQ encode, flat ADC scan, and the
    # IVF-PQ composition (coarse-cell pruning + ADC). The corpus is
    # unit-norm, so L2 ranking == cosine ranking and ADC recall is
    # measured against the same brute-force baseline.
    n_codes = pq_codes(emb).count()
    print(f"pq codes: {n_codes} ({n_vecs} vectors x {PQ_M} subspaces)")
    adc = _pairs(pq_adc_topk(emb).collect())
    print(f"flat adc recall vs brute force: {len(adc & brute) / len(brute):.3f}")
    ivfpq = _pairs(ivfpq_topk(emb).collect())
    print(f"ivf-pq recall vs brute force: {len(ivfpq & brute) / len(brute):.3f}")

    # 7. hub scoring over the kNN graph (integer PageRank)
    ranks = pagerank(graph.select("src_id", "n_id"))
    n_nodes = ranks.count()
    mass = ranks.agg({"rank": "sum"}).head()[0]
    print(f"pagerank: {n_nodes} nodes, total mass {mass}")

    # 7b. the graph-analytics companions: triangle census (tight
    # semantic clusters vs bridging hubs), k-core peel of the MUTUAL
    # kNN graph (the dense-community gate), and the navigable-graph
    # beam search judged against brute force
    tri = triangle_count(graph.select("src_id", "n_id"))
    n_closed = tri.filter("n_triangles > 0").count()
    print(f"triangle census: {n_closed} of {n_nodes} vertices close a triangle")
    peel = kcore(
        graph.select("src_id", "n_id").join(
            graph.select(
                graph.n_id.alias("src_id"), graph.src_id.alias("n_id")
            ),
            ["src_id", "n_id"],
            "left_semi",
        )
    )
    n_core = peel.filter("in_core").count()
    n_peeled = peel.filter("NOT in_core").count()
    print(f"k-core peel (mutual knn): {n_core} in core, {n_peeled} peeled")
    walk = graph_greedy_search(emb).collect()
    found_at_k = sum(r["hit"] for r in walk)
    print(
        f"graph beam search: {found_at_k} of {len(walk)} queries land "
        "in the exact top-5"
    )

    # 8. cosine near-dup pairs + the bucket-cap pre-flight
    dups = embedding_pairs(emb, threshold=0.4).count()
    print(f"embedding near-dup pairs at cosine >= 0.4: {dups}")
    # 8b. SemDeDup-style semantic pruning: one survivor per
    # epsilon-ball inside each nearest-centroid cell
    sd = semdedup(emb)
    n_kept = sd.filter("kept").count()
    n_cells = sd.select("cell").distinct().count()
    print(
        f"semdedup at cosine >= {SEMDEDUP_TAU}: "
        f"{n_kept} of {n_vecs} kept across {n_cells} cells"
    )
    # 9. hard negatives: near-in-cosine, different-label rows per
    # anchor — what a contrastive trainer samples against
    hn = hard_negatives(emb)
    n_mined = hn.count()
    n_anchors = hn.select("src_id").distinct().count()
    print(f"hard negatives: {n_mined} mined for {n_anchors} anchors")

    # 10. the scalar-quantized tier: int8 encode with its loss as a
    # queryable column, and the registered recall@k evaluation (the
    # same exact-vs-IVF overlap step 3 measured, as an engine query)
    from covid_engineering_spark.operators.similarity import (
        recall_eval,
        sq8_encode,
    )
    from pyspark.sql import functions as F

    sq = sq8_encode(emb).agg(
        F.count("*").alias("n"), F.sum("err_micro").alias("err")
    ).first()
    print(
        f"sq8: {sq['n']} vectors encoded, "
        f"mean reconstruction error {sq['err'] // sq['n']} micro"
    )
    rec = recall_eval(emb).agg(F.avg("recall_at_k").alias("r")).first()["r"]
    print(f"registered recall@5 query (ivf vs exact): {rec:.3f}")

    # 11. the binary tier: 1-bit sign quantization (two BIGINT words
    # per vector) with XOR+popcount Hamming ranking — the cheapest
    # first-stage filter — and the LSH radius query (every neighbor
    # within cosine tau, not a fixed k)
    from covid_engineering_spark.operators.similarity import (
        RANGE_TAU,
        hamming_topk,
        range_search,
    )

    bq = _pairs(hamming_topk(emb).collect())
    print(f"hamming-bq recall vs brute force: {len(bq & brute) / len(brute):.3f}")
    rs = range_search(emb)
    n_in_ball = rs.count()
    n_covered = rs.select("q_id").distinct().count()
    print(
        f"range search at cosine >= {RANGE_TAU}: {n_in_ball} neighbors "
        f"across {n_covered} of 8 queries"
    )

    # 12. Matryoshka truncation: how much recall a 16-of-64-dim
    # prefix scan (4x cheaper) costs vs full-width ground truth
    from covid_engineering_spark.operators.similarity import (
        MRL_DIM,
        mrl_recall,
    )

    mrl = mrl_recall(emb).agg(F.avg("recall_at_k").alias("r")).first()["r"]
    print(f"mrl prefix recall @ {MRL_DIM}/64 dims: {mrl:.3f}")

    # 13. two-stage serving: ADC shortlist (codes only) -> exact
    # re-rank of |Q|*25 float candidates — the production shape; the
    # exact stage recovers most of what compression lost
    from covid_engineering_spark.operators.similarity import rerank_topk

    rr = _pairs(rerank_topk(emb).collect())
    print(
        f"two-stage rerank recall vs brute force: "
        f"{len(rr & brute) / len(brute):.3f}"
    )

    # 14. community structure + hygiene over the same kNN graph:
    # LPA communities (what k-core's density gate doesn't name) and
    # the per-label outlier z-gate
    from covid_engineering_spark.operators.similarity import (
        embedding_outliers,
        label_propagation,
    )

    comm = label_propagation(knn_graph(emb).select("src_id", "n_id"))
    n_comm = comm.select("community").distinct().count()
    big = comm.agg(F.max("community_size")).first()[0]
    print(f"lpa communities: {n_comm} (largest {big} vectors)")
    outl = embedding_outliers(emb)
    print(
        f"centroid-distance outliers: "
        f"{outl.filter('is_outlier').count()}/{outl.count()} flagged"
    )

    docs = read_table(spark, sf_dir, "documents")
    stats = lsh_bucket_stats(docs).head()
    print(
        "minhash bucket pre-flight: "
        f"{stats['n_buckets']} buckets, max membership {stats['max_bucket']}, "
        f"{stats['capped_buckets']} over the cap"
    )


if __name__ == "__main__":
    main(*sys.argv[1:])
