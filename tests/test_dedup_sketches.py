"""Sketch-based dedup quality: the probabilistic paths measured
against their exact counterparts (the claim in operators/dedup.py,
made checkable).

* MinHash+LSH: precision is 1.0 by construction (candidates are
  verified with exact Jaccard); recall against the exact shingle
  self-join is measured and pinned.
* SimHash: the 8-bit-chunk candidate generation is *complete* for
  hamming <= 3 by pigeonhole (4 chunks, at most 3 differing bits ->
  some chunk equal), so the output must exactly equal a brute-force
  all-pairs hamming scan over the signatures.
"""

import pytest

from pyspark.sql import functions as F

from covid_engineering_spark.operators.dedup import (
    SIMHASH_MAX_HAMMING,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
)
from covid_engineering_spark.sources import read_table

from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def docs(spark):
    return read_table(spark, SF_SMOKE, "documents").cache()


def test_minhash_lsh_precision_and_recall(spark, docs):
    # max_df=None: the sketch is verified against the UNGUARDED exact
    # path (the stop-shingle guard is a production fan-out bound, not
    # part of the similarity definition).
    exact = {
        (r.d1, r.d2): r.jaccard
        for r in ngram_jaccard_pairs(docs, max_df=None).collect()
    }
    lsh = {(r.d1, r.d2): r.jaccard for r in minhash_lsh_pairs(docs).collect()}
    assert exact, "fixture data must contain near-duplicates"
    # precision 1.0: every emitted pair is exact-verified >= tau, with
    # the same jaccard the exact path computes.
    for pair, j in lsh.items():
        assert pair in exact and exact[pair] == j
    # recall floor: 16 hashes / 4 bands catches the high-similarity
    # pairs synthetic dup injection produces (measured 1.0 at sf0.001
    # and sf0.01; floor left slack for data regeneration).
    recall = len(set(lsh) & set(exact)) / len(exact)
    assert recall >= 0.8, recall


def test_simhash_equals_bruteforce_hamming(spark, docs):
    out = {(r.d1, r.d2): r.hamming for r in simhash_pairs(docs).collect()}

    # Recompute signatures once, brute-force all pairs driver-side.
    from covid_engineering_spark.operators.dedup import (
        SIMHASH_BITS,
        portable_hash64,
    )

    sigs = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
        .groupBy("doc_id", "w")
        .agg(F.count("*").alias("cnt"))
        .withColumn("h", portable_hash64(F.col("w"), 0))
        .groupBy("doc_id")
        .agg(
            *[
                F.sum(
                    F.when(
                        F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1,
                        F.col("cnt"),
                    ).otherwise(-F.col("cnt"))
                ).alias(f"b{i}")
                for i in range(SIMHASH_BITS)
            ]
        )
        .collect()
    )
    sig_of = {}
    for r in sigs:
        v = 0
        for i in range(SIMHASH_BITS):
            if r[f"b{i}"] > 0:
                v |= 1 << i
        sig_of[r.doc_id] = v
    ids = sorted(sig_of)
    want = {}
    for i, d1 in enumerate(ids):
        for d2 in ids[i + 1 :]:
            ham = bin(sig_of[d1] ^ sig_of[d2]).count("1")
            if ham <= SIMHASH_MAX_HAMMING:
                want[(d1, d2)] = ham
    assert out == want


def _candidate_pairs(sh):
    """Distinct (d1, d2) pairs sharing >= 1 shingle — the join fan-out
    the stop-shingle guard exists to bound."""
    a, b = sh.alias("a"), sh.alias("b")
    return (
        a.join(
            b,
            (F.col("a.s") == F.col("b.s"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
        .distinct()
    )


def test_stop_shingle_guard_bounds_candidates_and_keeps_real_dups(spark):
    """A pathological corpus: one boilerplate shingle shared by ALL
    docs (think license headers) plus two genuine near-dup pairs. The
    guard must collapse the quadratic candidate set while the real
    dups — whose overlap is their own content, df=2 — survive with
    jaccard >= tau.
    """
    from covid_engineering_spark.operators.dedup import shingles_of

    boiler = "all rights reserved worldwide"  # 2 shingles, df = n_docs
    n = 40
    rows = [(i, f"{boiler} unique{i} alpha{i} beta{i} gamma{i} delta{i}") for i in range(n)]
    # two true near-dup pairs: long shared tail, tiny difference
    shared1 = "red orange yellow green blue indigo violet ultraviolet"
    shared2 = "one two three four five six seven eight nine ten"
    rows += [(100, f"{shared1} x"), (101, f"{shared1} y")]
    rows += [(200, f"{shared2} p"), (201, f"{shared2} q")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    sh_all = shingles_of(docs)
    guarded_sh = sh_all.join(
        sh_all.groupBy("s").agg(F.count("*").alias("df")).filter(F.col("df") <= 10).select("s"),
        "s",
    )
    unguarded = _candidate_pairs(sh_all).count()
    guarded = _candidate_pairs(guarded_sh).count()
    # boilerplate alone creates ~n^2/2 candidates; the guard removes them
    assert unguarded >= (n * (n - 1)) // 2
    assert guarded < 3 * n  # linear-ish: only genuine-overlap pairs remain

    out = {
        (r.d1, r.d2): r.jaccard
        for r in ngram_jaccard_pairs(docs, max_df=10).collect()
    }
    assert (100, 101) in out and (200, 201) in out
    # pair recall vs the unguarded path on the NON-boilerplate dups
    full = {
        (r.d1, r.d2)
        for r in ngram_jaccard_pairs(docs, max_df=None).collect()
    }
    assert {(100, 101), (200, 201)} <= full


def test_portable_hash64_matches_duckdb(spark):
    """The registered sketch forms stand on portable_hash64 being
    bit-identical across engines — pin that for ASCII, unicode, empty,
    and multi-seed inputs."""
    import duckdb

    from covid_engineering_spark.operators.dedup import (
        _portable_hash_sql,
        portable_hash64,
    )

    vals = ["hello world", "", "ünïcode tëst", "a b c", "0x1234"]
    df = spark.createDataFrame([(v,) for v in vals], "s string")
    con = duckdb.connect()
    for seed in (0, 7, 15):
        got = [
            r[0]
            for r in df.select(portable_hash64(F.col("s"), seed))
            .collect()
        ]
        want = [
            con.execute(
                f"SELECT {_portable_hash_sql('?', seed)}", [v]
            ).fetchone()[0]
            for v in vals
        ]
        assert got == want, (seed, got, want)
        assert all(v >= 0 for v in got)  # 60-bit: never negative


def test_portable_hash64_matches_duckdb_on_generated_unicode(spark):
    """Property form of the cross-engine pin: arbitrary unicode inputs
    (one Spark job over the whole corpus of examples, not one per
    example) must hash bit-identically in both engines."""
    import duckdb
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from covid_engineering_spark.operators.dedup import (
        _portable_hash_sql,
        portable_hash64,
    )

    con = duckdb.connect()

    @settings(max_examples=5, deadline=None)
    @given(
        vals=st.lists(
            st.text(min_size=0, max_size=40), min_size=1, max_size=25
        )
    )
    def check(vals):
        df = spark.createDataFrame([(v,) for v in vals], "s string")
        got = [
            r[0] for r in df.select(portable_hash64(F.col("s"), 3)).collect()
        ]
        want = [
            con.execute(
                f"SELECT {_portable_hash_sql('?', 3)}", [v]
            ).fetchone()[0]
            for v in vals
        ]
        assert got == want

    check()


def test_mega_bucket_cap_bounds_pairs_and_preserves_connectivity(spark):
    # A cluster of near-identical docs lands whole in one band bucket;
    # the cap must switch it from all-pairs (B²/2 rows in one task) to
    # a doc_id chain (B-1 edges) WITHOUT splitting the cluster that
    # connected-components resolves from the pairs.
    from covid_engineering_spark.operators.dedup import (
        SKETCH_BUCKET_CAP,
        minhash_lsh_pairs,
    )
    from covid_engineering_spark.operators.pipeline import (
        connected_components,
    )

    n = 4 * SKETCH_BUCKET_CAP
    base = " ".join(f"w{i}" for i in range(30))
    docs = spark.range(n).select(
        F.col("id").alias("doc_id"), F.lit(base).alias("text")
    )
    mh = minhash_lsh_pairs(docs)
    mh_rows = mh.count()
    # chain, not clique: linear in the bucket, far under all-pairs
    assert mh_rows == n - 1, mh_rows
    clusters = connected_components(mh)
    assert clusters.select("cluster_id").distinct().count() == 1
    assert clusters.count() == n


def test_small_buckets_still_take_all_pairs(spark):
    # Under the cap nothing changes: k identical docs yield the full
    # k²/2 verified pair set (the pre-cap semantics).
    from covid_engineering_spark.operators.dedup import (
        minhash_lsh_pairs,
    )

    k = 8
    base = " ".join(f"v{i}" for i in range(25))
    docs = spark.range(k).select(
        F.col("id").alias("doc_id"), F.lit(base).alias("text")
    )
    assert minhash_lsh_pairs(docs).count() == k * (k - 1) // 2


def test_embedding_pairs_salted_split_is_exact_and_cartesian_free(spark):
    # Same contract as the knn_graph skew guard: a tiny cap forces
    # every label block into multiple salted sub-blocks; the pair set
    # must be EXACTLY the unsplit one and the plan must stay an
    # equi-join.
    from covid_engineering_spark.operators.dedup import embedding_pairs
    from covid_engineering_spark.plans import has_cartesian

    emb = read_table(spark, SF_SMOKE, "embeddings")
    skewed = emb.withColumn(
        "label",
        F.when(F.col("label") % 4 != 3, F.lit(0)).otherwise(F.col("label")),
    )
    baseline = embedding_pairs(skewed, threshold=0.3, cap=1 << 30)
    salted = embedding_pairs(skewed, threshold=0.3, cap=16)
    assert not has_cartesian(salted)
    key = lambda r: (r["v1"], r["v2"])
    base_rows = sorted(baseline.collect(), key=key)
    salt_rows = sorted(salted.collect(), key=key)
    assert [tuple(r) for r in base_rows] == [tuple(r) for r in salt_rows]
    assert len(base_rows) > 0


def test_lsh_bucket_stats_reports_the_cap(spark, docs):
    # the pre-flight report: zero capped buckets on the normal corpus,
    # a visibly capped mega-bucket on the identical-docs corpus
    from covid_engineering_spark.operators.dedup import (
        SKETCH_BUCKET_CAP,
        lsh_bucket_stats,
    )

    normal = lsh_bucket_stats(docs).head()
    assert normal["capped_buckets"] == 0
    assert normal["max_bucket"] <= SKETCH_BUCKET_CAP

    n = 3 * SKETCH_BUCKET_CAP
    base = " ".join(f"w{i}" for i in range(30))
    mega = spark.range(n).select(
        F.col("id").alias("doc_id"), F.lit(base).alias("text")
    )
    row = lsh_bucket_stats(mega).head()
    # all 4 bands collapse to one bucket each, every doc inside
    assert row["capped_buckets"] == 4
    assert row["max_bucket"] == n
    assert row["docs_in_capped_buckets"] == 4 * n
