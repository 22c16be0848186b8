"""Library operators: semantic pins beyond the oracle differential.

- substring_strip — the removal half of ExactSubstr (Lee et al. 2022
  §4.1): per document the text with every merged duplicated span
  excised, plus token accounting. Registered as
  ``dedup_substring_strip`` with a generated DuckDB twin that replays
  the span chain + positional token anti-join + ordered string_agg.
- substring_strip -> curate_corpus — the funnel composition: span
  stripping composed before normalize/dedup/cluster/split.
"""

from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


# --- dedup_substring_strip: ExactSubstr span removal ----------------


def _hand_corpus(spark):
    shared = " ".join(f"s{i}" for i in range(10))
    rep = " ".join(f"r{i}" for i in range(8))
    dup12 = " ".join(f"d{i}" for i in range(12))
    rows = [
        (1, f"{shared} a1 a2 a3 a4 a5"),
        (2, f"b1 b2 b3 {shared}"),
        (3, f"{rep} c1 c2 c3 {rep}"),
        (4, "u1 u2 u3 u4 u5 u6 u7 u8 u9 u10"),  # unique
        (5, "t1 t2 t3"),  # shorter than k
        (6, None),  # NULL payload
        (7, dup12),  # whole-doc duplicate pair:
        (8, dup12),  # everything stripped, '' survives
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_substring_strip_hand_corpus(spark):
    """Removal semantics pinned by hand: the shared 10-token run
    vanishes from BOTH docs (strip-every-occurrence), the in-document
    repeat loses both islands, clean docs pass through byte-identical,
    a fully-duplicated doc strips to the EMPTY string (not NULL), and
    a NULL payload propagates NULL text with zero removed count."""
    from covid_engineering_spark.operators.dedup import substring_strip

    out = {
        r["doc_id"]: r
        for r in substring_strip(_hand_corpus(spark)).collect()
    }
    assert out[1]["stripped_text"] == "a1 a2 a3 a4 a5"
    assert (out[1]["n_tokens"], out[1]["kept_tokens"],
            out[1]["removed_tokens"]) == (15, 5, 10)
    assert out[2]["stripped_text"] == "b1 b2 b3"
    assert out[2]["removed_tokens"] == 10
    assert out[3]["stripped_text"] == "c1 c2 c3"
    assert (out[3]["kept_tokens"], out[3]["removed_tokens"]) == (3, 16)
    assert out[4]["stripped_text"] == "u1 u2 u3 u4 u5 u6 u7 u8 u9 u10"
    assert out[4]["removed_tokens"] == 0
    assert out[5]["stripped_text"] == "t1 t2 t3"
    for d in (7, 8):  # whole-doc dup: all 12 tokens go, '' remains
        assert out[d]["stripped_text"] == ""
        assert (out[d]["kept_tokens"], out[d]["removed_tokens"]) == (0, 12)
    assert out[6]["stripped_text"] is None
    assert out[6]["n_tokens"] is None
    assert out[6]["kept_tokens"] is None
    assert out[6]["removed_tokens"] == 0


def test_substring_strip_accounting_invariant(spark):
    """kept + removed == n_tokens on every doc with a payload — the
    audit identity a curator reconciles removal reports against."""
    from covid_engineering_spark.queries import registry

    bad = (
        registry()["dedup_substring_strip"](spark, SF_SMOKE)
        .filter(
            F.col("n_tokens").isNotNull()
            & (
                F.col("kept_tokens") + F.col("removed_tokens")
                != F.col("n_tokens")
            )
        )
        .count()
    )
    assert bad == 0


def test_substring_strip_plan_shape(spark):
    """No cartesian anywhere; the token excision is a higher-order
    expression over the joined frame — the only explode in the plan
    is the span frame's gram explode, derived ONCE (the positional
    gram frame is cached, so the
    dup-set branch and the position branch read the same cache
    instead of each re-deriving the explode), and never a token-level
    explode for the strip itself."""
    from covid_engineering_spark.plans import simple_plan
    from covid_engineering_spark.queries import registry
    from tests.test_plans import has_cartesian

    df = registry()["dedup_substring_strip"](spark, SF_SMOKE)
    assert not has_cartesian(df)
    plan = simple_plan(df)
    # The positional gram frame is
    # cached, so the consumers read InMemoryTableScan and the ONE
    # gram posexplode lives in the cache-build subplan (which the
    # plan string may print once per consuming scan — counting
    # occurrences is print-layout, not execution). The invariant:
    # every Generate in the plan IS the gram builder (posexplode of
    # the concat_ws k-gram transform), and there is no plain explode
    # — i.e. no token-level explode for the strip itself.
    assert "InMemoryTableScan" in plan, plan
    assert "Generate explode(" not in plan, plan
    for line in plan.splitlines():
        if "Generate posexplode" in line:
            assert "concat_ws" in line, line


# --- pipe_near_dup_incremental_lsh: standing-index incremental -------


def test_near_dup_lsh_recall_vs_exact_form(spark):
    """The LSH path must find (nearly) every pair the exact
    batch x corpus Jaccard finds — the measured recall trade, same
    discipline as dedup_minhash_lsh vs dedup_ngram_jaccard. Pinned at
    >= 0.9 on the fixture (currently 13/14: one pair below the
    banding detection probability) with zero spurious extras below
    the verification threshold."""
    from covid_engineering_spark.queries import registry

    lsh = {
        (r["d_batch"], r["d_corpus"])
        for r in registry()["pipe_near_dup_incremental_lsh"](
            spark, SF_SMOKE
        ).collect()
    }
    exact = {
        (r["d_batch"], r["d_corpus"])
        for r in registry()["pipe_near_dup_incremental"](
            spark, SF_SMOKE
        ).collect()
    }
    assert len(exact) > 0
    assert len(lsh & exact) / len(exact) >= 0.9
    # every LSH pair is exact-Jaccard VERIFIED in-plan, so the sketch
    # can introduce no false positives past tau: pairs outside the
    # exact set would mean the guard (max_df) suppressed them there,
    # not that the sketch hallucinated similarity. On this fixture
    # there are none.
    assert lsh <= exact


def test_near_dup_lsh_candidates_are_bounded_per_batch_doc(spark):
    """The scale claim: with the corpus bucket membership capped, a
    batch doc meets at most bands * cap corpus docs — assert the
    candidate fan-out bound holds on the fixture through the public
    API (max verified pairs per batch doc <= bands * cap)."""
    from covid_engineering_spark.operators.dedup import (
        MINHASH_BANDS,
        SKETCH_BUCKET_CAP,
    )
    from covid_engineering_spark.queries import registry

    per_batch = (
        registry()["pipe_near_dup_incremental_lsh"](spark, SF_SMOKE)
        .groupBy("d_batch")
        .count()
        .agg(F.max("count"))
        .first()[0]
    )
    assert per_batch <= MINHASH_BANDS * SKETCH_BUCKET_CAP


def test_near_dup_lsh_prebuilt_index_is_identical(spark, tmp_path):
    """The standing index — built once per corpus refresh, persisted,
    reloaded — must yield the EXACT result set of the registered
    in-query derivation, both from the in-memory
    ``build_near_dup_index`` frames and through the
    ``write_near_dup_index`` / ``read_near_dup_index`` parquet
    roundtrip (layout must not change semantics: caps, hash family,
    verification all baked into the index identically)."""
    from covid_engineering_spark.operators.pipeline import (
        build_near_dup_index,
        near_dup_incremental_lsh,
        read_near_dup_index,
        write_near_dup_index,
    )
    from covid_engineering_spark.sources import read_table

    docs = read_table(spark, SF_SMOKE, "documents")
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    batch = docs.filter(F.col("doc_id") % 5 == 0)

    def rows(df):
        return sorted(
            (r["d_batch"], r["d_corpus"], r["jaccard"])
            for r in df.collect()
        )

    derived = rows(near_dup_incremental_lsh(corpus, batch))
    built = build_near_dup_index(corpus)
    assert rows(near_dup_incremental_lsh(None, batch, index=built)) == derived

    path = str(tmp_path / "nd_index")
    write_near_dup_index(corpus, path)
    loaded = read_near_dup_index(spark, path)
    assert rows(near_dup_incremental_lsh(None, batch, index=loaded)) == derived
    assert len(derived) > 0


# --- emb_kmeans_lloyd: iterated deterministic Lloyd ------------------


def test_kmeans_lloyd_inertia_improves_per_round(spark):
    """Lloyd's guarantee, spherical flavor: each round's mean
    assignment score (dot to own centroid) must not decrease —
    the docstring's 'inertia curve flattens by round 3' claim."""
    from covid_engineering_spark.operators.similarity import kmeans_lloyd
    from covid_engineering_spark.sources import read_table

    emb = read_table(spark, SF_SMOKE, "embeddings")
    means = [
        kmeans_lloyd(emb, iters=t).agg(F.avg("cs")).first()[0]
        for t in (1, 2, 3)
    ]
    assert means[0] <= means[1] <= means[2], means
    # and the curve flattens: round 3's gain is smaller than round 2's
    assert (means[2] - means[1]) <= (means[1] - means[0]), means


def test_kmeans_lloyd_covers_every_vector_once(spark):
    """Every non-NULL vector gets exactly one cluster; NULL embeddings
    are excluded (the emb/ann tier convention), never crash the fit."""
    from covid_engineering_spark.queries import registry
    from covid_engineering_spark.sources import read_table

    out = registry()["emb_kmeans_lloyd"](spark, SF_SMOKE)
    n_vec = (
        read_table(spark, SF_SMOKE, "embeddings")
        .filter(F.col("embedding").isNotNull())
        .count()
    )
    assert out.count() == n_vec
    assert out.select("vec_id").distinct().count() == n_vec


def test_kmeans_lloyd_corpus_never_shuffles_for_assignment(spark):
    """The E-step must stay map-side: the only exchanges allowed are
    the M-step cell-mean aggregations (cells x DIM rows), the seed
    draw's K-row TakeOrdered merge, and the tiny codebook collapses —
    never a corpus-sized repartition, and no cartesian."""
    from covid_engineering_spark.plans import simple_plan
    from covid_engineering_spark.queries import registry
    from tests.test_plans import has_cartesian

    df = registry()["emb_kmeans_lloyd"](spark, SF_SMOKE)
    assert not has_cartesian(df)
    plan = simple_plan(df)
    # no exchange partitioned on vec_id (a corpus repartition)
    assert "hashpartitioning(vec_id" not in plan, plan
    # The md5-rank seed draw must plan TakeOrderedAndProject (per-
    # partition top-K + K-row merge, never a global sort). The
    # Lloyd rounds localCheckpoint the ≤k-row codebook (the
    # CC-loop lineage-truncation discipline), so the seed draw lives
    # in the pre-checkpoint round plans, not the registered query's
    # final plan — assert it on the seed frame the rounds consume.
    from covid_engineering_spark.operators.similarity import (
        _kmeans_vectors,
    )
    from covid_engineering_spark.sources import read_table

    e = _kmeans_vectors(read_table(spark, SF_SMOKE, "embeddings"))
    key = F.md5(F.col("vec_id").cast("string"))
    seed_plan = simple_plan(e.orderBy(key, "vec_id").limit(16))
    assert "TakeOrderedAndProject" in seed_plan, seed_plan


# --- ann_ivf_kmeans_topk: IVF over the trained codebook --------------


def test_ivf_kmeans_codebook_recall_beats_one_step(spark):
    """The point of training longer: at the SAME probe budget, the
    iterated codebook's recall@k vs brute force must be >= the
    one-step deterministic codebook's (measured 0.75 vs 0.725 on the
    fixture)."""
    from covid_engineering_spark.operators.similarity import (
        deterministic_codebook,
        ivf_topk,
        kmeans_centroids,
        q_cosine_frame,
    )
    from covid_engineering_spark.sources import read_table

    emb = read_table(spark, SF_SMOKE, "embeddings")

    def recall(cent):
        exact = q_cosine_frame(emb).select(
            F.col("q_id").alias("eq"), F.col("n_id").alias("en")
        )
        approx = ivf_topk(emb, cent).select(
            F.col("q_id").alias("aq"), F.col("n_id").alias("an")
        )
        hits = exact.join(
            approx,
            (F.col("eq") == F.col("aq")) & (F.col("en") == F.col("an")),
            "left_outer",
        )
        return hits.agg((F.count("an") / F.count("*"))).first()[0]

    r_km = recall(kmeans_centroids(emb))
    r_one = recall(deterministic_codebook(emb))
    assert r_km >= r_one, (r_km, r_one)


# --- pipe_contamination_report: graded eval overlap ------------------


def test_contamination_report_grades_consistently_with_the_gate(spark):
    """Internal consistency: exactly the docs the binary gate flags
    (n_shared >= 1) must be non-clean here, every corpus doc must get
    a row, and the fixture must exercise all three bands (a one-band
    report proves nothing)."""
    from covid_engineering_spark.queries import registry

    rows = registry()["pipe_contamination_report"](
        spark, SF_SMOKE
    ).collect()
    gate = {
        r["doc_id"]
        for r in registry()["pipe_decontaminate"](spark, SF_SMOKE).collect()
    }
    flagged = {r["doc_id"] for r in rows if r["band"] != "clean"}
    assert flagged == gate
    bands = {r["band"] for r in rows}
    assert bands == {"clean", "partial", "high"}, bands
    for r in rows:
        if r["n_shingles"] == 0:
            assert r["band"] == "clean" and r["shared_frac"] is None, r


# --- funnel composition ----------------------------------------------


def test_curate_corpus_strip_stage_composes(spark):
    """substring_strip composed before curate_corpus, the way the
    corpus-curation example composes it: boilerplate shared across
    otherwise unrelated docs is excised BEFORE near-dup clustering, so
    the docs no longer cluster together and each survives curation on
    its own content; the plain funnel (no strip) clusters them."""
    from covid_engineering_spark.operators.dedup import substring_strip
    from covid_engineering_spark.operators.pipeline import curate_corpus

    boiler = " ".join(f"x{i}" for i in range(30))  # 30-token boilerplate
    rows = [
        (1, f"{boiler} alpha beta gamma delta", "en", "web", 50),
        (2, f"{boiler} epsilon zeta eta theta", "en", "web", 60),
        (3, "totally unrelated content one two three", "en", "web", 40),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, "
        "n_chars long"
    )
    plain = curate_corpus(docs).collect()
    stripped_docs = docs.drop("text").join(
        substring_strip(docs).select(
            "doc_id", F.col("stripped_text").alias("text")
        ),
        "doc_id",
    )
    stripped = curate_corpus(stripped_docs).collect()
    # without stripping, the 30-token boilerplate dominates the 3-gram
    # Jaccard and docs 1/2 collapse to one cluster survivor
    assert len(plain) == 2
    # with stripping, the boilerplate is gone before clustering — all
    # three docs survive on their own distinct content
    assert len(stripped) == 3


# --- pipe_bloom_decontaminate: Bloom prescreen + exact verify --------


def test_bloom_decontaminate_agrees_with_the_exact_gate(spark):
    """The Bloom prescreen must be LOSSLESS on true positives: per
    document, n_exact must equal the binary gate's n_shared (a Bloom
    filter has no false negatives by construction — a miss here means
    the probe hash family diverged from the build side), the verdict
    set must equal the gate's doc set, and the fixture must exercise
    actual false positives (a 0-FP run proves the prescreen vacuous or
    the filter oversized)."""
    from covid_engineering_spark.queries import registry

    rows = registry()["pipe_bloom_decontaminate"](
        spark, SF_SMOKE
    ).collect()
    gate = {
        r["doc_id"]: r["n_shared"]
        for r in registry()["pipe_decontaminate"](spark, SF_SMOKE).collect()
    }
    flagged = {r["doc_id"]: r["n_exact"] for r in rows if r["contaminated"]}
    assert flagged == gate
    for r in rows:
        assert r["n_prescreen"] >= r["n_exact"], r
        assert r["n_false_pos"] == r["n_prescreen"] - r["n_exact"], r
    assert sum(r["n_false_pos"] for r in rows) > 0


def test_bloom_decontaminate_plan_shape(spark):
    """The scale contract: the k bit-membership probes are BROADCAST
    joins (the set-bit frame is <= m rows at ANY eval-suite size), and
    no cartesian appears anywhere."""
    from covid_engineering_spark.operators.pipeline import BLOOM_K
    from covid_engineering_spark.queries import registry
    from tests.test_plans import broadcast_join_count, has_cartesian

    df = registry()["pipe_bloom_decontaminate"](spark, SF_SMOKE)
    assert not has_cartesian(df)
    # k bit probes + the exact-verify join all ride broadcast at
    # fixture scale; the bit probes are broadcast BY CONSTRUCTION
    # (explicit F.broadcast), so the count is at least k
    assert broadcast_join_count(df) >= BLOOM_K


# --- graph_triangle_count: degree-ordered triangle census ------------


def test_triangle_count_hand_graph(spark):
    """Semantics pinned by hand: K4 on {1,2,3,4} (every vertex closes
    C(3,2)=3 triangles, clustering 1.0), a pendant vertex 5 (degree 1,
    zero triangles, NULL clustering), an open wedge 6-7-8 (zero
    triangles, clustering 0.0 at the center), and edge direction /
    duplication in the input must not matter (the same undirected edge
    arrives once per direction)."""
    from covid_engineering_spark.operators.similarity import (
        triangle_count,
    )

    k4 = [(a, b) for a in (1, 2, 3, 4) for b in (1, 2, 3, 4) if a != b]
    extra = [(4, 5), (6, 7), (8, 7)]  # pendant + open wedge
    edges = spark.createDataFrame(
        k4 + extra, "src_id long, n_id long"
    )
    got = {
        r["vec_id"]: (r["degree"], r["n_triangles"], r["clustering"])
        for r in triangle_count(edges).collect()
    }
    assert got[1] == (3, 3, 1.0)
    assert got[2] == (3, 3, 1.0)
    assert got[3] == (3, 3, 1.0)
    assert got[4] == (4, 3, 0.5)  # K4 corner + pendant edge
    assert got[5] == (1, 0, None)
    assert got[6] == (1, 0, None)
    assert got[7] == (2, 0, 0.0)  # open wedge center
    assert got[8] == (1, 0, None)


def test_triangle_count_plan_shape(spark):
    """No cartesian product anywhere: orientation, wedge join, and the
    closure check are all equi-joins on vertex ids."""
    from covid_engineering_spark.queries import registry
    from tests.test_plans import has_cartesian

    df = registry()["graph_triangle_count"](spark, SF_SMOKE)
    assert not has_cartesian(df)


# --- text_entropy: char-level Shannon entropy ------------------------


def test_text_entropy_hand_values(spark):
    """Entropy semantics pinned by hand in nat-micro-units: a
    single-character run scores exactly 0, a two-char 50/50 doc scores
    ln(2) = 693147 micros, a uniform 4-char doc ln(4) = 1386294, NULL
    and empty text report 0 chars / NULL entropy, and an astral-plane
    code point counts as ONE character (the split-parity contract)."""
    from covid_engineering_spark.operators.text import char_entropy

    rows = [
        (1, "aaaa"),
        (2, "ab"),
        (3, "abcd"),
        (4, None),
        (5, ""),
        (6, "\U0001d11e"),  # single astral-plane char
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (
            r["n_chars"], r["n_distinct_chars"], r["entropy_nat_micros"]
        )
        for r in char_entropy(docs).collect()
    }
    assert got[1] == (4, 1, 0)
    assert got[2] == (2, 2, 693147)
    assert got[3] == (4, 4, 1386294)
    assert got[4] == (0, 0, None)
    assert got[5] == (0, 0, None)
    assert got[6] == (1, 1, 0)


def test_text_entropy_separates_gibberish_from_padding(spark):
    """The gate signal: a near-uniform random-alphabet doc must score
    far above a repeated-token doc of the same length."""
    from covid_engineering_spark.operators.text import char_entropy

    import string

    alphabet = string.ascii_lowercase
    gibberish = "".join(
        alphabet[(7 * i) % 26] for i in range(260)
    )  # every letter 10x — uniform over 26 symbols
    padding = "ha " * 86  # 3-symbol alphabet, heavily repeated
    docs = spark.createDataFrame(
        [(1, gibberish), (2, padding)], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: r["entropy_nat_micros"]
        for r in char_entropy(docs).collect()
    }
    assert got[1] > 3_000_000  # ln(26) ~ 3.258 nats
    assert got[2] < 1_200_000  # 3-symbol ceiling is ln(3) ~ 1.099
    assert got[1] > 2 * got[2]


# --- emb_pca_power: top principal component by power iteration -------


def test_pca_power_recovers_a_planted_component(spark):
    """Semantics: on a corpus that is (signal · u + tiny jitter) for a
    planted unit direction u, three power rounds must align the
    loading with u (|<loading, u>| ~ 1) and attribute nearly all
    variance to it."""
    from covid_engineering_spark.operators.similarity import (
        DIM,
        pca_power,
    )

    u = [0.0] * DIM
    u[0], u[1] = 0.6, 0.8
    rows = []
    for i in range(40):
        s = (i % 5) - 2  # signal in {-2,-1,0,1,2}
        vec = [
            s * u[j] + ((i * 7 + j * 3) % 11 - 5) * 1e-3
            for j in range(DIM)
        ]
        rows.append((i, [float(x) for x in vec]))
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    )
    got = pca_power(emb).collect()
    loading = {r["dim"]: r["loading"] for r in got}
    align = abs(loading[1] * 0.6 + loading[2] * 0.8)  # dims are 1-based
    assert align > 0.999, align
    assert got[0]["explained_ratio"] > 0.99, got[0]["explained_ratio"]


def test_pca_power_spectral_invariants(spark):
    """On the real fixture: the loading is unit-norm after rounding,
    the Rayleigh eigenvalue dominates every single-dimension variance
    (lambda_max >= max diagonal entry of the covariance) and is
    bounded by the total variance, and the summary columns are
    constant across the 64 rows."""
    from covid_engineering_spark.queries import registry

    rows = registry()["emb_pca_power"](spark, SF_SMOKE).collect()
    assert len(rows) == 64
    l2 = sum(r["loading"] ** 2 for r in rows)
    assert abs(l2 - 1.0) < 1e-4, l2
    eig = {r["eig_micros"] for r in rows}
    ratio = {r["explained_ratio"] for r in rows}
    assert len(eig) == 1 and len(ratio) == 1
    eig = eig.pop()
    tot = sum(r["var_micros"] for r in rows)
    assert max(r["var_micros"] for r in rows) <= eig <= tot


def test_pca_power_corpus_never_shuffled(spark):
    """The scale contract: per round the corpus is touched only by a
    map-side broadcast of the 64-float v and a posexplode partially
    aggregated into 64 dim keys — never an exchange partitioned on
    vec_id, and no cartesian."""
    from covid_engineering_spark.plans import simple_plan
    from covid_engineering_spark.queries import registry
    from tests.test_plans import has_cartesian

    df = registry()["emb_pca_power"](spark, SF_SMOKE)
    assert not has_cartesian(df)
    plan = simple_plan(df)
    assert "hashpartitioning(vec_id" not in plan, plan


# --- text_collocations: corpus PMI phrase extraction ------------------


def test_collocations_rank_a_planted_phrase_first(spark):
    """PMI semantics pinned by hand: a pair whose words appear ONLY
    together ('san francisco') outranks an equally frequent pair of
    promiscuous words ('the of'), pairs under the count floor are
    absent, and the count columns report the true corpus counts."""
    from covid_engineering_spark.operators.text import collocations

    filler = " ".join(
        f"the of w{i % 7}" for i in range(10)
    )  # 'the'/'of' everywhere, 'the of' frequent
    rows = [(i, f"san francisco {filler}") for i in range(6)]
    rows.append((99, "rare pair " * 3))  # count 3 < COLLOC_MIN
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = collocations(docs).collect()
    by_bg = {r["bg"]: r for r in got}
    assert "rare pair" not in by_bg
    sf = by_bg["san francisco"]
    assert sf["c_ab"] == 6 and sf["c_a"] == 6 and sf["c_b"] == 6
    theof = by_bg["the of"]
    assert theof["c_ab"] == 60
    assert sf["pmi_micros"] > theof["pmi_micros"]
    assert got[0]["bg"] == "san francisco"  # top of the ranking


def test_collocations_plan_shape(spark):
    """The top-k must plan TakeOrderedAndProject (never a global
    sort), and no cartesian appears (the two 1-row total attaches are
    broadcast scalar joins)."""
    from covid_engineering_spark.plans import simple_plan
    from covid_engineering_spark.queries import registry
    from tests.test_plans import has_cartesian

    df = registry()["text_collocations"](spark, SF_SMOKE)
    assert not has_cartesian(df)
    assert "TakeOrderedAndProject" in simple_plan(df)


# --- j9_binned_interval_join: big-big range join via binning ----------


def test_j9_hand_windows(spark):
    """Containment semantics pinned by hand: closed-interval matching
    (a point AT win_end counts, one second past does not), a point
    falling in a LATER hour bin than the interval start still matches
    (the cross-bin case the explode exists for), type separation, and
    — the no-duplicates contract — a point inside an interval that
    spans three bins is counted exactly ONCE."""
    from covid_engineering_spark.operators.relational import (
        binned_interval_join,
    )

    pts = spark.createDataFrame(
        [
            (1, "A", "2024-01-01 10:45:00"),
            (2, "A", "2024-01-01 12:30:00"),  # == i1 win_end
            (3, "A", "2024-01-01 12:30:01"),  # 1s past win_end
            (4, "B", "2024-01-01 11:00:00"),  # wrong type
        ],
        "event_id long, event_type string, ts_s string",
    ).select("event_id", "event_type", F.col("ts_s").cast("timestamp").alias("ts"))
    iv = spark.createDataFrame(
        [
            (100, "A", "2024-01-01 10:30:00", "2024-01-01 12:30:00"),
            (200, "A", "2024-01-01 10:00:00", "2024-01-01 12:00:00"),
            (300, "B", "2024-01-01 00:00:00", "2024-01-01 01:00:00"),
        ],
        "incident_id long, itype string, s string, e string",
    ).select(
        "incident_id", "itype",
        F.col("s").cast("timestamp").alias("win_start"),
        F.col("e").cast("timestamp").alias("win_end"),
    )
    got = {
        r["incident_id"]: r["n_events"]
        for r in binned_interval_join(pts, iv).collect()
    }
    # i1 spans bins 10,11,12: point 1 (bin 10) + point 2 (bin 12,
    # boundary) match; point 3 is out; point 4 is type B
    assert got == {100: 2, 200: 1}  # i3 matched nothing -> no row


def test_j9_plan_shape(spark):
    """The whole point vs j5's broadcast form: the range predicate
    must ride an EQUI join on (type, bin) — never a nested-loop join
    — and the exactly-once binning needs no dedup stage."""
    from covid_engineering_spark.plans import simple_plan
    from covid_engineering_spark.queries import registry
    from tests.test_plans import has_cartesian

    df = registry()["j9_binned_interval_join"](spark, SF_SMOKE)
    assert not has_cartesian(df)
    plan = simple_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan, plan
    # one aggregation pair (partial+final count), no Deduplicate
    assert "Deduplicate" not in plan


# --- ann_graph_greedy: navigable-graph beam search --------------------


def test_graph_greedy_navigates_a_planted_geometry(spark):
    """On a corpus with REAL metric structure (three well-separated
    directions, queries near one of them), the walk must reach the
    exact nearest neighbor for every query — graph navigation is only
    hard on the concentration-regime fixture, and this pins that the
    machinery (hub layer, beam, monotone merge) actually navigates."""
    from covid_engineering_spark.operators.similarity import (
        DIM,
        graph_greedy_search,
    )

    def unit(axis, t):
        # all vectors DISTINCT along a smooth gradient — duplicate
        # vectors would make each knn list a clique of copies and
        # disconnect the graph within the arm
        v = [0.0] * DIM
        v[axis] = 1.0
        v[(axis + 1) % DIM] = t
        n = (1 + t * t) ** 0.5
        return [float(x / n) for x in v]

    rows = []
    vid = 100
    for axis in (0, 20, 40):  # three separated arms, 8 points each —
        for i in range(8):  # knn k=5 keeps the gradient's diameter
            rows.append((vid, unit(axis, 0.08 * i), f"arm{axis}"))
            vid += 1
    # queries 0..2: one near the middle of each arm
    for qi, axis in enumerate((0, 20, 40)):
        rows.append((qi, unit(axis, 0.08 * 5 + 0.01), f"arm{axis}"))
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label string"
    )
    got = graph_greedy_search(emb).collect()
    assert len(got) == 3
    for r in got:
        assert r["hit"], r  # every query lands in its arm's top-k
        assert r["found_cs"] >= 0.99, r


def test_graph_greedy_beats_single_path_and_stays_in_topk_band(spark):
    """On the real fixture: the registered beam finds strictly better
    scores than a beam-1 walk (the reason the beam exists), at least
    one query lands inside the exact top-k, and the found score never
    exceeds the exact best (sanity: the exact top-1 is an upper
    bound)."""
    from covid_engineering_spark.operators.similarity import (
        graph_greedy_search,
    )
    from covid_engineering_spark.sources import read_table

    emb = read_table(spark, SF_SMOKE, "embeddings")
    beam = {r["q_id"]: r for r in graph_greedy_search(emb).collect()}
    single = {
        r["q_id"]: r
        for r in graph_greedy_search(emb, beam=1).collect()
    }
    assert sum(r["hit"] for r in beam.values()) >= 1
    assert sum(
        beam[q]["found_cs"] for q in beam
    ) > sum(single[q]["found_cs"] for q in single)
    for r in beam.values():
        assert r["found_cs"] <= r["best_cs"], r


def test_graph_greedy_corpus_never_shuffled_by_the_walk(spark):
    """The walk's joins broadcast the tiny state/candidate frames —
    the corpus embedding frame must never be exchanged on vec_id, and
    no cartesian appears (the hub-pair and entry attaches are
    broadcast nested loops over <=#labels-row frames)."""
    from covid_engineering_spark.plans import simple_plan
    from covid_engineering_spark.queries import registry
    from tests.test_plans import has_cartesian

    df = registry()["ann_graph_greedy"](spark, SF_SMOKE)
    assert not has_cartesian(df)
    plan = simple_plan(df)
    assert "hashpartitioning(vec_id" not in plan, plan


# --- pipe_tokenizer_fertility: per-lang tokenizer-efficiency audit ----


def test_tokenizer_fertility_hand_values(spark):
    """Ratio semantics pinned by hand: corpus-level sums (a long doc
    dominates the lang ratio — NOT a mean of per-doc ratios), NULL
    text counted in n_docs but absent from every sum, and an
    all-NULL language reports NULL ratios instead of dividing by
    zero."""
    rows = [
        (1, "ab cd", "en", "s", 5),       # 5 chars, 2 words, 2 tokens
        (2, "abcdef", "en", "s", 6),      # 6 chars, 1 word, 1 token
        (3, None, "en", "s", 0),          # counted, contributes nothing
        (4, None, "xx", "s", 0),          # all-NULL language
    ]
    docs = spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string, "
        "n_chars long",
    )
    # the registered callable reads from sf_dir; drive the same
    # expressions directly over the hand frame instead
    import pyspark.sql.functions as SF

    per = docs.select(
        "lang",
        SF.length("text").cast("long").alias("c"),
        SF.array_size(SF.split(SF.col("text"), " "))
        .cast("long")
        .alias("w"),
        SF.array_size(
            SF.regexp_extract_all("text", SF.lit("[a-z0-9]+"), 0)
        )
        .cast("long")
        .alias("t"),
    )
    agg = per.groupBy("lang").agg(
        SF.count("*").alias("n_docs"),
        SF.sum("c").alias("sum_chars"),
        SF.sum("w").alias("sum_words"),
        SF.sum("t").alias("sum_tokens"),
    )
    out = {
        r["lang"]: r
        for r in agg.select(
            "lang",
            "n_docs",
            "sum_chars",
            "sum_tokens",
            SF.when(
                SF.coalesce(SF.col("sum_tokens"), SF.lit(0)) > 0,
                SF.expr("sum_chars * 1000000 DIV sum_tokens"),
            ).alias("cpt"),
        ).collect()
    }
    en = out["en"]
    assert en["n_docs"] == 3 and en["sum_chars"] == 11
    assert en["sum_tokens"] == 3
    assert en["cpt"] == 11 * 1_000_000 // 3  # corpus-level, not mean
    xx = out["xx"]
    assert xx["n_docs"] == 1 and xx["sum_chars"] is None
    assert xx["cpt"] is None


# --- graph_kcore: fixed-round k-core peel ------------------------------


def test_kcore_hand_graph(spark):
    """Peel semantics pinned by hand on K5 + appendages, k=3: the
    5-clique (degree 4 each) survives untouched; a tail vertex whose
    degree starts ABOVE k peels only in round 2 after round 1 removes
    its leaves (the cascade a one-shot degree filter misses); and a
    hub isolated by its neighbors' removal is peeled the NEXT round
    at degree zero, not lost (the zero-fill contract)."""
    from covid_engineering_spark.operators.similarity import kcore

    k5 = [
        (a, b) for a in (1, 2, 3, 4, 5) for b in (1, 2, 3, 4, 5) if a < b
    ]
    # 6 hangs off the clique with two extra leaves: initial degree 3
    # (>= k) — it survives round 1, loses 7/12 to the round-1 leaf
    # peel, and cascades out in round 2
    tail = [(5, 6), (6, 7), (6, 12)]
    # star: 8 connected to three degree-1 leaves — every leaf peels in
    # round 1, so 8 (initial degree 3 >= k) is ISOLATED by round 2
    star = [(8, 9), (8, 10), (8, 11)]
    edges = spark.createDataFrame(
        k5 + tail + star, "src_id long, n_id long"
    )
    got = {r["vec_id"]: r for r in kcore(edges).collect()}
    for v in (1, 2, 3, 4):
        assert got[v]["in_core"] and got[v]["peel_round"] is None
        assert got[v]["core_degree"] == 4
    assert got[5]["in_core"] and got[5]["core_degree"] == 4  # tail gone
    for leaf in (7, 12, 9, 10, 11):
        assert got[leaf]["peel_round"] == 1, leaf  # degree 1
    assert got[6]["peel_round"] == 2  # survived round 1 at degree 3
    assert got[8]["peel_round"] == 2  # isolated, then peeled (deg 0)
    assert not got[8]["in_core"]


def test_kcore_reaches_fixed_point_on_the_fixture(spark):
    """The round budget must SUFFICE: no vertex may be peeled in the
    final round (a last-round peel means the cascade was cut short and
    'in_core' would be a depth artifact), every in-core vertex keeps
    core_degree >= k, and the peeled/in-core split must be non-trivial
    in both directions."""
    from covid_engineering_spark.operators.similarity import (
        KCORE_K,
        KCORE_ROUNDS,
    )
    from covid_engineering_spark.queries import registry

    rows = registry()["graph_kcore"](spark, SF_SMOKE).collect()
    last_round = [r for r in rows if r["peel_round"] == KCORE_ROUNDS]
    assert last_round == [], last_round
    in_core = [r for r in rows if r["in_core"]]
    peeled = [r for r in rows if not r["in_core"]]
    assert len(in_core) > 0 and len(peeled) > 0
    for r in in_core:
        assert r["core_degree"] >= KCORE_K, r
        assert r["peel_round"] is None, r
    for r in peeled:
        assert r["peel_round"] is not None, r


# --- stream_topk: per-window top-k event types -------------------------


def test_stream_topk_rank_contract(spark):
    """Every window reports at most TOPK_PER_WINDOW rows, ranks are
    dense from 1, and counts are non-increasing with rank."""
    from collections import defaultdict

    from covid_engineering_spark.queries import registry
    from covid_engineering_spark.streaming.windows import (
        TOPK_PER_WINDOW,
    )

    by_w = defaultdict(list)
    for r in registry()["stream_topk"](spark, SF_SMOKE).collect():
        by_w[str(r["window_start"])].append((r["rank"], r["n_events"]))
    assert by_w
    for w, rows in by_w.items():
        rows.sort()
        assert len(rows) <= TOPK_PER_WINDOW, (w, rows)
        assert [r for r, _ in rows] == list(range(1, len(rows) + 1))
        counts = [n for _, n in rows]
        assert counts == sorted(counts, reverse=True), (w, rows)
