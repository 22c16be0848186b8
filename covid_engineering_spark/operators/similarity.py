"""Similarity-search tier (BASELINE.json north star): approximate
nearest neighbor over the ``embeddings`` array<float> column.

Two paths:

* brute-force cosine top-k — the exactness baseline: broadcast the
  (small) query set against the full corpus, rank per query. Linear in
  corpus size per query; the right answer and the right plan when the
  query set is small (the corpus is never shuffled, only scanned).
* LSH-bucketed ANN — the scale path: sign-random-projection bit
  buckets built from deterministic hyperplanes; only same-bucket
  corpus vectors are scored. Sub-linear candidate sets at the cost of
  recall, verified against the brute-force path in tests.

NULL ``embedding`` semantics: index/train/eval operators
(PQ / IVF-PQ codebooks, centroids, nearest-centroid assignment, RP
recall) EXCLUDE NULL vectors on both engine and twin — a vector row
without a vector is not retrievable, and one NULL seed would poison a
whole codebook. Pure per-row scoring paths (brute-force cosine,
SQ8/BQ encodes) propagate NULL scores and rank them after real ones,
identically in both engines; present vectors are assumed DIM-length.
The adversarial fixture carries NULL-embedding rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from covid_engineering_spark.functions.scalar import cosine_expr, dot
from covid_engineering_spark.functions.skew import (
    BLOCK_CAP,
    SALTED_JOIN_KEYS,
    salted_block_sides,
)
from covid_engineering_spark.sources import read_table

TOP_K = 5
N_QUERIES = 8
# Multi-table LSH: L independent tables of P hyperplanes each. One
# aggressive table (few big-OR'd bits) misses neighbors that flip any
# bit; L smaller tables OR their candidate sets — the standard
# recall/cost dial (P controls bucket selectivity, L controls recall).
N_TABLES = 8
N_PLANES_PER_TABLE = 4
DIM = 64


def q_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k: for each of the first 8 vectors, the
    5 nearest others. The query side is broadcast; ranking is one
    window per query partition with deterministic tie-breaks.
    """
    return q_cosine_frame(read_table(spark, sf_dir, "embeddings"))


def _queries(emb: DataFrame) -> DataFrame:
    """The query side of every ANN search: the first ``N_QUERIES``
    vector ids as ``(q_id, q_emb)`` — the oracles' ``vec_id <
    N_QUERIES`` query set."""
    return emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )


def centroids_by_label(emb: DataFrame) -> DataFrame:
    """Mean-pool embeddings per label — the primitive behind class
    prototypes, IVF codebook seeding, and mean-of-cluster rerank.
    Emitted in exploded form (label, pos, centroid_val, n_vecs): one
    posexplode (×DIM rows) then a partial-then-final aggregation, so
    the shuffle carries labels × DIM rows regardless of corpus size.
    Per-dimension sums accumulate in DECIMAL(18,9) — accumulation-order
    independent, so the result is identical under any partitioning
    (floats summed in shuffle order are not).
    """
    x = emb.select("label", F.posexplode("embedding").alias("pos0", "x"))
    return (
        x.groupBy("label", (F.col("pos0") + 1).alias("pos"))
        .agg(
            F.round(
                F.sum(F.col("x").cast("decimal(18,9)")).cast("double")
                / F.count("*"),
                6,
            ).alias("centroid_val"),
            F.count("*").alias("n_vecs"),
        )
    )


def q_emb_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    return centroids_by_label(read_table(spark, sf_dir, "embeddings"))


def _hyperplanes(table: int) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes (LCG-generated, seeded
    per table) — reproducible across runs and engines without any RNG
    library dependency.
    """
    state = 42 + 1_000_003 * table
    planes = []
    for _ in range(N_PLANES_PER_TABLE):
        row = []
        for _ in range(DIM):
            state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 64)
            # map to [-0.5, 0.5)
            row.append((state >> 11) / float(1 << 53) - 0.5)
        planes.append(row)
    return planes


def bucket_expr(emb_col, table: int):
    """Sign-random-projection bucket id for one table:
    bit i = sign(v · plane_i), offset so ids never collide across
    tables (table t owns [t*2^P, (t+1)*2^P))."""
    bucket = F.lit(table << N_PLANES_PER_TABLE)
    for i, plane in enumerate(_hyperplanes(table)):
        arr = F.array(*[F.lit(x) for x in plane])
        side = dot(emb_col, arr) > 0
        bucket = bucket + F.when(side, F.lit(1 << i)).otherwise(F.lit(0))
    return bucket


def _cosine_topk(scored: DataFrame) -> DataFrame:
    """Each query's TOP_K best ``(q_id, n_id, cosine)`` rows, ranked
    ``cosine DESC, n_id`` — the tie-break every cosine top-k oracle
    spells — with the 1-based ``rank`` kept as a column.
    """
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), "n_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
    )


def q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-table LSH ANN: each vector lands in one bucket per table
    (explode over N_TABLES bucket ids); candidates are same-bucket
    pairs in ANY table, deduped, then exact-scored. Bucket ids are
    plain integers, so the candidate join is an equi-join Catalyst can
    shuffle-hash — no cross product at any scale. RECALL is
    probabilistic (measured against brute force in tests), but the
    INDEX is deterministic: the LCG hyperplanes are constants, so the
    generated SQL twin (``_lsh_oracle_sql``) reproduces the exact
    buckets and the driver hash-checks the whole path.
    """
    emb = read_table(spark, sf_dir, "embeddings")
    buckets = F.array(
        *[bucket_expr(F.col("embedding"), t) for t in range(N_TABLES)]
    )
    tabled = emb.select(
        "vec_id", "embedding", F.explode(buckets).alias("bucket")
    )
    q = tabled.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("q_emb"),
        F.col("bucket"),
    )
    c = tabled.select(
        F.col("vec_id").alias("n_id"),
        F.col("embedding").alias("n_emb"),
        F.col("bucket"),
    )
    cos = cosine_expr(F.col("q_emb"), F.col("n_emb"))
    scored = (
        c.join(F.broadcast(q), "bucket")
        .filter(F.col("q_id") != F.col("n_id"))
        .select("q_id", "n_id", cos.alias("cosine"))
        .distinct()  # the same pair can share buckets in several tables
    )
    return _cosine_topk(scored)


N_CENTROIDS = 16
# The synthetic embeddings are near-uniform (no cluster structure) —
# the worst case for any space-partitioning index — so half the lists
# are probed for ~0.7 recall. On real clustered embeddings fewer
# probes reach higher recall; tune (K, nprobe) per corpus.
N_PROBE = 8


def _assign(vectors: DataFrame, cent: DataFrame, id_col: str, emb_col: str, n: int) -> DataFrame:
    """Attach the n nearest centroid ids to each vector, entirely
    map-side: the (tiny, ≤K-row) codebook collapses to ONE array row,
    that row is broadcast, and each vector scores all K centroids and
    picks its top-n inside a single projection — a per-row array sort
    of K structs, no window, no shuffle. The corpus is scanned once
    and NEVER repartitioned by assignment (the earlier window form
    shuffled every (vector × centroid) row on the vector id, i.e. a
    full-corpus exchange carrying embeddings).

    Ordering: ascending array_sort on (cosine, -c_id) then reverse ≡
    cosine DESC, c_id ASC — the oracle's ORDER BY, including the
    null-cosine case (Spark sorts null-first ascending, so reverse
    puts nulls last, matching DuckDB's DESC NULLS LAST).
    """
    carr = cent.agg(
        F.collect_list(F.struct(F.col("c_id"), F.col("c_emb"))).alias("cents")
    )

    def _scored(s):
        return F.struct(
            cosine_expr(F.col(emb_col), s["c_emb"]).alias("cs"),
            (-s["c_id"]).alias("ns"),
        )

    top = F.slice(
        F.reverse(F.array_sort(F.transform(F.col("cents"), _scored))), 1, n
    )
    return (
        vectors.join(F.broadcast(carr))
        .select(id_col, emb_col, F.explode(top).alias("hit"))
        .select(
            id_col,
            emb_col,
            (-F.col("hit.ns")).cast("int").alias("c_id"),
        )
    )


def _md5_seeds(emb: DataFrame) -> DataFrame:
    """The ``N_CENTROIDS`` md5-ranked seed vectors as ``(s_id,
    s_emb)``: rows ordered by ``md5(cast(vec_id as string))`` then
    ``vec_id``, ``s_id`` their 0-based rank — a deterministic uniform
    sample (the standard random init of k-means) every oracle replays
    as ``ORDER BY md5(...), vec_id LIMIT k``. The one draw every ANN
    codebook here starts from. Catalyst plans TakeOrderedAndProject
    (per-partition top-k then a k-row merge), never a global sort.
    """
    key = F.md5(F.col("vec_id").cast("string"))
    seeds0 = (
        emb.select("vec_id", "embedding")
        .orderBy(key, "vec_id")
        .limit(N_CENTROIDS)
    )
    # rank → seed id over the k-row result (window over ≤k rows)
    w = Window.orderBy(F.md5(F.col("vec_id").cast("string")), "vec_id")
    return seeds0.select(
        (F.row_number().over(w) - 1).alias("s_id"),
        F.col("embedding").alias("s_emb"),
    )


def deterministic_codebook(emb: DataFrame) -> DataFrame:
    """Engine-independent IVF codebook: the K :func:`_md5_seeds`
    refined by ONE Lloyd step whose cell means
    accumulate in DECIMAL(18,9) (order-independent, so identical under
    any partitioning). Every arithmetic step — the md5 sample, the
    6dp-rounded seed cosines, the decimal means — is replayable in
    ANSI SQL, which is what lets ``ann_ivf_topk`` carry a full SQL
    twin (``_ivf_oracle_sql``) instead of a rows-only check. When
    iterated k-means is worth more rounds, :func:`kmeans_centroids`
    is the full fit. This codebook is a LAZY plan (the registered
    query runs no job until the driver acts on it).

    Scale shape: the Lloyd step routes through the
    map-side ``_assign`` (the K-row seed table collapses to one
    broadcast array row, each vector picks its cell inside a single
    projection — no shuffle touches the corpus); the mean shuffle
    carries cells × DIM rows regardless of corpus size.
    """
    seeds = _md5_seeds(emb)
    # one Lloyd E-step through the same map-side argmax the probe path
    # uses (best cosine, smallest seed id on ties — the oracle's
    # ORDER BY cs DESC, s_id): no shuffle touches the corpus here
    assigned = _assign(
        emb.select("vec_id", "embedding"),
        seeds.select(
            F.col("s_id").alias("c_id"), F.col("s_emb").alias("c_emb")
        ),
        "vec_id",
        "embedding",
        1,
    ).select("vec_id", "embedding", F.col("c_id").alias("cell"))
    # fused M-step (see _cell_means): one groupBy(cell), no posexplode
    return _cell_means(assigned, "cell")


#: Lloyd iterations for the registered in-engine k-means. Three rounds
#: from the md5-sampled init is where the fixture's inertia curve
#: flattens (measured in tests: round-over-round improvement monotone,
#: <1% after the third); production tunes this like any k-means.
KMEANS_ITERS = 3


def _kmeans_vectors(emb: DataFrame) -> DataFrame:
    from covid_engineering_spark.functions import evicting_cache

    return evicting_cache(
        emb.filter(F.col("embedding").isNotNull()).select(
            "vec_id", "embedding"
        ),
        "kmeans_vectors",
    )


def kmeans_centroids(emb: DataFrame, iters: int = KMEANS_ITERS) -> DataFrame:
    """The final ``(c_id, c_emb)`` codebook after ``iters`` Lloyd
    rounds — the trained-index input ``ivf_topk`` takes (see
    :func:`kmeans_lloyd` for semantics and the per-round scale
    shape)."""
    e = _kmeans_vectors(emb)
    cent = _md5_seeds(e).select(
        F.col("s_id").alias("c_id"), F.col("s_emb").alias("c_emb")
    )
    for _ in range(iters):
        assigned = _assign(e, cent, "vec_id", "embedding", 1)
        # M-step, fused: one groupBy(cell) whose DIM per-dim
        # DECIMAL sums run as ordinary partial-aggregated columns —
        # the shuffle carries one (cells × DIM)-column row per map
        # partition instead of the corpus×DIM posexplode stream, and
        # the cell means assemble map-side into the codebook array
        # (no second collect_list aggregation). Exact under the
        # embeddings schema contract (all non-NULL vectors carry DIM
        # dims), value-identical to the exploded form: per-(cell,dim)
        # decimal sums and counts are order-independent.
        cent = _cell_means(assigned, "c_id")
        # Truncate lineage at the round boundary (the CC-loop /
        # beam-hop discipline): the codebook is ≤k rows BY
        # CONSTRUCTION, but left lazy it nests the previous round's
        # whole corpus aggregation inside this round's broadcast —
        # every downstream consumer (the next E-step, ivf_topk's two
        # probes, kmeans_lloyd's final join) re-materializes the
        # nested chain as its own sequence of broadcast-build jobs,
        # and the depth makes the trained-index queries the most
        # unstable in the bench (ann_ivf_kmeans_topk spreads of
        # 8–27s). An eager localCheckpoint is a bounded ≤k-row
        # micro-materialization per round, paid on EVERY invocation
        # (nothing about the answer is memoized across runs); each
        # round's plan becomes O(1): cached corpus × 16-row scan.
        cent = cent.localCheckpoint(eager=True)
    return cent


def _cell_means(assigned: DataFrame, cell_col: str) -> DataFrame:
    """Per-cell 6dp DECIMAL-mean codebook — the shared fused M-step:
    ``(c_id, c_emb)`` from a ``(cell, embedding)`` assignment frame,
    one partial-aggregated groupBy, means assembled map-side. Built
    as ONE SQL expression string: the equivalent 64-sum Column-API
    chain costs ~300 py4j round-trips per call site (measured 0.73s
    vs 0.12s construction on a warm session)."""
    arr = "array(" + ", ".join(
        "round(cast(sum(cast(element_at(embedding, "
        f"{i}) as decimal(18,9))) as double) / count(1), 6)"
        for i in range(1, DIM + 1)
    ) + ")"
    return (
        assigned.groupBy(F.col(cell_col).alias("cell"))
        .agg(F.expr(arr).alias("c_emb"))
        .select(F.col("cell").alias("c_id"), "c_emb")
    )


def kmeans_lloyd(emb: DataFrame, iters: int = KMEANS_ITERS) -> DataFrame:
    """Deterministic ITERATED Lloyd k-means in-engine — the clustering
    primitive itself, not just the one-step IVF codebook
    (:func:`deterministic_codebook` stops after a single refinement).
    Spherical flavor: assignment by best 6dp-rounded dot product (the
    cosine geometry every similarity op here uses), means in
    DECIMAL(18,9) rounded 6dp — every step accumulation-order
    independent and ANSI-SQL replayable, so the DuckDB twin
    (``_kmeans_oracle_sql``) replays the seed draw and ALL ``iters``
    rounds and the driver hash-checks the full trajectory.

    Per-round scale shape (×``iters``, unrolled into one lazy plan):

    * E-step: the ≤k-row codebook collapses to ONE broadcast array
      row; each vector scores all k centroids inside a single
      projection (``_assign`` — no shuffle ever touches the corpus);
    * M-step: posexplode + partial-aggregated groupBy — the shuffle
      carries cells × DIM rows regardless of corpus size.

    The corpus frame is cached (``evicting_cache``): ``iters + 1``
    consumers would otherwise each re-derive the scan. Empty cells
    drop out identically in both engines (k can only shrink, never
    drift). NULL embeddings are excluded from seeds AND assignment
    (the emb/ann tier convention).

    Output: one row per vector — ``(vec_id, cluster, cs)`` with ``cs``
    the 6dp dot to its final centroid — plus nothing aggregated, so
    consumers derive sizes/inertia with one groupBy.
    """
    e = _kmeans_vectors(emb)
    cent = kmeans_centroids(emb, iters)
    final = _assign(e, cent, "vec_id", "embedding", 1)
    return (
        final.join(F.broadcast(cent), "c_id")
        .select(
            "vec_id",
            F.col("c_id").cast("int").alias("cluster"),
            cosine_expr(F.col("embedding"), F.col("c_emb")).alias("cs"),
        )
    )


def q_emb_kmeans_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    return kmeans_lloyd(read_table(spark, sf_dir, "embeddings", fan=True))


#: Fixed unrolled power-iteration count for the registered PCA: three
#: rounds separate the top eigenvector cleanly on the fixture spectrum
#: (explained-variance ratio stabilizes to 4dp between rounds 2 and 3)
#: while keeping the lazy plan and the unrolled SQL twin bounded.
PCA_ITERS = 3


def _nat_micro(col):
    """The text-tier micro-unit idiom (text.py): round to 8dp, scale
    to integer millionths, round-half-up — the one float→int
    conversion both engines perform identically."""
    return F.floor(
        F.round(col, 8) * F.lit(1e6) + F.lit(0.5)
    ).cast("long")


def pca_power(emb: DataFrame) -> DataFrame:
    """Top principal component of the embedding corpus by unrolled
    power iteration — the dimensionality-reduction / whitening
    primitive behind PCA'd indexes and OPQ-style rotations, and the
    spectrum diagnostic (a dominant component = an uncentered or
    collapsed embedding model, the usual suspect when retrieval
    quality craters). In-engine and hash-checkable end-to-end, like
    ``kmeans_lloyd``: MLlib's PCA is eager and solver-dependent; this
    form is a lazy plan whose DuckDB twin replays every round.

    Math: center X by the per-dim mean μ (DECIMAL-exact sums, 6dp —
    the kmeans M-step discipline), seed v₀ = 1/√DIM = 0.125 exactly
    (binary-representable, no libm), then ``PCA_ITERS`` rounds of
    v ← normalize(XᵀXv). Per round:

    * per-row dot x'·v — a fixed-order array fold (deterministic
      IEEE, the `_assign` pattern), corpus never shuffled;
    * w_j = Σ_rows micro(dot·x'_j) — each term converted ONCE to
      integer nat-micros, so the corpus-sized sum is an exact BIGINT
      (order-independent — the reason this is hash-checkable where a
      float Σ over N rows is not); divided by N in integer units
      (Spark ``DIV`` ≡ DuckDB ``//``: both truncate toward zero, so
      the NEGATIVE components centered data produces stay in parity);
    * normalize by √(Σ w_j²) — 64 exact integer squares, one
      correctly-rounded IEEE sqrt, one 6dp round.

    Output (one row per dimension + Rayleigh summary columns): the
    per-dim mean, per-dim variance in micro-units, the component
    loading, the Rayleigh eigenvalue estimate λ = Σ(x'·v)²/N in
    micro-units, and the explained-variance ratio λ/Σvar — both
    summary columns constant across rows via a broadcast 1-row
    cross join (the scalar-subquery pattern).

    Scale shape (fused form): the centered corpus is cached
    (iters+2 consumers); each round is one map-side broadcast of the
    64-float v and ONE whole-corpus aggregate whose 64 per-dim sums
    run as ordinary partial-aggregated columns (the shuffle carries
    one 64-column row per map partition, never the corpus, and never
    the corpus×DIM posexplode stream an exploded form pays per round);
    normalization then happens map-side on the single result row.
    The final pass fuses the Rayleigh Σ(dm²) sum and the 64 variance
    sums into one aggregate — two corpus passes fewer than separate
    aggregates, and the per-dim frames the output joins over collapse
    to 1-row arrays (no 64-row join chain). Integer headroom: the linear
    w-sums carry |w_j| ≤ N·10⁶·max|dot·x'| — exact to corpus sizes
    ~10¹² rows. The Rayleigh Σ(dm²) term squares the micro scale
    (~4·10¹² per row), so it accumulates in DECIMAL(38,0) (exact to
    ~10²⁵ rows; the DuckDB twin's HUGEINT sum is the same
    discipline) — a plain BIGINT sum would wrap near 2·10⁶ rows.
    Past either bound the production move is a coarser micro scale,
    not a different plan. Per-dim sums address fixed positions
    (``element_at`` 1..DIM), exact under the embeddings schema
    contract (every non-NULL vector carries all DIM dims).
    """
    from covid_engineering_spark.functions import evicting_cache

    e = _kmeans_vectors(emb)
    dims = range(1, DIM + 1)
    # One corpus pass: per-dim DECIMAL sums + the row count, then the
    # 6dp means assemble map-side into a single (mu array, n) row.
    # The per-dim aggregates ride ONE SQL expression string (the
    # _cell_means py4j discipline: one parser call, not ~300 Column
    # round-trips per aggregate).
    mu_sql = "array(" + ", ".join(
        "round(cast(sum(cast(element_at(embedding, "
        f"{i}) as decimal(18,9))) as double) / count(1), 6)"
        for i in dims
    ) + ")"
    mu_row = evicting_cache(
        e.agg(
            F.expr(mu_sql).alias("mu"), F.expr("count(1)").alias("n")
        ),
        "pca_mu",
    )
    centered = evicting_cache(
        e.join(F.broadcast(mu_row.select("mu"))).select(
            "vec_id",
            F.zip_with(
                "embedding", "mu", lambda x, m: x.cast("double") - m
            ).alias("cx"),
        ),
        "pca_centered",
    )

    varr = F.array(*([F.lit(0.125)] * DIM))  # 1/sqrt(DIM), exact
    va_frame = None  # after round 1, v rides a broadcast 1-row frame
    zero = F.lit(0).cast("long")
    for _ in range(PCA_ITERS):
        if va_frame is None:
            d = centered.select("cx", dot(F.col("cx"), varr).alias("dot"))
        else:
            d = centered.join(F.broadcast(va_frame)).select(
                "cx", dot(F.col("cx"), F.col("v")).alias("dot")
            )
        # Σ_rows micro(dot·x'_j) per dim — the _nat_micro expression
        # spelled in SQL (round → ×1e6 → +0.5 → floor → bigint, same
        # tree as the Column form), one parser call for all DIM sums.
        w_sql = "array(" + ", ".join(
            f"sum(cast(floor(round(dot * element_at(cx, {i}), 8)"
            " * 1000000.0D + 0.5D) as bigint))"
            for i in dims
        ) + ")"
        w_row = d.agg(
            F.expr(w_sql).alias("wm"), F.expr("count(1)").alias("n")
        )
        wn_row = w_row.select(
            F.expr("transform(wm, w -> w div n)").alias("wn")
        )
        va_frame = wn_row.select(
            "wn",
            F.aggregate(
                "wn", zero, lambda acc, x: acc + x * x
            ).alias("ss"),
        ).select(
            F.transform(
                "wn",
                lambda w: F.round(
                    w / F.sqrt(F.col("ss").cast("double")), 6
                ),
            ).alias("v")
        )
    # Final pass, fused: the Rayleigh Σ(dm²) (DECIMAL(38,0) — see the
    # headroom note above) and the 64 per-dim variance sums in ONE
    # whole-corpus aggregate over the final-v dots.
    var_sql = "array(" + ", ".join(
        f"sum(cast(floor(round(element_at(cx, {i}) * element_at(cx, "
        f"{i}), 8) * 1000000.0D + 0.5D) as bigint))"
        for i in dims
    ) + ")"
    fin = (
        centered.join(F.broadcast(va_frame))
        .select("cx", _nat_micro(dot(F.col("cx"), F.col("v"))).alias("dm"))
        .agg(
            F.expr(var_sql).alias("vs"),
            F.sum(
                (F.col("dm") * F.col("dm")).cast("decimal(38,0)")
            ).alias("sq"),
            F.count("*").alias("n"),
        )
    )
    stats = (
        fin.select(
            F.expr("transform(vs, v -> v div n)").alias("var_arr"),
            F.expr("sq DIV n DIV 1000000").alias("eig_micros"),
            "n",
        )
        .select(
            "var_arr",
            "eig_micros",
            F.aggregate("var_arr", zero, lambda acc, x: acc + x).alias(
                "tv"
            ),
            "n",
        )
    )
    return (
        mu_row.select("mu")
        .join(F.broadcast(va_frame))
        .join(F.broadcast(stats))
        .filter(F.col("n") > 0)  # empty corpus -> empty frame, as before
        .select(
            F.posexplode(F.arrays_zip("mu", "v", "var_arr")).alias(
                "p0", "z"
            ),
            "eig_micros",
            F.round(F.col("eig_micros") / F.col("tv"), 6).alias(
                "explained_ratio"
            ),
        )
        .select(
            (F.col("p0") + 1).cast("int").alias("dim"),
            F.col("z.mu").alias("mu"),
            F.col("z.var_arr").alias("var_micros"),
            F.col("z.v").alias("loading"),
            "eig_micros",
            "explained_ratio",
        )
    )


def q_emb_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pca_power(read_table(spark, sf_dir, "embeddings"))


def q_ann_ivf_kmeans_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN over the ITERATED k-means codebook — the trained-index
    composition: ``ivf_topk``'s probe/score plan unchanged, the
    codebook upgraded from ``deterministic_codebook``'s single Lloyd
    refinement to :func:`kmeans_centroids`' full fit. Measured on the
    fixture: recall@{TOP_K} 0.75 vs 0.725 at the SAME probe budget —
    the train-longer-index-better trade, judged by a driver-checked
    query (asserted ≥ the one-step codebook in tests). NULL
    embeddings are excluded corpus- and query-side (the emb/ann tier
    convention; the one-step form predates it and keeps its
    grandfathered pairing). The generated twin composes the k-means
    CTE chain with the IVF probe tail, so codebook and index can
    never drift apart in the oracle."""
    emb = read_table(spark, sf_dir, "embeddings", fan=True)
    nn = emb.filter(F.col("embedding").isNotNull())
    return ivf_topk(nn, kmeans_centroids(emb))


def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: corpus vectors live in their nearest centroid's
    inverted list (n=1); each query probes its N_PROBE nearest lists
    and scores only those vectors. The candidate join is an equi-join
    on c_id — at 100 TB the inverted lists are the partition layout,
    so a probe touches 1/K of the corpus per list. The registered form
    uses the deterministic sampled-init + one-Lloyd-step codebook, so
    the ENTIRE path (codebook, list assignment, probes, scoring) is
    hash-checked by a generated SQL twin; recall is additionally
    measured against brute force in tests.
    """
    emb = read_table(spark, sf_dir, "embeddings")
    return ivf_topk(emb, deterministic_codebook(emb))


def ivf_topk(emb: DataFrame, cent: DataFrame) -> DataFrame:
    """The IVF probe/score pipeline over an explicit codebook — split
    out so tests can measure recall of alternative codebooks (learned
    k-means vs naive stride) through the identical query plan."""
    corpus = _assign(
        emb.select(F.col("vec_id").alias("n_id"), F.col("embedding").alias("n_emb")),
        cent,
        "n_id",
        "n_emb",
        1,
    )
    queries = _assign(
        _queries(emb),
        cent,
        "q_id",
        "q_emb",
        N_PROBE,
    )
    cos = cosine_expr(F.col("q_emb"), F.col("n_emb"))
    scored = (
        corpus.join(F.broadcast(queries), "c_id")
        .filter(F.col("q_id") != F.col("n_id"))
        .select("q_id", "n_id", cos.alias("cosine"))
        .distinct()  # a pair may meet in several probed lists
    )
    return _cosine_topk(scored)


KNN_K = 5


def knn_graph(emb: DataFrame, cap: int = BLOCK_CAP) -> DataFrame:
    """Blocked exact k-nearest-neighbor graph: within each ``label``
    (here the label column, standing in for an IVF cell / shard
    assignment), every vector's k nearest others by cosine. The
    all-pairs primitive behind semantic-dedup clustering, diversity
    sampling, and retrieval-graph construction.

    Scale shape: the self-join is an EQUI-join — never a cartesian
    product (asserted in the plan audit) — so cost is Σ block_size².
    Exact-within-block is the production trade: a global exact graph
    is inherently quadratic; when no natural block exists, the IVF
    codebook (:func:`kmeans_centroids`) or LSH buckets supply one at
    the cost of cross-block recall (measured for the ANN paths in
    tests).

    Skew guard: with ``label`` alone as the join key, one dominant
    block degenerates toward quadratic INSIDE ONE TASK. So each block
    is split into s = ceil(n/cap) salted sub-blocks per side and the
    join key becomes (blk, salt_a, salt_b) — an s×s grid of cells of
    ~cap×cap pairs (hash-assigned, so ~cap per cell side IN
    EXPECTATION with Binomial(n, 1/s) variance, not a hard bound —
    an exact row_number split would pay an extra window for the
    guarantee), each its own shuffle partition. Both sides replicate
    ×s (explode over the other side's salt), total pair count is
    unchanged, but the LARGEST task now concentrates around the cap
    instead of scaling with the block. Results are exactly invariant to the
    split (verified in tests with a tiny cap); per-block s comes from
    a count aggregate broadcast back onto both sides, so the plan
    stays fully lazy. Candidates then merge per src_id through the
    rank window — and because the rank filter is a row_number ≤ k,
    Spark plans a PARTIAL WindowGroupLimit before the exchange
    (asserted in tests), so each join task ships at most k survivor
    rows per src_id into the final rank: the partial-then-final
    top-k merge comes from Catalyst, not hand-rolled plumbing.
    """
    a, b = salted_block_sides(emb, "label", "embedding", cap)
    cos = cosine_expr(F.col("pay_a"), F.col("pay_b"))
    # Cosine is symmetric, so score each UNORDERED pair once
    # (id_a < id_b — half the dominant dot-product evaluations) and
    # fan out to both directed rows map-side with one Generate over an
    # id-only array: the cosine column is computed in the projection
    # BEFORE the explode and carried, never re-evaluated. (A union of
    # the mirrored half would re-execute the whole join+cosine subtree
    # per branch — Catalyst does not dedupe shared subtrees.)
    half = (
        a.join(b, SALTED_JOIN_KEYS)
        .filter(F.col("id_a") < F.col("id_b"))
        .select("blk", "id_a", "id_b", cos.alias("cosine"))
    )
    scored = half.select(
        "blk",
        F.explode(
            F.array(
                F.struct(
                    F.col("id_a").alias("src_id"),
                    F.col("id_b").alias("n_id"),
                ),
                F.struct(
                    F.col("id_b").alias("src_id"),
                    F.col("id_a").alias("n_id"),
                ),
            )
        ).alias("e"),
        "cosine",
    ).select("blk", "e.src_id", "e.n_id", "cosine")
    w = Window.partitionBy("src_id").orderBy(F.desc("cosine"), "n_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= KNN_K)
        .select(
            F.col("blk").alias("label"), "src_id", "n_id", "cosine", "rank"
        )
    )


def q_emb_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    return knn_graph(read_table(spark, sf_dir, "embeddings", fan=True))


#: Fixed iteration count for the registered PageRank: enough to
#: differentiate hub scores on the kNN graph, small enough to unroll
#: as one lazy plan (and as unrolled CTEs in the SQL twin).
PAGERANK_ITERS = 3
#: Rank mass is carried as BIGINT in units of 1e-6 ("micro-rank"), so
#: every step is exact integer arithmetic — Spark `DIV` and DuckDB
#: `//` agree bit-for-bit on positive longs, where float damping
#: would accumulate partition-order-dependent error.
PAGERANK_SCALE = 1_000_000
#: Damping factor 0.85 as the integer pair (85, 100).
PAGERANK_DAMP_NUM = 85


def pagerank(edges: DataFrame) -> DataFrame:
    """Fixed-iteration integer PageRank over a directed edge list
    (``src_id`` -> ``n_id``): the graph-centrality companion to the
    kNN graph — on a near-dup/retrieval graph, high-rank nodes are
    hub documents (heavily referenced near-duplicates, canonical
    versions), the usual keep-candidates in graph-based curation.

    Vertex set: the distinct SOURCE ids — every kNN-graph vertex has
    out-edges, so this is total there. A generic edge list with
    dst-only sinks would drop those sinks from the ranking (they
    accumulate no out-flow and their in-flow is discarded); route
    such graphs through a union with a zero-out-degree self-loop
    convention first if sink ranks are needed.

    Exactness: ranks ride BIGINT micro-units; each step is
    ``rank DIV out_deg`` per edge, an integer in-sum, then
    ``0.15·scale + (85·in_sum) DIV 100`` — truncating division on
    positive longs, identical in Spark (`DIV`) and DuckDB (`//`), so
    the unrolled SQL twin matches bit-for-bit. (This floor-variant
    drops ≤1 micro-unit per division vs real PageRank — bounded,
    deterministic, and irrelevant at rank magnitudes of 1e6.)

    Scale shape per iteration: one equi-join of edges onto the
    current rank frame (shuffle on src_id, reusable partitioning
    round to round), one partial-aggregated in-sum (shuffle on
    n_id), one left join back onto the node list. Nothing collects;
    node/edge frames never leave the cluster. The fixed-N unrolled
    plan is deliberate — for convergence-loop use, materialize per
    round with ``localCheckpoint`` exactly as ``connected_components``
    does (pipeline.py), which this mirrors minus the loop.

    The edge-derived frames (nodes, degree-annotated edges) are
    cached via ``evicting_cache``: every iteration references both,
    and Catalyst clones uncached subtrees per reference — with an
    expensive edge producer (the kNN graph) upstream, the uncached
    unrolled plan re-ran it per iteration (measured: 33 shuffles /
    9 sort-merge joins at sf0.001; cached: the producer runs once).
    """
    from covid_engineering_spark.functions import evicting_cache

    e0 = evicting_cache(
        edges.select("src_id", "n_id"), "pagerank_edges"
    )
    nodes = evicting_cache(
        e0.select(F.col("src_id").alias("node")).distinct(),
        "pagerank_nodes",
    )
    deg = e0.groupBy("src_id").agg(F.count("*").alias("out_deg"))
    e = e0.join(deg, "src_id")
    base = PAGERANK_SCALE * (100 - PAGERANK_DAMP_NUM) // 100
    ranks = nodes.select(
        "node", F.lit(PAGERANK_SCALE).cast("long").alias("rank")
    )
    for _ in range(PAGERANK_ITERS):
        contrib = e.join(ranks, e["src_id"] == ranks["node"]).select(
            F.col("n_id").alias("node"),
            F.expr("rank div out_deg").alias("contrib"),
        )
        in_sum = contrib.groupBy("node").agg(F.sum("contrib").alias("s"))
        ranks = nodes.join(in_sum, "node", "left").select(
            "node",
            (
                F.lit(base)
                + F.expr(
                    f"({PAGERANK_DAMP_NUM} * coalesce(s, CAST(0 AS BIGINT)))"
                    " div 100"
                )
            ).cast("long").alias("rank"),
        )
    return ranks


def q_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the blocked kNN graph's edges — hub scoring of
    the embedding corpus."""
    edges = knn_graph(read_table(spark, sf_dir, "embeddings"))
    return pagerank(edges.select("src_id", "n_id"))


def triangle_count(edges: DataFrame) -> DataFrame:
    """Per-vertex triangle counting over a directed edge list
    (``src_id`` -> ``n_id``), treated as an undirected graph — the
    graph-density companion to PageRank on the kNN/near-dup graph:
    a vertex closing many triangles sits inside a tight semantic
    cluster (template families, boilerplate farms), where a
    high-degree vertex with few triangles is a hub bridging
    unrelated docs. The local clustering coefficient
    2T/(deg·(deg−1)) separates the two; both are reported.

    Algorithm: the degree-ordered orientation (the MapReduce-era
    standard — Suri & Vassilvitskii 2011, Cohen 2009). Each
    undirected edge is oriented from its lower (degree, id) endpoint
    to its higher one, making the oriented out-degree of EVERY
    vertex O(sqrt(m)) regardless of skew — the wedge join
    (u->v)⋈(v->w) therefore generates Σ out_deg² = O(m^1.5) wedge
    rows worst-case instead of the Σ deg² blow-up a hub vertex
    causes on the unoriented form; each wedge then semi-joins the
    oriented edge set to confirm (u->w). Every triangle appears
    exactly once as its degree-ordered wedge — no /3 correction or
    duplicate elimination needed — then fans its three corners out
    map-side to per-vertex counts.

    All joins are equi-joins on vertex ids (never cartesian — plan-
    asserted); the edge frame is cached since orientation, the wedge
    join, and the closure check each reference it. Counts are exact
    integers; the clustering coefficient is one IEEE division
    rounded to 6dp so the SQL twin agrees bit-for-bit.
    """
    from covid_engineering_spark.functions import evicting_cache

    und = evicting_cache(
        edges.select(
            F.least("src_id", "n_id").alias("a"),
            F.greatest("src_id", "n_id").alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct(),
        "tri_und_edges",
    )
    # THREE consumers read the degree table (both orientation joins and
    # the final per-vertex join) and Catalyst re-derives uncached
    # subtrees per consumer — without the cache the union+aggregation
    # over the edge frame runs three times per execution. Bounded
    # at one thin row per vertex.
    deg = evicting_cache(
        und.select(F.col("a").alias("v"))
        .unionAll(und.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count("*").alias("deg")),
        "tri_deg",
    )
    # orient a->b when (deg_a, a) < (deg_b, b): attach both degrees,
    # then swap endpoints where the order inverts
    da = deg.select(F.col("v").alias("a"), F.col("deg").alias("dg_a"))
    db = deg.select(F.col("v").alias("b"), F.col("deg").alias("dg_b"))
    ab_first = (F.col("dg_a") < F.col("dg_b")) | (
        (F.col("dg_a") == F.col("dg_b")) & (F.col("a") < F.col("b"))
    )
    oriented = evicting_cache(
        und.join(da, "a")
        .join(db, "b")
        .select(
            F.when(ab_first, F.col("a")).otherwise(F.col("b")).alias("u"),
            F.when(ab_first, F.col("b")).otherwise(F.col("a")).alias("w"),
        ),
        "tri_oriented",
    )
    wedges = oriented.select(
        F.col("u").alias("x"), F.col("w").alias("y")
    ).join(
        oriented.select(F.col("u").alias("y"), F.col("w").alias("z")),
        "y",
    )
    closed = wedges.join(
        oriented.select(F.col("u").alias("x"), F.col("w").alias("z")),
        ["x", "z"],
        "left_semi",
    )
    corners = closed.select(
        F.explode(F.array("x", "y", "z")).alias("v")
    )
    tri = corners.groupBy("v").agg(F.count("*").alias("_t"))
    zero = F.lit(0).cast("long")
    n_tri = F.coalesce(F.col("_t").cast("long"), zero)
    d = F.col("deg").cast("long")
    return deg.join(tri, "v", "left").select(
        F.col("v").alias("vec_id"),
        d.alias("degree"),
        n_tri.alias("n_triangles"),
        F.when(
            d >= 2, F.round(2 * n_tri / (d * (d - 1)), 6)
        ).alias("clustering"),
    )


def q_graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census of the blocked kNN graph — per-vertex triangle
    counts and local clustering coefficients."""
    edges = knn_graph(read_table(spark, sf_dir, "embeddings", fan=True))
    return triangle_count(edges.select("src_id", "n_id"))


#: Synchronous label-propagation rounds. 4 rounds is past the
#: fixture's observed churn horizon (labels stabilize by round 3);
#: fixed-unrolled like PAGERANK_ITERS so the twin can replay — the
#: convergence-loop form is the same body under the
#: connected_components localCheckpoint discipline.
LPA_ITERS = 4


def label_propagation(edges: DataFrame) -> DataFrame:
    """Synchronous label propagation (Raghavan et al. 2007) over a
    directed edge list taken as UNDIRECTED — community detection on
    the retrieval graph: where connected components answer "which
    docs touch at all" (dedup_clusters) and k-core answers "how dense
    is the neighborhood" (graph_kcore), LPA answers "which docs form
    a community" — the unit a curation pass caps, summarizes, or
    drops as a boilerplate FAMILY rather than one document at a time.

    Semantics, pinned deterministic: labels start as the node id;
    each round EVERY node simultaneously adopts the most frequent
    label among its neighbors (ties → smallest label; no self-vote).
    Plain LPA tie-breaks randomly — hash-order tie-breaks would be
    engine-reproducible too, but smallest-label matches the
    min-label CC convention the cluster tier already uses.

    Scale shape per round (the pagerank discipline): one equi-join of
    the symmetrized edge list onto the current label frame (shuffle
    on n_id), one partial-aggregated (node, label) count, one
    row_number window per node over ≤degree rows. Nodes and edges
    never leave the cluster; the unrolled plan reuses the cached edge
    frame. Union-symmetrization (not mutual-intersection like kcore):
    LPA wants votes to FLOW — an edge in either direction carries
    influence both ways, the standard choice for community detection
    on asymmetric kNN graphs.
    """
    from covid_engineering_spark.functions import evicting_cache

    fwd = edges.select("src_id", "n_id")
    # (Pre-partitioning the cache on n_id does NOT remove the
    # per-round join exchange: with
    # canChangeCachedPlanOutputPartitioning=true — load-bearing for
    # AQE-coalescing every cache build — EnsureRequirements cannot
    # trust a cached plan's output partitioning and re-shuffles
    # anyway, so the repartition would only add a cache-build
    # exchange.)
    und = evicting_cache(
        fwd.union(
            fwd.select(
                F.col("n_id").alias("src_id"),
                F.col("src_id").alias("n_id"),
            )
        ).distinct(),
        "lpa_edges",
    )
    labels = und.select(F.col("src_id").alias("node")).distinct().select(
        "node", F.col("node").alias("lab")
    )
    # Winner fold (guide §2.3/§2.4): counting votes with
    # groupBy(node, nlab) and picking the winner with a second
    # groupBy(node) costs TWO exchanges per round on different keys.
    # Votes per node are DEGREE-BOUNDED by construction (the kNN graph
    # carries ≤2k neighbors after union-symmetrization), so
    # collect the node's votes in ONE partial-aggregated groupBy(node)
    # and fold the sorted list: one ascending pass tracks the current
    # run (cv, cc) against the best committed run (bv, bc); a strictly
    # longer run commits, ties keep the earlier (= smaller) label —
    # exactly max(struct(c, -nlab)) ≡ highest count then smallest
    # label. One exchange per round, and the round's output stays
    # hash(node)-partitioned, which the NEXT round's join consumes
    # as-is (node renames to the join key) — no re-shuffle between
    # rounds.
    _winner = """
    aggregate(
      array_sort(collect_list(nlab)),
      named_struct(
        'bv', CAST(NULL AS BIGINT), 'bc', CAST(0 AS BIGINT),
        'cv', CAST(NULL AS BIGINT), 'cc', CAST(0 AS BIGINT)),
      (acc, x) -> CASE
        WHEN acc.cc = 0 THEN named_struct(
          'bv', acc.bv, 'bc', acc.bc, 'cv', x, 'cc', CAST(1 AS BIGINT))
        WHEN x = acc.cv THEN named_struct(
          'bv', acc.bv, 'bc', acc.bc, 'cv', acc.cv, 'cc', acc.cc + 1)
        WHEN acc.cc > acc.bc THEN named_struct(
          'bv', acc.cv, 'bc', acc.cc, 'cv', x, 'cc', CAST(1 AS BIGINT))
        ELSE named_struct(
          'bv', acc.bv, 'bc', acc.bc, 'cv', x, 'cc', CAST(1 AS BIGINT))
      END,
      acc -> CASE WHEN acc.cc > acc.bc THEN acc.cv ELSE acc.bv END
    )"""
    for _ in range(LPA_ITERS):
        nbr = und.join(
            labels.select(F.col("node").alias("_n"), "lab"),
            F.col("n_id") == F.col("_n"),
        ).select(F.col("src_id").alias("node"), F.col("lab").alias("nlab"))
        labels = nbr.groupBy("node").agg(
            F.expr(_winner).alias("lab")
        )
    return labels.select(
        "node",
        F.col("lab").alias("community"),
        F.count("*")
        .over(Window.partitionBy("lab"))
        .alias("community_size"),
    )


def q_graph_label_propagation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """LPA communities of the union-symmetrized blocked kNN graph."""
    edges = knn_graph(read_table(spark, sf_dir, "embeddings", fan=True))
    return label_propagation(edges.select("src_id", "n_id"))


#: k-core threshold and fixed peel-round budget, over the MUTUAL kNN
#: graph (x and y connected only when each is in the other's top-k —
#: the standard symmetrization for clustering, and the only one that
#: yields a non-trivial core here: the plain undirected kNN graph has
#: degree ≥ k at EVERY vertex by construction, so its k-core is all
#: or nothing). Mutual degrees run 1-5 on the fixture; k=3 peels
#: ~1/5 of the graph through a real multi-round cascade (measured
#: waves at sf0.1: 270/105/45/18/7/4/2/1/2/1, fixed point at round
#: 11) and keeps a substantial core. ROUNDS bounds the depth the way
#: CC_MAX_ROUNDS bounds connected_components: the Spark loop BREAKS
#: at the first zero-peel round (the driver holds only a counter),
#: and the twin's extra unrolled rounds past the fixed point are
#: exact no-ops, so any budget >= the true depth gives identical
#: results. Fixed point within budget is asserted in tests.
KCORE_K = 3
KCORE_ROUNDS = 16


def kcore(edges: DataFrame) -> DataFrame:
    """Fixed-round k-core decomposition of a directed edge list taken
    as undirected — the graph-curation density gate: the k-core
    (k = ``KCORE_K``) is the maximal subgraph where every vertex keeps
    ≥ k neighbors, the standard definition of a "dense community" on
    near-dup/retrieval graphs (template families and boilerplate farms
    sit in deep cores; one-off documents peel immediately). Peeling is the
    textbook algorithm: repeatedly remove every vertex whose CURRENT
    degree is below k — removing a vertex lowers its neighbors'
    degrees, so the cascade must recompute degrees per round.

    Fixed ``KCORE_ROUNDS`` unrolled into one lazy plan (the PageRank/kmeans
    convention — convergence-loop use materializes per round with
    localCheckpoint exactly as ``connected_components`` does). Per
    round: one partial-aggregated degree count (shuffle carries
    vertex cardinality), two LEFT SEMI joins restricting the edge set
    to survivors. Output: every original vertex with its initial
    degree, the peel round that removed it (NULL if it survived all
    rounds = in-core at the measured depth), the in-core verdict, and
    the core-subgraph degree for survivors.
    """
    from covid_engineering_spark.functions import evicting_cache

    und0 = evicting_cache(
        edges.select(
            F.least("src_id", "n_id").alias("a"),
            F.greatest("src_id", "n_id").alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct(),
        "kcore_edges",
    )

    def degrees(und):
        return (
            und.select(F.col("a").alias("v"))
            .unionAll(und.select(F.col("b").alias("v")))
            .groupBy("v")
            .agg(F.count("*").alias("deg"))
        )

    deg0 = evicting_cache(degrees(und0), "kcore_deg0")

    def zero_filled(verts, und):
        """Current degree of every still-standing vertex — explicitly
        ZERO-filled: a vertex isolated by its neighbors' removal has
        no edge left and would silently vanish from a bare degree
        aggregate, escaping both the peel and the core."""
        return verts.join(degrees(und), "v", "left").select(
            "v",
            F.coalesce(F.col("deg"), F.lit(0).cast("long")).alias(
                "deg"
            ),
        )

    und = und0
    verts = deg0.select("v")
    peeled = None  # (v, peel_round) accumulator
    for r in range(1, KCORE_ROUNDS + 1):
        # eager localCheckpoint per round (the connected_components
        # convention): each round's edge set references the previous
        # round's ~3 times (two degree branches + the restriction),
        # so the UNCHECKPOINTED unrolled tree grows ~3^rounds and
        # Catalyst's tree-walking analysis blows the driver heap at 4
        # rounds; truncation keeps every round's plan flat.
        degc = zero_filled(verts, und).localCheckpoint(eager=True)
        drop = degc.filter(F.col("deg") < KCORE_K).select(
            "v", F.lit(r).alias("peel_round")
        )
        # convergence break on the checkpointed round frame — the
        # driver-side loop holds only this counter, never data; the
        # twin's rounds past the fixed point are exact no-ops, so the
        # early exit cannot diverge from the unrolled SQL. (On a
        # round-1 break — e.g. an empty or all-core graph — `peeled`
        # stays an empty typed frame, set below, never None.)
        if peeled is None:
            peeled = drop.filter(F.lit(False))
        if drop.count() == 0:
            break
        peeled = peeled.unionByName(drop)
        verts = degc.filter(F.col("deg") >= KCORE_K).select("v")
        und = (
            und.join(
                verts.select(F.col("v").alias("a")), "a", "left_semi"
            )
            .join(verts.select(F.col("v").alias("b")), "b", "left_semi")
            .localCheckpoint(eager=True)
        )
    core = zero_filled(verts, und).select(
        "v", F.col("deg").alias("core_degree")
    )
    return (
        deg0.select("v", F.col("deg").alias("initial_degree"))
        .join(peeled, "v", "left")
        .join(core, "v", "left")
        .select(
            F.col("v").alias("vec_id"),
            "initial_degree",
            F.col("peel_round").cast("int").alias("peel_round"),
            F.col("core_degree").isNotNull().alias("in_core"),
            "core_degree",
        )
    )


def q_graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core peel of the MUTUAL kNN graph (see KCORE_K)."""
    ke = knn_graph(read_table(spark, sf_dir, "embeddings")).select(
        "src_id", "n_id"
    )
    rev = ke.select(
        F.col("n_id").alias("src_id"), F.col("src_id").alias("n_id")
    )
    mutual = ke.join(rev, ["src_id", "n_id"], "left_semi")
    return kcore(mutual)


#: Beam-search budget for the navigable-graph walk: 1 hub hop reaches
#: any block (the hub layer is a complete digraph), the remaining
#: hops descend within blocks. Measured on the sf0.01 fixture: a
#: single-path greedy walk (beam 1, directed edges) lands 0/8 inside
#: the exact top-5 — local maxima — where beam 4 over the undirected
#: graph lands 5/8 while scoring ~4% of the corpus, which is exactly
#: why NSW/HNSW search keeps a candidate set (ef), not one walker.
GREEDY_HOPS = 4
GREEDY_BEAM = 4


def _navigable_graph(emb: DataFrame):
    """The navigable graph ``graph_greedy_search`` walks. Returns
    ``(edges, entry)``: the UNDIRECTED blocked kNN edges plus the
    fully connected hub navigation layer (one md5-drawn hub per label
    block, drawn from vec_id ≥ N_QUERIES so a fixture query never navigates
    to its own identity), and the 1-row md5-minimal entry vertex.

    Edges carry ids only, not the neighbor's embedding (the HNSW
    adjacency-with-vectors layout): attaching the payload at build
    time cost what the per-hop scoring joins save (4.81s vs 4.96s at
    sf0.1), and the cached edge frame would grow by one vector per
    edge — k× the corpus's embedding bytes.

    UNDIRECTED kNN edges: x being in y's top-k does not put y in
    x's, and the reverse arcs are routes a navigable-small-world
    search depends on (measured on the sf0.01 fixture at the same
    hop/beam budget: best-found/exact-best ratio 0.805 directed-only
    vs 0.839 undirected). distinct() collapses mutual pairs.
    """
    from covid_engineering_spark.functions import evicting_cache

    key = F.md5(F.col("vec_id").cast("string"))
    wlab = Window.partitionBy("label").orderBy(
        F.md5(F.col("vec_id").cast("string")), "vec_id"
    )
    hubs = evicting_cache(
        emb.filter(
            F.col("embedding").isNotNull() & (F.col("vec_id") >= N_QUERIES)
        )
        .select("label", "vec_id")
        .withColumn("rk", F.row_number().over(wlab))
        .filter(F.col("rk") == 1)
        .select("vec_id"),
        "greedy_hubs",
    )
    hub_edges = hubs.select(F.col("vec_id").alias("src_id")).join(
        F.broadcast(hubs.select(F.col("vec_id").alias("n_id"))),
        F.col("src_id") != F.col("n_id"),
    )
    kedges = knn_graph(emb).select("src_id", "n_id")
    adj = (
        kedges.unionByName(
            kedges.select(
                F.col("n_id").alias("src_id"),
                F.col("src_id").alias("n_id"),
            )
        )
        .unionByName(hub_edges)
        .distinct()
    )
    edges = evicting_cache(adj, "greedy_edges")
    entry = (
        hubs.orderBy(key, "vec_id")
        .limit(1)
        .select(F.col("vec_id").alias("id"))
    )
    return edges, entry


def graph_greedy_search(emb: DataFrame, beam: int = GREEDY_BEAM) -> DataFrame:
    """Navigable-graph ANN in-engine — the beam (best-first) search
    that underlies HNSW/NSW-style indexes, re-expressed as an
    unrolled lazy plan: from a fixed entry vertex, repeatedly score
    the out-neighbors of every frontier vertex against the query and
    keep the best ``beam`` visited vertices (incumbents compete with
    candidates, so the best-found score is monotone). Graph = the
    blocked kNN edges plus a NAVIGATION LAYER: one hub per label
    block (the md5 seed-draw idiom), hubs fully connected — without
    long-range links a walk can never leave the entry block, which is
    exactly why navigable-small-world graphs carry them. Hubs are
    drawn from the non-query corpus so the walk never tests its own
    identity; self-matches are excluded on BOTH the walk and the
    brute-force side.

    Output (one row per query): the beam's terminal best vertex and
    score, the exact nearest neighbor and score, and ``hit`` = the
    found vertex lies in the exact top-{TOP_K} — the graph-search
    analogue of ``ann_recall_eval``, judged in-engine. found@top-k is
    the honest bar on this corpus: the fixture embeddings have no
    true near neighbors (best cosines ~0.3-0.5, the concentration
    regime), so argmax identity is statistically unreachable for ANY
    sub-exhaustive index, while landing inside the top-k band
    measures real navigation.

    Scale shape: the state frame is ≤|Q|·beam rows and every hop is
    (a) state×edges equi-join on the frontier vertex (state
    broadcasts), (b) candidate×corpus equi-join on vec_id to attach
    embeddings (candidates ≤ |Q|·beam·max_degree — broadcast), (c) a
    |Q|-partition rank window over ≤|Q|·beam·(max_degree+1) rows.
    The corpus and edge frames are cached and NEVER shuffled by the
    walk; hop count is fixed, so the plan is bounded like the
    kmeans/pagerank unrolls. The brute-force column is the evaluation
    harness, not the index path — at production scale it runs on a
    sampled query set exactly as ``ann_recall_eval`` does. The
    per-hop joins stay broadcast while the state/candidate frames,
    which grow ∝ queries × beam (× max_degree for candidates), fit:
    past ~10⁷ query-rows per wave the move is batching query waves,
    not a different plan.
    """
    from covid_engineering_spark.functions import evicting_cache

    e = _kmeans_vectors(emb)
    edges, entry = _navigable_graph(emb)
    q = evicting_cache(_queries(e), "greedy_queries")

    def _score(ids):
        """Attach embeddings and the 6dp query cosine to a tiny
        (q_id, q_emb, id) frame: corpus equi-join, small side
        broadcast. ``q_emb`` rides the candidate frame so each hop
        pays ONE broadcast build instead of two (re-joining the query
        table per hop costs another), and every broadcast build is
        its own driver-blocking job."""
        return (
            e.join(F.broadcast(ids), e["vec_id"] == ids["id"])
            .select(
                "q_id",
                "id",
                cosine_expr(F.col("q_emb"), F.col("embedding")).alias(
                    "cs"
                ),
                "q_emb",
            )
        )

    state = _score(q.join(F.broadcast(entry)))
    # Beam selection per hop: ONE groupBy(q_id) that collects
    # the merged candidate+incumbent rows into a set and keeps the
    # top-``beam`` map-side via array_sort — the (cs DESC, id ASC)
    # order rides a (cs, -id) struct sort (the `_assign` idiom), and
    # collect_set dedupes re-reached candidates exactly (a vertex's
    # (q_id, id) score is deterministic, so duplicate rows are
    # byte-identical). Distinct + rank-window selection pays three
    # exchanges per hop (candidate distinct, merged distinct, rank
    # window); this pays one, and the per-group state stays
    # ≤ beam·(max_degree+1) rows.
    def _top_beam(merged: DataFrame, n: int) -> DataFrame:
        return (
            merged.groupBy("q_id")
            .agg(
                F.slice(
                    F.reverse(
                        F.array_sort(
                            F.collect_set(
                                F.struct(
                                    F.col("cs"), (-F.col("id")).alias("ns")
                                )
                            )
                        )
                    ),
                    1,
                    n,
                ).alias("top"),
                # constant within a q_id group — rides the same agg so
                # no per-hop re-join against the query table is needed
                F.first("q_emb").alias("q_emb"),
            )
            .select("q_id", F.explode("top").alias("t"), "q_emb")
            .select(
                "q_id",
                (-F.col("t.ns")).alias("id"),
                F.col("t.cs").alias("cs"),
                "q_emb",
            )
        )

    for _ in range(GREEDY_HOPS):
        cand = (
            edges.join(
                F.broadcast(state), edges["src_id"] == state["id"]
            )
            .select("q_id", F.col("n_id").alias("id"), "q_emb")
            .filter(F.col("id") != F.col("q_id"))
        )
        state = _top_beam(_score(cand).unionByName(state), beam)
        # Truncate lineage at the hop boundary (guide §2.4/§3):
        # ``state`` feeds the next hop TWICE (the frontier join and
        # the incumbent union), and Catalyst plans trees, not DAGs —
        # unchecked, the walk's plan doubles per hop (measured: 264
        # BroadcastExchange nodes, only 30 runtime-reused; 111
        # broadcast-materialization jobs per execution). The CC-loop
        # discipline applies verbatim: the state frame is ≤ |Q|·beam
        # rows BY CONSTRUCTION at any corpus scale, so the checkpoint
        # is a bounded micro-materialization that makes each hop's
        # plan O(1) instead of O(2^hop). eager=False: the plan
        # is truncated immediately either way, but materialization
        # folds into the next hop's first broadcast build instead of
        # running as its own driver-blocking job — and the nested
        # compute is ONE hop over cached inputs (bounded, so the
        # broadcast-timeout hazard that keeps kmeans' per-round
        # codebook checkpoint eager does not apply here).
        state = state.localCheckpoint(eager=False)
    # top-1 per query: max over the (cs, -id) struct — lexicographic
    # max ≡ cs DESC then id ASC; reuses the final hop's q_id
    # partitioning, so no exchange and no rank window.
    found = (
        state.groupBy("q_id")
        .agg(
            F.max(
                F.struct(F.col("cs"), (-F.col("id")).alias("ns"))
            ).alias("b")
        )
        .select(
            "q_id",
            (-F.col("b.ns")).alias("found_id"),
            F.col("b.cs").alias("found_cs"),
        )
    )
    topk = evicting_cache(q_cosine_frame(emb), "greedy_exact_topk")
    best = topk.filter(F.col("rank") == 1).select(
        "q_id",
        F.col("n_id").alias("best_id"),
        F.col("cosine").alias("best_cs"),
    )
    in_topk = topk.select(
        "q_id", F.col("n_id").alias("found_id"), F.lit(True).alias("_in")
    )
    return (
        found.join(best, "q_id")
        .join(F.broadcast(in_topk), ["q_id", "found_id"], "left")
        .select(
            "q_id",
            "found_id",
            "found_cs",
            "best_id",
            "best_cs",
            F.coalesce(F.col("_in"), F.lit(False)).alias("hit"),
        )
    )


def q_ann_graph_greedy(spark: SparkSession, sf_dir: str) -> DataFrame:
    return graph_greedy_search(read_table(spark, sf_dir, "embeddings"))


#: Product-quantization geometry: DIM=64 splits into PQ_M=8 subspaces
#: of PQ_SUB_DIM=8 dims; each subspace gets a PQ_K=16-entry
#: sub-codebook, so a vector compresses to 8 nibble codes (4 bytes) —
#: a 64x compression of the float32 vector, the memory ratio that
#: makes billion-vector ANN indexes fit in RAM.
PQ_M = 8
PQ_SUB_DIM = DIM // PQ_M
#: The sub-codebooks slice the one :func:`_md5_seeds` draw, so they
#: hold as many entries as it draws.
PQ_K = N_CENTROIDS


def pq_codes(emb: DataFrame, seeds: DataFrame | None = None) -> DataFrame:
    """Product-quantization encoding: each vector's code per subspace
    is the L2-nearest entry of that subspace's sub-codebook. The
    compressed representation behind large-scale ANN (IVF-PQ): search
    scans codes + a lookup table instead of raw floats.

    Codebook: the PQ_K :func:`_md5_seeds`, sliced per subspace —
    replayable in ANSI SQL, so the whole encode path is driver
    hash-checked. A production build refines each
    sub-codebook with per-subspace Lloyd iterations (same mergeable
    decimal-mean machinery as the IVF codebook); the assignment plan
    below is identical either way.

    Scale shape: fully map-side — the 16-row seed table collapses to
    ONE broadcast array row; each vector × subspace row scores all 16
    sub-centroids inside a projection (exact positional IEEE fold, so
    Spark and the oracle agree bit-for-bit) and keeps the argmin via
    ``array_min`` on (d2, s_id) structs. The corpus is scanned once,
    never shuffled; output is PQ_M rows per vector.

    NULL ``embedding`` rows are excluded — from the seed draw (one
    NULL seed would poison a whole sub-codebook) and from encoding (a
    vector row without a vector has no code). Same exclusion in the
    SQL twin.
    """
    emb = emb.filter(F.col("embedding").isNotNull())
    if seeds is None:
        seeds = _md5_seeds(emb)
    carr = seeds.agg(
        F.collect_list(F.struct("s_id", "s_emb")).alias("cents")
    )
    best = F.expr(f"""
        array_min(transform(cents, c -> struct(
            aggregate(
                transform(sequence(1, {PQ_SUB_DIM}),
                    i -> cast(element_at(embedding, sub * {PQ_SUB_DIM} + i)
                              as double)
                       - cast(element_at(c.s_emb, sub * {PQ_SUB_DIM} + i)
                              as double)),
                cast(0.0 as double), (acc, x) -> acc + x * x) as d2,
            c.s_id as s_id)))
    """)
    return (
        emb.select("vec_id", "embedding")
        .join(F.broadcast(carr))
        .select(
            "vec_id",
            "embedding",
            "cents",
            F.explode(F.sequence(F.lit(0), F.lit(PQ_M - 1))).alias("sub"),
        )
        .select("vec_id", "sub", best.alias("b"))
        .select(
            "vec_id",
            "sub",
            F.col("b.s_id").alias("code"),
            F.round("b.d2", 6).alias("dist2"),
        )
    )


def q_emb_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pq_codes(read_table(spark, sf_dir, "embeddings"))


def _adc_lut(q: DataFrame, seeds: DataFrame) -> DataFrame:
    """The ADC lookup table: one ``(q_id, sub, code, d2_micro)`` row
    per query × subspace × ``(s_id, s_emb)`` seed, ``d2_micro`` the
    subspace's squared L2 (the encoder's positional IEEE fold)
    snapped to integer micro-units by ``floor(d2·1e6 + 0.5)``: pure
    IEEE ops plus an exact floor are bit-identical across engines,
    where ``round()``'s tie-breaking is not (the ts_anomaly lesson).
    """
    d2 = F.expr(f"""
        aggregate(
            transform(sequence(1, {PQ_SUB_DIM}),
                i -> cast(element_at(q_emb, sub * {PQ_SUB_DIM} + i)
                          as double)
                   - cast(element_at(s_emb, sub * {PQ_SUB_DIM} + i)
                          as double)),
            cast(0.0 as double), (acc, x) -> acc + x * x)
    """)
    codebook = seeds.select(F.col("s_id").alias("code"), "s_emb")
    return (
        q.crossJoin(F.broadcast(codebook))
        .select(
            "q_id",
            "code",
            "q_emb",
            "s_emb",
            F.explode(F.sequence(F.lit(0), F.lit(PQ_M - 1))).alias("sub"),
        )
        .select(
            "q_id",
            "sub",
            "code",
            F.floor(d2 * 1000000 + F.lit(0.5)).cast("long").alias(
                "d2_micro"
            ),
        )
    )


def _adc_topk(hits: DataFrame, k: int) -> DataFrame:
    """Each query's ``k`` nearest vectors by ADC distance from the
    ``(q_id, vec_id, d2_micro)`` LUT hits: the micro-unit entries sum
    exactly per (query, vector) as longs, ranked ``adc_micro, n_id``
    and reported as ``adc_d2`` = the sum back in units, 6dp.
    """
    scored = hits.groupBy("q_id", F.col("vec_id").alias("n_id")).agg(
        F.sum("d2_micro").alias("adc_micro")
    )
    w = Window.partitionBy("q_id").orderBy("adc_micro", "n_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "q_id",
            "n_id",
            F.round(F.col("adc_micro") / 1000000.0, 6).alias("adc_d2"),
            "rank",
        )
    )


def pq_adc_topk(emb: DataFrame, k: int = TOP_K) -> DataFrame:
    """ANN search over PQ codes by Asymmetric Distance Computation:
    each query's approximate L2² to a corpus vector is the sum over
    subspaces of a precomputed (query sub-vector → sub-centroid)
    distance table entry picked by the vector's code. The IVF-PQ scan
    kernel: the corpus side touches only 4-byte codes, never floats.

    Exactness: the per-(query, sub, centroid) lookup table is the
    same IEEE fold the encoder uses, SNAPPED to integer micro-units
    (``round(d2·1e6)`` as BIGINT) before the per-vector sum — longs
    add associatively, so the sum over subspaces is partition-order
    independent and the SQL twin matches bit-for-bit (an unsnapped
    double sum would be ordering-dependent).

    Scale shape: LUT is N_QUERIES × PQ_M × PQ_K rows (1024 here) —
    broadcast; the codes frame joins it map-side on (sub, code),
    fanning each code row out only by the query count. One shuffle
    aggregates (q_id, vec_id) partial sums — and because PQ_M rows
    collapse to 1, partial aggregation shrinks the exchange by 8×
    before it moves. Top-k per query is the usual rank window with
    Catalyst's partial WindowGroupLimit below the exchange.

    NULL ``embedding`` rows are excluded throughout (seeds, queries,
    corpus) — matching ``pq_codes``; a NULL query vector would yield
    an all-NULL LUT and rank noise.
    """
    emb = emb.filter(F.col("embedding").isNotNull())
    # ONE seed draw for both consumers (the bounded-frame checkpoint
    # discipline): left lazy, the encode path and the LUT each build
    # their own copy of the md5-ranked seed subtree, so the corpus
    # TakeOrdered runs twice per execution (once under each broadcast
    # build). The frame is ≤ PQ_K rows BY CONSTRUCTION — an eager
    # localCheckpoint is a bounded micro-materialization at any scale.
    seeds = _md5_seeds(emb).localCheckpoint(eager=True)
    codes = pq_codes(emb, seeds=seeds).select("vec_id", "sub", "code")
    lut = _adc_lut(_queries(emb), seeds)
    hits = codes.join(F.broadcast(lut), ["sub", "code"]).filter(
        F.col("q_id") != F.col("vec_id")
    )
    return _adc_topk(hits, k)


def q_ann_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pq_adc_topk(read_table(spark, sf_dir, "embeddings"))


#: Two-stage retrieval shortlist: the coarse (ADC) stage over-fetches
#: this many candidates per query; the exact stage re-ranks them to
#: TOP_K. 5× the final k is the usual serving ratio.
RERANK_SHORTLIST = 25


def rerank_topk(
    emb: DataFrame, shortlist: int = RERANK_SHORTLIST
) -> DataFrame:
    """Two-stage retrieval (the universal production ANN serving
    shape — FAISS/ScaNN "search then refine"): stage 1 over-fetches a
    ``shortlist`` of candidates per query through the compressed-code
    ADC scan (``pq_adc_topk`` — corpus side touches only 4-byte
    codes), stage 2 re-ranks ONLY those candidates with the exact
    float cosine and keeps the top ``TOP_K``. Compression error decides
    at most which candidates enter the shortlist, never their final
    order — measured here: exact-rerank recall@5 strictly dominates
    the raw ADC ranking at equal corpus cost (pinned in tests).

    Scale shape: stage 1 is the registered ADC plan (broadcast LUT,
    map-side code join, partial-agg sum). The shortlist is
    |Q|·shortlist rows — broadcast onto the corpus scan, so stage 2
    fetches float vectors for ≤ |Q|·shortlist rows (an equi-join the
    scan prunes against, never a second corpus pass through float
    math), then joins the ≤|Q|-row query frame and ranks inside
    |Q|-sized window partitions. Raising ``shortlist`` trades stage-2
    work for recall without touching stage 1's scan.

    NULL ``embedding`` rows are excluded throughout (the pq_codes
    convention — they carry no codes and cannot be reranked).
    """
    emb = emb.filter(F.col("embedding").isNotNull())
    short = pq_adc_topk(emb, k=shortlist).select("q_id", "n_id")
    cand = emb.select(
        F.col("vec_id").alias("n_id"), F.col("embedding").alias("n_emb")
    ).join(F.broadcast(short), "n_id")
    q = _queries(emb)
    rer = cand.join(F.broadcast(q), "q_id").select(
        "q_id",
        "n_id",
        cosine_expr(F.col("q_emb"), F.col("n_emb")).alias("cosine"),
    )
    return _cosine_topk(rer)


def q_ann_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return rerank_topk(read_table(spark, sf_dir, "embeddings", fan=True))


#: IVF-PQ geometry: the first IVFPQ_COARSE_K entries of the one
#: md5-ranked seed draw serve as the coarse quantizer (inverted-list
#: cells); each query probes its IVFPQ_PROBE nearest cells.
IVFPQ_COARSE_K = 8
IVFPQ_PROBE = 4


def ivfpq_topk(emb: DataFrame) -> DataFrame:
    """IVF-PQ: the billion-scale ANN architecture — a coarse
    quantizer routes each corpus vector into one inverted list, and
    search runs ADC over PQ codes ONLY inside the query's probed
    lists. Combines ``ann_ivf_topk``'s pruning (touch PROBE/K of the
    corpus) with ``ann_pq_adc_topk``'s compression (touch only 4-byte
    codes): the scan cost per query is (PROBE/K) · N · M code
    lookups, no floats, which is what fits a billion vectors in RAM.

    Determinism: ONE md5-ranked seed draw supplies both quantizers —
    its first IVFPQ_COARSE_K entries are the coarse cells, all PQ_K
    slice into the sub-codebooks — so the whole index derivation
    replays in the SQL twin. PQ encodes RAW vectors (not residuals
    x − cell_centroid, the classic refinement): residual encoding
    needs per-cell LUTs (PROBE× the table mass) and its win shrinks
    exactly when cells are coarse; documented trade, plumbing
    identical. Distances ride the same integer micro-unit LUTs as
    the flat ADC path (partition-order exact).

    Scale shape: cell assignment and PQ encoding are both map-side
    broadcast passes over one corpus scan, joined on vec_id (at
    100 TB you'd persist this as the index layout, partitioned by
    cell — the inverted lists ARE the partitioning). The probe join
    broadcasts q×PROBE rows, the LUT join broadcasts q·M·K rows, and
    the only corpus-sized shuffle is the final per-(q, candidate)
    partial-aggregated sum.

    NULL ``embedding`` rows are excluded throughout (seed draw, cell
    assignment, queries, corpus) — matching ``pq_codes``.
    """
    emb = emb.filter(F.col("embedding").isNotNull())
    seeds = _md5_seeds(emb)
    coarse = seeds.filter(F.col("s_id") < IVFPQ_COARSE_K).select(
        F.col("s_id").alias("c_id"), F.col("s_emb").alias("c_emb")
    )
    cells = _assign(
        emb.select("vec_id", "embedding"), coarse, "vec_id", "embedding", 1
    ).select("vec_id", F.col("c_id").alias("cell"))
    corpus = pq_codes(emb).join(cells, "vec_id")
    q = _queries(emb)
    probes = _assign(q, coarse, "q_id", "q_emb", IVFPQ_PROBE).select(
        "q_id", F.col("c_id").alias("cell")
    )
    hits = (
        corpus.join(F.broadcast(probes), "cell")
        .filter(F.col("q_id") != F.col("vec_id"))
        .join(F.broadcast(_adc_lut(q, seeds)), ["q_id", "sub", "code"])
    )
    return _adc_topk(hits, TOP_K)


def q_ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ivfpq_topk(read_table(spark, sf_dir, "embeddings"))


def _label_centroids(emb: DataFrame) -> DataFrame:
    """Each label's :func:`centroids_by_label` centroid reassembled
    into one ``(label, c)`` row, ``c`` the 6dp means in ``pos``
    order — the bounded prototype table the per-label oracles
    rebuild with ``list(centroid_val ORDER BY pos)``.
    """
    return (
        centroids_by_label(emb)
        .groupBy("label")
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("pos", "centroid_val"))
                ),
                lambda s: s["centroid_val"],
            ).alias("c")
        )
    )


def assign_nearest_centroid(emb: DataFrame) -> DataFrame:
    """Vector quantization / cluster assignment: each embedding is
    assigned to the nearest per-label centroid by cosine — the
    primitive behind IVF list routing, k-means E-steps, and
    prototype classification.

    Scale shape: the centroid table is bounded (labels × DIM rows from
    ``centroids_by_label``, reassembled into one array row per label),
    so the scoring join is a broadcast nested loop of corpus ×
    n_labels computed map-side — the corpus is never shuffled. The
    argmax collapses via ``max_by`` partial aggregation (n_labels rows
    per vec combine map-side, one row per vec crosses the wire), NOT a
    row_number window, which would shuffle every scored row. Ties are
    impossible: the max_by ordering struct appends -label, making the
    sort key unique per (vec, label).

    Determinism: centroids are 6dp-rounded decimals (identical in both
    engines); dot products and the centroid norm are sequential
    in-order folds over the same doubles, mirroring the oracle's
    list_dot_product — the same property every cosine oracle here
    relies on.

    NULL ``embedding`` rows are excluded: a vector row without a
    vector is not assignable (centroid training already skips them —
    ``posexplode`` of a NULL array emits nothing — so the filter only
    removes the unassignable rows from the scored output).
    """
    emb = emb.filter(F.col("embedding").isNotNull())
    cnorm = F.sqrt(
        F.aggregate(
            F.transform(F.col("c"), lambda x: x * x),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    carr = _label_centroids(emb).select(
        F.col("label").alias("c_label"), "c", cnorm.alias("cnorm")
    )
    cos6 = dot(F.col("embedding"), F.col("c")) / F.col("cnorm")
    scored = (
        emb.select("vec_id", "embedding")
        .crossJoin(F.broadcast(carr))
        .select("vec_id", "c_label", F.round(cos6, 6).alias("cos6"))
    )
    return scored.groupBy("vec_id").agg(
        F.max_by(
            "c_label",
            F.struct(F.col("cos6"), (-F.col("c_label")).alias("nl")),
        ).alias("assigned_label"),
        F.max("cos6").alias("cosine"),
    )


def q_emb_assign_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    return assign_nearest_centroid(read_table(spark, sf_dir, "embeddings"))


#: Outlier gate: flag vectors whose squared distance to their OWN
#: label's centroid exceeds mean + OUTLIER_Z·σ of that label's
#: distance distribution.
OUTLIER_Z = 2


def embedding_outliers(emb: DataFrame) -> DataFrame:
    """Per-cluster embedding outlier flags — the mislabeled-example /
    contaminated-cluster sweep an embedding corpus runs before the
    vectors feed semantic dedup or retrieval training: a vector far
    from its own label's centroid (distance z-scores against the
    label's own distribution) is a candidate mislabel or junk
    embedding. The distance-to-prototype rule of Sun et al.'s deep
    kNN-style label cleaning, reduced to the centroid prototype.

    Exactness: the squared distance is a sequential double fold over
    the 6dp-rounded centroid (the assign_nearest discipline), snapped
    once to integer micro-units. Per-label moments then ride exact
    integer sums — Σd in BIGINT, Σd² in DECIMAL(38,0) (the pca_power
    Rayleigh discipline: micro-squared terms wrap a plain BIGINT near
    2·10⁶ rows; the twin's HUGEINT sum matches) — and the threshold
    mean + z·σ is ONE float expression per LABEL (never per row),
    rounded 8dp and floored to micro-units, so the per-row verdict is
    a BIGINT comparison.

    Scale shape: centroids collapse to labels × DIM rows and
    broadcast back as one array row per label; the distance pass is
    map-side over a single corpus scan; the moments aggregate
    collapses to ≤labels rows and broadcasts back onto the distance
    frame (cached — two consumers). The corpus shuffles ZERO times.

    NULL ``embedding`` rows are excluded (nothing to measure — the
    assign_nearest convention).
    """
    from covid_engineering_spark.functions import evicting_cache

    emb = emb.filter(F.col("embedding").isNotNull())
    carr = _label_centroids(emb).select(
        F.col("label").alias("c_label"), "c"
    )
    d2 = F.expr(f"""
        aggregate(
            transform(sequence(1, {DIM}),
                i -> (cast(element_at(embedding, i) as double)
                      - element_at(c, i))
                   * (cast(element_at(embedding, i) as double)
                      - element_at(c, i))),
            cast(0.0 as double), (acc, x) -> acc + x)
    """)
    base = evicting_cache(
        emb.join(
            F.broadcast(carr), emb["label"] == carr["c_label"]
        ).select(
            "vec_id",
            "label",
            F.floor(d2 * F.lit(1e6) + F.lit(0.5))
            .cast("long")
            .alias("d2_micros"),
        ),
        "outlier_base",
    )
    stats = base.groupBy("label").agg(
        F.count("*").alias("_n"),
        F.sum("d2_micros").alias("_s"),
        F.sum(
            F.col("d2_micros").cast("decimal(38,0)") * F.col("d2_micros")
        ).alias("_q"),
    )
    mean = F.col("_s").cast("double") / F.col("_n")
    var = F.col("_q").cast("double") / F.col("_n") - mean * mean
    thr = mean + F.lit(OUTLIER_Z) * F.sqrt(F.greatest(var, F.lit(0.0)))
    thr_stats = stats.select(
        "label",
        F.floor(F.round(thr, 8) + F.lit(0.5))
        .cast("long")
        .alias("thr_micros"),
    )
    return base.join(F.broadcast(thr_stats), "label").select(
        "vec_id",
        "label",
        "d2_micros",
        "thr_micros",
        (F.col("d2_micros") > F.col("thr_micros")).alias("is_outlier"),
    )


def q_emb_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    return embedding_outliers(read_table(spark, sf_dir, "embeddings"))


#: SemDeDup cosine threshold — chosen so the synthetic corpus splits
#: non-trivially (sf0.01: 95 of 500 vectors dropped, 405 kept).
SEMDEDUP_TAU = 0.3


def semdedup(emb: DataFrame, cap: int = BLOCK_CAP) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540 — public): inside each cluster cell, drop every
    vector that lies within cosine ``SEMDEDUP_TAU`` of a LOWER-id
    vector of the same cell, keeping one representative per
    epsilon-ball.
    Semantics are domination-by-any-lower-id (not the paper's
    iterative greedy): deterministic, order-free, and expressible as
    one relational plan with an exact SQL twin. Returns the WHOLE
    corpus as (vec_id, cell, kept).

    Cells come from ``label`` — the materialized cluster-id column a
    production SemDeDup run stores once when embeddings land, the same
    blocking contract as ``knn_graph``/``embedding_pairs``. Deriving
    cells in-engine (``assign_nearest_centroid``) would make its
    corpus × k broadcast scoring the dominant term — the paper's
    one-off clustering cost, priced separately from the dedup by
    design.

    Scale shape: the intra-cell pairwise join rides
    ``salted_block_sides`` — the shared skew-guarded sub-block grid,
    largest task ~cap² pair scorings regardless of cell skew — so
    total pair work is Σ cell², linear when cells grow in COUNT with
    the corpus (shard growth; SemDeDup's k ∝ N/cell_size regime). The
    drop set is DISTINCT-collapsed before the final left join, which
    AQE broadcasts while it is small; the keep-list itself is a
    map-side projection of the scan.
    """
    cells = emb.select("vec_id", F.col("label").alias("cell"))
    e = emb.select(
        "vec_id", F.col("label").alias("cell"), "embedding"
    )
    a, b = salted_block_sides(e, "cell", "embedding", cap)
    dropped = (
        a.join(b, SALTED_JOIN_KEYS)
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(cosine_expr(F.col("pay_a"), F.col("pay_b")) >= SEMDEDUP_TAU)
        .select(F.col("id_b").alias("vec_id"))
        .distinct()
        .withColumn("_dropped", F.lit(1))
    )
    return cells.join(dropped, "vec_id", "left").select(
        "vec_id", "cell", F.col("_dropped").isNull().alias("kept")
    )


def q_emb_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return semdedup(read_table(spark, sf_dir, "embeddings", fan=True))


HN_K = 5
#: Target rows per mining batch — the in-batch negative pool size a
#: contrastive trainer would see; pair work is N × HN_BATCH_CAP.
HN_BATCH_CAP = 128


def hard_negatives(
    emb: DataFrame,
    batch_cap: int = HN_BATCH_CAP,
    salt_cap: int | None = None,
) -> DataFrame:
    """In-batch hard-negative mining for contrastive training: split
    the corpus into deterministic batches of ~``batch_cap`` vectors
    (``vec_id % n_batch``), and inside each batch rank every OTHER-
    label vector by cosine against each anchor — the top-k are the
    anchor's hard negatives (near in embedding space, different
    class), the highest-value rows for a triplet/InfoNCE loss. The
    reference has no training-data tier; this extends its similarity
    surface (main.py has no analogue) with the standard mining step a
    large-scale embedding-training pipeline runs over exactly this
    corpus shape.

    Scale shape: ``n_batch = ceil(N / batch_cap)`` comes from a
    1-row count aggregate broadcast back onto the scan (the plan
    stays lazy; the only extra job is the count's scan), so batch
    size stays ~``batch_cap`` AS N GROWS and total pair work is
    N × batch_cap — linear in the corpus, never quadratic. The
    intra-batch self-join rides ``salted_block_sides`` (batch =
    block), inheriting the skew grid, and scores each UNORDERED pair
    once before a map-side Generate fans out both anchor directions
    (label inequality is symmetric, same halving as ``knn_graph``).
    The final per-anchor top-k plans a partial WindowGroupLimit
    below the exchange.
    """
    n_batch = emb.agg(
        F.ceil(F.count("*") / F.lit(batch_cap)).cast("bigint").alias("nb")
    )
    batched = (
        emb.join(F.broadcast(n_batch))
        .select(
            F.pmod(F.col("vec_id"), F.col("nb")).alias("batch"),
            "vec_id",
            F.struct("label", "embedding").alias("lp"),
        )
    )
    # The salt grid normally never engages (batches are built AT the
    # cap), but hash assignment is binomial, not exact — an overfull
    # batch still splits instead of concentrating in one task.
    # ``salt_cap`` exists so tests can force a non-trivial grid.
    a, b = salted_block_sides(batched, "batch", "lp", salt_cap or batch_cap)
    cos = cosine_expr(F.col("pay_a.embedding"), F.col("pay_b.embedding"))
    half = (
        a.join(b, SALTED_JOIN_KEYS)
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(F.col("pay_a.label") != F.col("pay_b.label"))
        .select(
            F.col("id_a"),
            F.col("pay_a.label").alias("lab_a"),
            F.col("id_b"),
            F.col("pay_b.label").alias("lab_b"),
            cos.alias("cosine"),
        )
    )
    scored = half.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("id_a").alias("src_id"),
                    F.col("lab_a").alias("src_label"),
                    F.col("id_b").alias("neg_id"),
                    F.col("lab_b").alias("neg_label"),
                ),
                F.struct(
                    F.col("id_b").alias("src_id"),
                    F.col("lab_b").alias("src_label"),
                    F.col("id_a").alias("neg_id"),
                    F.col("lab_a").alias("neg_label"),
                ),
            )
        ).alias("e"),
        "cosine",
    ).select("e.src_id", "e.src_label", "e.neg_id", "e.neg_label", "cosine")
    w = Window.partitionBy("src_id").orderBy(F.desc("cosine"), "neg_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= HN_K)
        .select("src_id", "src_label", "neg_id", "neg_label", "cosine", "rank")
    )


def q_emb_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    return hard_negatives(read_table(spark, sf_dir, "embeddings", fan=True))


def dim_stats(emb: DataFrame) -> DataFrame:
    """Per-dimension corpus profile over the embedding column — the
    whitening/normalization prep every embedding pipeline runs before
    quantization or PCA: for each of the DIM dimensions, the count,
    sum, sum-of-squares, min and max in exact integer micro-units
    (``floor(x*1e6+0.5)``, the repo's cents discipline applied to
    floats — both engines floor the same IEEE double, and BIGINT sums
    are partition-order independent where double sums are not).

    Scale shape: ``posexplode`` fans each vector to DIM rows, but the
    hash aggregate is PARTIAL — each map task collapses its slice to
    at most DIM rows before the exchange, so the shuffle carries
    |dims| × |tasks| rows regardless of corpus size, and the final
    frame is DIM rows. The sum-of-squares accumulates as
    DECIMAL(38,0) (micro² ≈ 1e12 per row would overflow BIGINT at
    ~9e6 corpus rows per dimension) and snaps to BIGINT only at the
    final DIM-row emission; a 100 TB corpus emits the decimal
    directly.
    """
    ex = emb.select(F.posexplode("embedding").alias("pos", "val"))
    micro = F.floor(F.col("val").cast("double") * 1000000 + F.lit(0.5)).cast(
        "long"
    )
    return (
        ex.select((F.col("pos") + 1).alias("dim"), micro.alias("micro"))
        .groupBy("dim")
        .agg(
            F.count("*").alias("n_vals"),
            F.sum("micro").alias("sum_micro"),
            F.sum(
                (F.col("micro") * F.col("micro")).cast("decimal(38,0)")
            )
            .cast("long")
            .alias("sumsq_micro"),
            F.min("micro").alias("min_micro"),
            F.max("micro").alias("max_micro"),
        )
    )


def q_emb_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dim_stats(read_table(spark, sf_dir, "embeddings"))


def sq8_encode(emb: DataFrame) -> DataFrame:
    """Scalar (int8) quantization — the 4×-compression baseline every
    vector store ships (FAISS ``SQ8``, Milvus/pgvector scalar quant):
    per dimension, codes are ``floor((x - min) * 255 / (max - min) +
    0.5)`` clamped to [0, 255], with per-dimension min/max taken from
    the corpus profile (``dim_stats``). Emitted per vector: the code
    sum, a position-weighted checksum (Σ code·dim — order-sensitive,
    so any transposition is caught), and the total reconstruction
    error in micro-units — making quantization LOSS a first-class
    queryable quantity rather than an offline eyeball.

    Exactness: min/max enter as integer micro-units and re-enter
    float-land through the SAME ``micro/1e6`` double both engines
    compute; the code and the reconstruction re-snap to integers
    before any aggregation, so every emitted column is BIGINT algebra.

    Scale shape: the DIM-row stats frame collapses to ONE broadcast
    array row (sorted collect_list — DIM ≈ 64 entries); encoding is
    then pure map-side projection work over a single corpus scan —
    no shuffle at all on the encode path (the final frame is one row
    per vector, same partitioning as the scan).
    """
    stats = dim_stats(emb).select(
        F.struct("dim", "min_micro", "max_micro").alias("s")
    )
    stats_row = stats.agg(
        F.array_sort(F.collect_list("s")).alias("dstats")
    )
    per_dim = f"""
        transform(sequence(1, {DIM}), i -> struct(
            i as dim,
            least(255, greatest(0, CASE
                WHEN element_at(dstats, i).max_micro
                     = element_at(dstats, i).min_micro THEN 0
                ELSE cast(floor(
                    (cast(element_at(embedding, i) as double)
                     - cast(element_at(dstats, i).min_micro as double) / 1000000.0)
                    * 255.0
                    / ((cast(element_at(dstats, i).max_micro as double)
                        - cast(element_at(dstats, i).min_micro as double))
                       / 1000000.0)
                    + 0.5) as bigint)
            END)) as code,
            element_at(dstats, i).min_micro as mn,
            element_at(dstats, i).max_micro as mx))
    """
    recon_err = f"""
        aggregate(codes, cast(0 as bigint), (acc, c) -> acc + abs(
            cast(floor(cast(element_at(embedding, c.dim) as double)
                       * 1000000 + 0.5) as bigint)
            - cast(floor(
                  (cast(c.mn as double) / 1000000.0
                   + cast(c.code as double)
                     * ((cast(c.mx as double) - cast(c.mn as double))
                        / 1000000.0)
                     / 255.0) * 1000000 + 0.5) as bigint)))
    """
    return (
        emb.select("vec_id", "embedding")
        .join(F.broadcast(stats_row))
        .withColumn("codes", F.expr(per_dim))
        .select(
            "vec_id",
            F.expr(
                "aggregate(codes, cast(0 as bigint), (acc, c) -> acc + c.code)"
            ).alias("code_sum"),
            F.expr(
                "aggregate(codes, cast(0 as bigint),"
                " (acc, c) -> acc + c.code * c.dim)"
            ).alias("code_checksum"),
            F.expr(recon_err).alias("err_micro"),
        )
    )


def q_emb_sq8(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sq8_encode(read_table(spark, sf_dir, "embeddings"))


def recall_eval(emb: DataFrame) -> DataFrame:
    """Recall@k of the IVF index against brute-force ground truth —
    IN-ENGINE: the standard ANN quality metric (recall@k over a query
    sample) as one lazy plan instead of an offline notebook, so an
    index-parameter change (probe count, codebook size) is judged by
    a driver-checked query. Per query: the exact top-k (brute-force
    cosine), the IVF top-k through the identical scoring plan, and
    |exact ∩ approx| / k.

    Scale shape: both sides produce N_QUERIES × k tiny frames; the
    overlap join and the per-query count are broadcast-trivial. The
    expensive inputs (one corpus scan each) are exactly the two
    registered pipelines — nothing new shuffles; the LEFT join keeps
    queries with zero overlap (recall 0 must be a row, not an
    absence).
    """
    exact = q_cosine_frame(emb).select(
        F.col("q_id").alias("e_qid"), F.col("n_id").alias("e_nid")
    )
    approx = ivf_topk(emb, deterministic_codebook(emb)).select(
        F.col("q_id").alias("a_qid"), F.col("n_id").alias("a_nid")
    )
    hits = exact.join(
        approx,
        (F.col("e_qid") == F.col("a_qid")) & (F.col("e_nid") == F.col("a_nid")),
        "left_outer",
    )
    return (
        hits.groupBy(F.col("e_qid").alias("q_id"))
        .agg(F.count("a_nid").alias("n_hits"))
        .select(
            "q_id",
            "n_hits",
            F.round(F.col("n_hits") / float(TOP_K), 4).alias("recall_at_k"),
        )
    )


def q_cosine_frame(emb: DataFrame) -> DataFrame:
    """The brute-force cosine top-k over an explicit frame (factored
    from ``q_ann_cosine_topk`` so ``recall_eval`` composes it)."""
    q = _queries(emb)
    c = emb.select(
        F.col("vec_id").alias("n_id"), F.col("embedding").alias("n_emb")
    )
    cos = cosine_expr(F.col("q_emb"), F.col("n_emb"))
    scored = (
        c.join(F.broadcast(q))
        .filter(F.col("q_id") != F.col("n_id"))
        .select("q_id", "n_id", cos.alias("cosine"))
    )
    return _cosine_topk(scored)


def q_ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    return recall_eval(read_table(spark, sf_dir, "embeddings"))


def bq_encode(emb: DataFrame) -> DataFrame:
    """1-bit binary quantization — the cheapest vector compression in
    production use (FAISS ``LSH``/binary indexes, the BQ tier in
    Vespa/Weaviate): each dimension collapses to its sign bit, the
    64-dim vector to exactly TWO BIGINT words (dims 1–32 → ``lo``,
    33–64 → ``hi``; 32 bits per word keeps every partial sum far from
    the signed-64 boundary, so no engine's overflow semantics are ever
    in play). 256× smaller than float32 — at 100 TB of embeddings the
    binary sketch is ~0.4 TB, small enough to brute-force scan where
    the float corpus needs an index.

    Pure map-side projection: no shuffle, no stats pass (unlike sq8
    there is no codebook — the sign IS the code).
    """

    def word(lo_dim: int, hi_dim: int) -> str:
        return f"""
            aggregate(sequence({lo_dim}, {hi_dim}), cast(0 as bigint),
                (acc, i) -> acc + CASE
                    WHEN cast(element_at(embedding, i) as double) > 0
                    THEN shiftleft(cast(1 as bigint), i - {lo_dim})
                    ELSE cast(0 as bigint) END)
        """

    return emb.select(
        "vec_id",
        F.expr(word(1, 32)).alias("lo"),
        F.expr(word(33, 64)).alias("hi"),
    )


def hamming_topk(emb: DataFrame) -> DataFrame:
    """Brute-force Hamming top-k over the binary-quantized corpus —
    the BQ retrieval pattern: distance is two XOR+popcount pairs on
    BIGINT words (pure whole-stage-codegen integer ops, no float
    math anywhere), so the "brute force" scan touches 16 bytes per
    corpus vector. The query codes broadcast; ranking is the same
    per-query window as the cosine baseline with full tie-break
    determinism (hamming ASC, then n_id — Hamming ties are COMMON at
    64 bits, so the tiebreak carries real weight here).

    Scale shape: identical plan to ``q_cosine_frame`` but the scan
    and the score are ~100× cheaper; at 100 TB this is the
    first-stage filter whose survivors get exact re-scoring.
    """
    codes = bq_encode(emb)
    q = codes.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"),
        F.col("lo").alias("q_lo"),
        F.col("hi").alias("q_hi"),
    )
    c = codes.select(
        F.col("vec_id").alias("n_id"),
        F.col("lo").alias("n_lo"),
        F.col("hi").alias("n_hi"),
    )
    hamming = F.expr("bit_count(q_lo ^ n_lo) + bit_count(q_hi ^ n_hi)")
    scored = (
        c.join(F.broadcast(q))
        .filter(F.col("q_id") != F.col("n_id"))
        .select("q_id", "n_id", hamming.cast("long").alias("hamming"))
    )
    w = Window.partitionBy("q_id").orderBy("hamming", "n_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
    )


def q_ann_hamming_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return hamming_topk(read_table(spark, sf_dir, "embeddings"))


#: Cosine radius for the range search — calibrated so the epsilon-ball
#: is non-empty for every fixture query at every SF (random 64-dim
#: unit vectors concentrate near cosine 0; 0.30 is ~2.4σ out).
RANGE_TAU = 0.30


def range_search(emb: DataFrame) -> DataFrame:
    """LSH-indexed RANGE search (epsilon-ball retrieval): every corpus
    vector within cosine ``RANGE_TAU`` of each query — the "find everything
    this similar" primitive behind radius dedup, near-duplicate audit,
    and contamination sweeps, where top-k's fixed k either truncates
    dense neighborhoods or pads sparse ones.

    Same multi-table sign-random-projection index as ``ann_lsh_topk``
    — candidates are same-bucket pairs in ANY table (equi-join on the
    integer bucket id, never a cross product), exact-scored, then
    THRESHOLD-filtered instead of ranked: no window at all, so the
    result needs one shuffle fewer than top-k and the per-query output
    is as large as the data demands. Recall is probabilistic (a
    neighbor sharing no bucket is missed — the standard LSH trade) but
    the INDEX is deterministic: the LCG hyperplanes replay in the SQL
    twin, so the driver hash-checks the whole path (the ann_lsh_topk
    contract).
    """
    buckets = F.array(
        *[bucket_expr(F.col("embedding"), t) for t in range(N_TABLES)]
    )
    tabled = emb.select(
        "vec_id", "embedding", F.explode(buckets).alias("bucket")
    )
    q = tabled.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("q_emb"),
        F.col("bucket"),
    )
    c = tabled.select(
        F.col("vec_id").alias("n_id"),
        F.col("embedding").alias("n_emb"),
        F.col("bucket"),
    )
    cos = cosine_expr(F.col("q_emb"), F.col("n_emb"))
    return (
        c.join(F.broadcast(q), "bucket")
        .filter(F.col("q_id") != F.col("n_id"))
        .select("q_id", "n_id", cos.alias("cosine"))
        .distinct()  # the same pair can share buckets in several tables
        .filter(F.col("cosine") >= F.lit(RANGE_TAU))
    )


def q_ann_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    return range_search(read_table(spark, sf_dir, "embeddings"))


#: Matryoshka prefix width: retrieval uses only the first MRL_DIM of
#: DIM dimensions (Kusupati et al. 2022, arXiv:2205.13147 — MRL-trained
#: embeddings front-load information so a prefix is a usable coarse
#: representation at 1/4 the scan cost).
MRL_DIM = 16


def prefix_topk(emb: DataFrame) -> DataFrame:
    """Brute-force top-k over the first ``MRL_DIM`` dimensions only —
    the Matryoshka coarse pass. Ranking is by prefix DOT PRODUCT
    (prefixes of unit vectors are not unit; dot ranking is what a
    truncated-vector index computes), same fold/round/tiebreak
    discipline as the full-width baseline.
    """
    pre = emb.select(
        "vec_id", F.slice("embedding", 1, MRL_DIM).alias("embedding")
    )
    return q_cosine_frame(pre)


def mrl_recall(emb: DataFrame) -> DataFrame:
    """Recall@k of prefix-only retrieval against full-width ground
    truth, in-engine — the evaluation that decides how far an MRL
    deployment can truncate before quality pays: per query,
    |full-dim exact top-k ∩ prefix top-k| / k (the ``recall_eval``
    composition, LEFT join so recall-0 queries stay rows).

    Scale shape: both sides are the registered brute-force plan; the
    prefix side scans 16 of 64 dims (the 4× cheaper coarse pass this
    measures the quality cost of). Overlap join and per-query count
    are N_QUERIES×k tiny.
    """
    exact = q_cosine_frame(emb).select(
        F.col("q_id").alias("e_qid"), F.col("n_id").alias("e_nid")
    )
    approx = prefix_topk(emb).select(
        F.col("q_id").alias("a_qid"), F.col("n_id").alias("a_nid")
    )
    hits = exact.join(
        approx,
        (F.col("e_qid") == F.col("a_qid"))
        & (F.col("e_nid") == F.col("a_nid")),
        "left_outer",
    )
    return (
        hits.groupBy(F.col("e_qid").alias("q_id"))
        .agg(F.count("a_nid").alias("n_hits"))
        .select(
            "q_id",
            "n_hits",
            F.round(F.col("n_hits") / float(TOP_K), 4).alias(
                "recall_at_k"
            ),
        )
    )


def q_emb_mrl_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    return mrl_recall(read_table(spark, sf_dir, "embeddings"))


RP_DIM = 16
#: Seed offset for the projection matrix LCG — disjoint from the LSH
#: hyperplane seeds (42 + 1_000_003·table) so no plane is reused.
_RP_SEED = 42 + 7_777_777


def _rp_matrix() -> list[list[float]]:
    """Deterministic dense random-projection matrix (RP_DIM × DIM),
    LCG-generated like the LSH hyperplanes — reproducible across runs
    and engines with no RNG library, entries uniform in [-0.5, 0.5).
    Johnson–Lindenstrauss (1984) needs only zero-mean i.i.d. entries
    for distance preservation in expectation (Achlioptas 2003 shows
    even ±1 works); the global scale factor (√(1/RP_DIM)) is omitted
    because ranking by dot product is scale-invariant.
    """
    state = _RP_SEED
    rows = []
    for _ in range(RP_DIM):
        row = []
        for _ in range(DIM):
            state = (state * 6364136223846793005 + 1442695040888963407) % (
                1 << 64
            )
            row.append((state >> 11) / float(1 << 53) - 0.5)
        rows.append(row)
    return rows


def rp_project(emb: DataFrame) -> DataFrame:
    """Dense Johnson–Lindenstrauss random projection DIM → RP_DIM:
    p_j = Σ_i v_i · R_ji, each component the same sequential
    zip_with/aggregate fold as ``cosine_expr`` (so the DuckDB twin's
    ``list_dot_product`` reproduces the doubles bit-for-bit). Pure
    map-side column math — no shuffle, whole-stage codegen, the
    matrix is 16×64 literal constants folded into the plan.

    Unlike the Matryoshka PREFIX (``prefix_topk``), the projection
    mixes information from ALL input dimensions, so it degrades
    gracefully on embeddings that were never MRL-trained — the
    classic dimensionality-reduction step before clustering or
    coarse retrieval at 100 TB (4× fewer bytes per vector here;
    arbitrary ratios by picking RP_DIM).
    """
    # One SQL expression string for all RP_DIM components: the
    # Column-API form builds 16 × 64 literal Columns plus nested
    # lambdas — ~7000 py4j round-trips per invocation, the single
    # largest plan-CONSTRUCTION cost in the bench (measured 1.7s of
    # emb_rp_recall's build). The SQL tree below is node-for-node the
    # same physical expression (zip_with → cast-multiply → ordered
    # fold from 0.0), so the doubles — and the oracle hash — are
    # unchanged; `repr(x)` is the shortest round-trip form of each
    # float64, which the SQL parser reads back to the identical bits.
    comps = ", ".join(
        "aggregate(zip_with({col}, array({row}), "
        "(x, y) -> cast(x as double) * y), "
        "cast(0.0 as double), (acc, x) -> acc + x)".format(
            col="embedding",
            row=", ".join(f"cast({x!r} as double)" for x in row),
        )
        for row in _rp_matrix()
    )
    return emb.select(
        "vec_id", F.expr(f"array({comps})").alias("embedding")
    )


def rp_recall(emb: DataFrame) -> DataFrame:
    """Recall@k of RP_DIM random-projection retrieval against
    full-width exact ground truth — the JL quality audit, same
    LEFT-join composition as ``mrl_recall`` (recall-0 queries stay
    rows). Both sides are registered brute-force plans; the projected
    side scans RP_DIM-wide vectors built map-side in the same pass.
    """
    exact = q_cosine_frame(emb).select(
        F.col("q_id").alias("e_qid"), F.col("n_id").alias("e_nid")
    )
    approx = q_cosine_frame(rp_project(emb)).select(
        F.col("q_id").alias("a_qid"), F.col("n_id").alias("a_nid")
    )
    hits = exact.join(
        approx,
        (F.col("e_qid") == F.col("a_qid"))
        & (F.col("e_nid") == F.col("a_nid")),
        "left_outer",
    )
    return (
        hits.groupBy(F.col("e_qid").alias("q_id"))
        .agg(F.count("a_nid").alias("n_hits"))
        .select(
            "q_id",
            "n_hits",
            F.round(F.col("n_hits") / float(TOP_K), 4).alias(
                "recall_at_k"
            ),
        )
    )


def q_emb_rp_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    return rp_recall(read_table(spark, sf_dir, "embeddings", fan=True))


QUERIES = {
    "ann_cosine_topk": q_ann_cosine_topk,
    "ann_lsh_topk": q_ann_lsh_topk,
    "ann_ivf_topk": q_ann_ivf_topk,
    "emb_centroid": q_emb_centroid,
    "emb_knn_graph": q_emb_knn_graph,
    "emb_assign_nearest": q_emb_assign_nearest,
    "emb_outliers": q_emb_outliers,
    "emb_kmeans_lloyd": q_emb_kmeans_lloyd,
    "ann_ivf_kmeans_topk": q_ann_ivf_kmeans_topk,
    "emb_semdedup": q_emb_semdedup,
    "emb_hard_negatives": q_emb_hard_negatives,
    "graph_pagerank": q_graph_pagerank,
    "graph_triangle_count": q_graph_triangle_count,
    "graph_kcore": q_graph_kcore,
    "graph_label_propagation": q_graph_label_propagation,
    "emb_pca_power": q_emb_pca_power,
    "ann_graph_greedy": q_ann_graph_greedy,
    "emb_pq_codes": q_emb_pq_codes,
    "ann_pq_adc_topk": q_ann_pq_adc_topk,
    "ann_rerank_topk": q_ann_rerank_topk,
    "ann_ivfpq_topk": q_ann_ivfpq_topk,
    "emb_dim_stats": q_emb_dim_stats,
    "emb_sq8": q_emb_sq8,
    "ann_recall_eval": q_ann_recall_eval,
    "ann_hamming_topk": q_ann_hamming_topk,
    "ann_range_search": q_ann_range_search,
    "emb_mrl_recall": q_emb_mrl_recall,
    "emb_rp_recall": q_emb_rp_recall,
}


def _ivfpq_oracle_sql() -> str:
    """SQL twin of ``ivfpq_topk``: the same seed draw feeds the
    coarse cells (first IVFPQ_COARSE_K) and the PQ sub-codebooks;
    assignment tie-breaks mirror ``_assign`` (6dp cosine DESC, cell
    ASC); distances ride the shared integer micro-unit LUT.

    NULL embeddings are excluded everywhere (seed draw, cell
    assignment, queries, corpus scan), mirroring the engine's
    NOT-NULL filter."""
    return f"""
        WITH seeds0 AS (
            SELECT vec_id, embedding FROM embeddings
            WHERE embedding IS NOT NULL
            ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {PQ_K}
        ),
        seeds AS (
            SELECT ROW_NUMBER() OVER (
                       ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
                   ) - 1 AS s_id,
                   embedding AS s_emb
            FROM seeds0
        ),
        coarse AS (
            SELECT s_id AS c_id, s_emb AS c_emb FROM seeds
            WHERE s_id < {IVFPQ_COARSE_K}
        ),
        cells AS (
            SELECT vec_id, c_id AS cell FROM (
                SELECT e.vec_id, c.c_id,
                       ROW_NUMBER() OVER (
                           PARTITION BY e.vec_id
                           ORDER BY ROUND(list_dot_product(
                               list_transform(e.embedding,
                                              x -> CAST(x AS DOUBLE)),
                               list_transform(c.c_emb,
                                              x -> CAST(x AS DOUBLE))
                           ), 6) DESC, c.c_id
                       ) AS rn
                FROM embeddings e CROSS JOIN coarse c
                WHERE e.embedding IS NOT NULL
            ) t WHERE rn = 1
        ),
        probes AS (
            SELECT q_id, c_id AS cell FROM (
                SELECT e.vec_id AS q_id, c.c_id,
                       ROW_NUMBER() OVER (
                           PARTITION BY e.vec_id
                           ORDER BY ROUND(list_dot_product(
                               list_transform(e.embedding,
                                              x -> CAST(x AS DOUBLE)),
                               list_transform(c.c_emb,
                                              x -> CAST(x AS DOUBLE))
                           ), 6) DESC, c.c_id
                       ) AS rn
                FROM embeddings e CROSS JOIN coarse c
                WHERE e.vec_id < {N_QUERIES}
                  AND e.embedding IS NOT NULL
            ) t WHERE rn <= {IVFPQ_PROBE}
        ),
        pairs AS (
            SELECT e.vec_id, t.sub, s.s_id AS code,
                   list_reduce(
                       list_prepend(CAST(0 AS DOUBLE),
                           list_transform(generate_series(1, {PQ_SUB_DIM}),
                               i -> CAST(e.embedding[t.sub * {PQ_SUB_DIM} + i]
                                         AS DOUBLE)
                                  - CAST(s.s_emb[t.sub * {PQ_SUB_DIM} + i]
                                         AS DOUBLE))),
                       (a, b) -> a + b * b) AS d2
            FROM embeddings e
            CROSS JOIN generate_series(0, {PQ_M - 1}) AS t(sub)
            CROSS JOIN seeds s
            WHERE e.embedding IS NOT NULL
        ),
        codes AS (
            SELECT vec_id, sub, code FROM (
                SELECT vec_id, sub, code, d2,
                       ROW_NUMBER() OVER (PARTITION BY vec_id, sub
                                          ORDER BY d2, code) AS rn
                FROM pairs
            ) t WHERE rn = 1
        ),
        lut AS (
            SELECT vec_id AS q_id, sub, code,
                   CAST(floor(d2 * 1000000 + 0.5) AS BIGINT) AS d2_micro
            FROM pairs WHERE vec_id < {N_QUERIES}
        ),
        scored AS (
            SELECT p.q_id, c.vec_id AS n_id,
                   CAST(SUM(l.d2_micro) AS BIGINT) AS adc_micro
            FROM codes c
            JOIN cells ce ON ce.vec_id = c.vec_id
            JOIN probes p ON p.cell = ce.cell
            JOIN lut l ON l.q_id = p.q_id AND l.sub = c.sub
                      AND l.code = c.code
            WHERE p.q_id <> c.vec_id
            GROUP BY 1, 2
        )
        SELECT q_id, n_id, ROUND(adc_micro / 1000000.0, 6) AS adc_d2,
               CAST(rank AS INTEGER) AS rank
        FROM (
            SELECT q_id, n_id, adc_micro,
                   ROW_NUMBER() OVER (PARTITION BY q_id
                                      ORDER BY adc_micro, n_id) AS rank
            FROM scored
        ) t WHERE rank <= {TOP_K}
    """


def _pagerank_oracle_sql() -> str:
    """Unrolled-CTE twin of ``pagerank`` over the kNN edges: r0..rN
    chained, each iteration the same integer contrib/in-sum/damp
    steps (DuckDB ``//`` ≡ Spark ``DIV`` on positive longs)."""
    base = PAGERANK_SCALE * (100 - PAGERANK_DAMP_NUM) // 100
    its = []
    for i in range(1, PAGERANK_ITERS + 1):
        its.append(f"""
        c{i} AS (
            SELECT e.n_id AS node, SUM(r.rank // e.out_deg) AS s
            FROM dedges e JOIN r{i - 1} r ON r.node = e.src_id
            GROUP BY e.n_id
        ),
        r{i} AS (
            SELECT n.node,
                   CAST({base} + ({PAGERANK_DAMP_NUM} * COALESCE(c{i}.s, 0))
                        // 100 AS BIGINT) AS rank
            FROM nodes n LEFT JOIN c{i} ON c{i}.node = n.node
        )""")
    return f"""
        WITH scored AS (
            SELECT a.vec_id AS src_id, b.vec_id AS n_id,
                   ROUND(list_dot_product(
                       list_transform(a.embedding, x -> CAST(x AS DOUBLE)),
                       list_transform(b.embedding, x -> CAST(x AS DOUBLE))
                   ), 6) AS cosine
            FROM embeddings a JOIN embeddings b
              ON a.label = b.label AND a.vec_id <> b.vec_id
        ),
        edges AS (
            SELECT src_id, n_id FROM (
                SELECT src_id, n_id,
                       ROW_NUMBER() OVER (PARTITION BY src_id
                                          ORDER BY cosine DESC, n_id) AS rank
                FROM scored
            ) t WHERE rank <= {KNN_K}
        ),
        nodes AS (SELECT DISTINCT src_id AS node FROM edges),
        deg AS (
            SELECT src_id, COUNT(*) AS out_deg FROM edges GROUP BY src_id
        ),
        dedges AS (
            SELECT e.src_id, e.n_id, d.out_deg
            FROM edges e JOIN deg d ON e.src_id = d.src_id
        ),
        r0 AS (
            SELECT node, CAST({PAGERANK_SCALE} AS BIGINT) AS rank FROM nodes
        ),{",".join(its)}
        SELECT node, rank FROM r{PAGERANK_ITERS}
    """

def _pca_oracle_sql() -> str:
    """Generated DuckDB twin of ``q_emb_pca_power``: replays the
    DECIMAL-exact centering, the 0.125 seed, and every unrolled power
    round — micro-integer w sums, truncating ``//`` division (parity
    with Spark ``DIV`` on NEGATIVE values too: both truncate toward
    zero), exact-integer norm, 6dp loadings — then the Rayleigh
    eigenvalue and per-dim variance tail."""

    def micro(expr: str) -> str:
        return (
            f"CAST(FLOOR(ROUND({expr}, 8) * 1000000.0 + 0.5) AS BIGINT)"
        )

    blocks = []
    prev = "v0"
    for t in range(1, PCA_ITERS + 1):
        blocks.append(f"""
        d{t} AS (SELECT c.vec_id, c.cx,
                        list_dot_product(c.cx, {prev}.v) AS dot
                 FROM c CROSS JOIN {prev}),
        w{t} AS (SELECT i AS pos,
                        CAST(SUM({micro("dot * cx[i]")}) AS BIGINT) AS wm
                 FROM d{t}, generate_series(1, {DIM}) AS g(i)
                 GROUP BY 1),
        wn{t} AS (SELECT pos, wm // n AS wn FROM w{t} CROSS JOIN cnt),
        nr{t} AS (SELECT CAST(SUM(wn * wn) AS BIGINT) AS ss FROM wn{t}),
        vv{t} AS (SELECT pos, ROUND(wn / sqrt(CAST(ss AS DOUBLE)), 6)
                             AS vv
                  FROM wn{t} CROSS JOIN nr{t}),
        v{t} AS (SELECT list(vv ORDER BY pos) AS v FROM vv{t})""")
        prev = f"v{t}"
    return f"""
        WITH e AS (
            SELECT vec_id,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings WHERE embedding IS NOT NULL
        ),
        cnt AS (SELECT COUNT(*) AS n FROM e),
        mu AS (
            SELECT i AS pos,
                   ROUND(CAST(SUM(CAST(v[i] AS DECIMAL(18,9))) AS DOUBLE)
                         / COUNT(*), 6) AS mv
            FROM e, generate_series(1, {DIM}) AS g(i)
            GROUP BY 1
        ),
        mua AS (SELECT list(mv ORDER BY pos) AS m FROM mu),
        c AS (
            SELECT vec_id,
                   list_transform(generate_series(1, {DIM}),
                                  i -> v[i] - m[i]) AS cx
            FROM e CROSS JOIN mua
        ),
        v0 AS (SELECT list_transform(generate_series(1, {DIM}),
                                     i -> CAST(0.125 AS DOUBLE)) AS v),
        {",".join(blocks)},
        df AS (SELECT c.cx, list_dot_product(c.cx, {prev}.v) AS dot
               FROM c CROSS JOIN {prev}),
        eig AS (
            -- HUGEINT sum (DuckDB's SUM(BIGINT) default) mirrors the
            -- engine's DECIMAL(38,0) accumulator; cast to BIGINT only
            -- AFTER the divisions so the result column arrives int64.
            SELECT CAST(SUM(dm * dm) // n // 1000000 AS BIGINT)
                       AS eig_micros
            FROM (SELECT {micro("dot")} AS dm FROM df) CROSS JOIN cnt
            GROUP BY n
        ),
        var AS (
            SELECT i AS pos,
                   CAST(SUM({micro("cx[i] * cx[i]")}) AS BIGINT) // n
                       AS var_micros
            FROM c CROSS JOIN cnt, generate_series(1, {DIM}) AS g(i)
            GROUP BY 1, n
        ),
        tot AS (SELECT CAST(SUM(var_micros) AS BIGINT) AS tv FROM var)
        SELECT CAST(mu.pos AS INTEGER) AS dim,
               mu.mv AS mu,
               var.var_micros,
               vv{PCA_ITERS}.vv AS loading,
               eig.eig_micros,
               ROUND(eig.eig_micros / tot.tv, 6) AS explained_ratio
        FROM mu
        JOIN vv{PCA_ITERS} ON vv{PCA_ITERS}.pos = mu.pos
        JOIN var ON var.pos = mu.pos
        CROSS JOIN eig CROSS JOIN tot
    """


def _greedy_oracle_sql() -> str:
    """Twin of ``graph_greedy_search``: the identical kNN edge CTE as
    the PageRank/triangle twins, the per-label md5 hub draw, the
    fully-connected hub layer, the LIMIT-1 entry, every unrolled beam
    hop (score the frontier's out-neighbors, dedup, incumbents
    compete, rank by (cs DESC, id), keep ``GREEDY_BEAM``), and the
    self-excluded brute-force top-1."""
    blocks = []
    prev = "s0"
    for t in range(1, GREEDY_HOPS + 1):
        blocks.append(f"""
        c{t} AS (
            SELECT DISTINCT s.q_id, ed.n_id AS id
            FROM {prev} s JOIN gedges ed ON ed.src_id = s.id
            WHERE ed.n_id <> s.q_id
        ),
        sc{t} AS (
            SELECT c.q_id, c.id,
                   ROUND(list_dot_product(q.q_emb, ev.v), 6) AS cs
            FROM c{t} c
            JOIN q ON q.q_id = c.q_id
            JOIN e ev ON ev.vec_id = c.id
        ),
        u{t} AS (
            SELECT DISTINCT q_id, id, cs FROM (
                SELECT q_id, id, cs FROM sc{t}
                UNION ALL
                SELECT q_id, id, cs FROM {prev}
            ) t
        ),
        s{t} AS (
            SELECT q_id, id, cs FROM (
                SELECT *, ROW_NUMBER() OVER (
                    PARTITION BY q_id ORDER BY cs DESC, id) AS rk
                FROM u{t}
            ) t WHERE rk <= {GREEDY_BEAM}
        )""")
        prev = f"s{t}"
    return f"""
        WITH e AS (
            SELECT vec_id, label,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings WHERE embedding IS NOT NULL
        ),
        scored AS (
            SELECT a.vec_id AS src_id, b.vec_id AS n_id,
                   ROUND(list_dot_product(a.v, b.v), 6) AS cosine
            FROM e a JOIN e b
              ON a.label = b.label AND a.vec_id <> b.vec_id
        ),
        kedges AS (
            SELECT src_id, n_id FROM (
                SELECT src_id, n_id,
                       ROW_NUMBER() OVER (PARTITION BY src_id
                                          ORDER BY cosine DESC, n_id) AS rank
                FROM scored
            ) t WHERE rank <= {KNN_K}
        ),
        hubs AS (
            SELECT vec_id FROM (
                SELECT vec_id, ROW_NUMBER() OVER (
                    PARTITION BY label
                    ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rk
                FROM e WHERE vec_id >= {N_QUERIES}
            ) t WHERE rk = 1
        ),
        gedges AS (
            SELECT DISTINCT src_id, n_id FROM (
                SELECT src_id, n_id FROM kedges
                UNION ALL
                SELECT n_id AS src_id, src_id AS n_id FROM kedges
                UNION ALL
                SELECT a.vec_id AS src_id, b.vec_id AS n_id
                FROM hubs a JOIN hubs b ON a.vec_id <> b.vec_id
            ) t
        ),
        entry AS (
            SELECT vec_id AS id FROM hubs
            ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 1
        ),
        q AS (
            SELECT vec_id AS q_id, v AS q_emb FROM e
            WHERE vec_id < {N_QUERIES}
        ),
        s0 AS (
            SELECT q.q_id, entry.id,
                   ROUND(list_dot_product(q.q_emb, ev.v), 6) AS cs
            FROM q CROSS JOIN entry JOIN e ev ON ev.vec_id = entry.id
        ),
        {",".join(blocks)},
        topk AS (
            SELECT q_id, n_id, cs, rk FROM (
                SELECT q.q_id, ev.vec_id AS n_id,
                       ROUND(list_dot_product(q.q_emb, ev.v), 6) AS cs,
                       ROW_NUMBER() OVER (
                           PARTITION BY q.q_id
                           ORDER BY ROUND(list_dot_product(q.q_emb, ev.v), 6)
                                    DESC, ev.vec_id) AS rk
                FROM q CROSS JOIN e ev WHERE ev.vec_id <> q.q_id
            ) t WHERE rk <= {TOP_K}
        ),
        best AS (
            SELECT q_id, n_id AS best_id, cs AS best_cs
            FROM topk WHERE rk = 1
        ),
        found AS (
            SELECT q_id, id AS found_id, cs AS found_cs FROM (
                SELECT *, ROW_NUMBER() OVER (
                    PARTITION BY q_id ORDER BY cs DESC, id) AS rk
                FROM {prev}
            ) t WHERE rk = 1
        )
        SELECT f.q_id, f.found_id, f.found_cs,
               b.best_id, b.best_cs,
               EXISTS (SELECT 1 FROM topk k
                       WHERE k.q_id = f.q_id
                         AND k.n_id = f.found_id) AS hit
        FROM found f JOIN best b USING (q_id)
    """


def _kcore_oracle_sql() -> str:
    """Twin of ``kcore`` over the kNN edges: the identical edge CTE,
    then every unrolled peel round — zero-filled degree recount,
    sub-k drop with its round stamp, survivor semi-restriction of the
    edge set — and the survivor/peeled assembly."""

    def deg_of(u: str) -> str:
        return (
            f"(SELECT v, COUNT(*) AS deg FROM "
            f"(SELECT a AS v FROM {u} UNION ALL SELECT b AS v FROM {u}) t "
            f"GROUP BY v)"
        )

    # AS MATERIALIZED on every per-round frame: each round references
    # the previous round's edge set ~3 times (two degree branches +
    # the restriction), and DuckDB's default CTE inlining re-executes
    # the whole upstream kNN self-join per reference — the same
    # ~3^rounds blowup the Spark side truncates with localCheckpoint.
    blocks = []
    prev_v, prev_u = "v0", "und"
    for r in range(1, KCORE_ROUNDS + 1):
        blocks.append(f"""
        d{r} AS MATERIALIZED (
            SELECT vv.v, CAST(COALESCE(cnt.deg, 0) AS BIGINT) AS deg
            FROM {prev_v} vv LEFT JOIN {deg_of(prev_u)} cnt USING (v)
        ),
        p{r} AS (SELECT v, {r} AS peel_round FROM d{r} WHERE deg < {KCORE_K}),
        v{r} AS (SELECT v FROM d{r} WHERE deg >= {KCORE_K}),
        u{r} AS MATERIALIZED (
            SELECT u.a, u.b FROM {prev_u} u
            JOIN v{r} x ON x.v = u.a
            JOIN v{r} y ON y.v = u.b
        )""")
        prev_v, prev_u = f"v{r}", f"u{r}"
    peeled_union = "\n            UNION ALL ".join(
        f"SELECT v, peel_round FROM p{r}" for r in range(1, KCORE_ROUNDS + 1)
    )
    return f"""
        WITH scored AS (
            SELECT a.vec_id AS src_id, b.vec_id AS n_id,
                   ROUND(list_dot_product(
                       list_transform(a.embedding, x -> CAST(x AS DOUBLE)),
                       list_transform(b.embedding, x -> CAST(x AS DOUBLE))
                   ), 6) AS cosine
            FROM embeddings a JOIN embeddings b
              ON a.label = b.label AND a.vec_id <> b.vec_id
        ),
        kedges AS (
            SELECT src_id, n_id FROM (
                SELECT src_id, n_id,
                       ROW_NUMBER() OVER (PARTITION BY src_id
                                          ORDER BY cosine DESC, n_id) AS rank
                FROM scored
            ) t WHERE rank <= {KNN_K}
        ),
        und AS MATERIALIZED (
            SELECT DISTINCT LEAST(m.src_id, m.n_id) AS a,
                            GREATEST(m.src_id, m.n_id) AS b
            FROM kedges m JOIN kedges r
              ON m.src_id = r.n_id AND m.n_id = r.src_id
            WHERE m.src_id <> m.n_id
        ),
        deg0 AS MATERIALIZED (
            SELECT v, CAST(COUNT(*) AS BIGINT) AS deg
            FROM (SELECT a AS v FROM und UNION ALL SELECT b AS v FROM und) t
            GROUP BY v
        ),
        v0 AS (SELECT v FROM deg0),
        {",".join(blocks)},
        peeled AS ({peeled_union}),
        core AS (
            SELECT vv.v, CAST(COALESCE(cnt.deg, 0) AS BIGINT)
                       AS core_degree
            FROM {prev_v} vv LEFT JOIN {deg_of(prev_u)} cnt USING (v)
        )
        SELECT d0.v AS vec_id,
               d0.deg AS initial_degree,
               CAST(p.peel_round AS INTEGER) AS peel_round,
               (c.v IS NOT NULL) AS in_core,
               c.core_degree
        FROM deg0 d0
        LEFT JOIN peeled p ON p.v = d0.v
        LEFT JOIN core c ON c.v = d0.v
    """


def _lpa_oracle_sql() -> str:
    """Twin of ``label_propagation`` over the kNN edges: the identical
    edge CTE, UNION-symmetrized, then every unrolled synchronous round
    — neighbor-label counts, mode with (count DESC, label ASC)
    tie-break — and the final community-size window. AS MATERIALIZED
    per round for the same fan-out reason as the k-core twin."""
    blocks = []
    prev = "l0"
    for i in range(1, LPA_ITERS + 1):
        blocks.append(f"""
        c{i} AS MATERIALIZED (
            SELECT e.src_id AS node, l.lab AS nlab,
                   CAST(COUNT(*) AS BIGINT) AS c
            FROM und e JOIN {prev} l ON l.node = e.n_id
            GROUP BY 1, 2
        ),
        l{i} AS MATERIALIZED (
            SELECT node, nlab AS lab FROM (
                SELECT node, nlab,
                       ROW_NUMBER() OVER (PARTITION BY node
                                          ORDER BY c DESC, nlab) AS rn
                FROM c{i}
            ) t WHERE rn = 1
        )""")
        prev = f"l{i}"
    return f"""
        WITH scored AS (
            SELECT a.vec_id AS src_id, b.vec_id AS n_id,
                   ROUND(list_dot_product(
                       list_transform(a.embedding, x -> CAST(x AS DOUBLE)),
                       list_transform(b.embedding, x -> CAST(x AS DOUBLE))
                   ), 6) AS cosine
            FROM embeddings a JOIN embeddings b
              ON a.label = b.label AND a.vec_id <> b.vec_id
        ),
        kedges AS (
            SELECT src_id, n_id FROM (
                SELECT src_id, n_id,
                       ROW_NUMBER() OVER (PARTITION BY src_id
                                          ORDER BY cosine DESC, n_id) AS rank
                FROM scored
            ) t WHERE rank <= {KNN_K}
        ),
        und AS MATERIALIZED (
            SELECT src_id, n_id FROM kedges
            UNION
            SELECT n_id, src_id FROM kedges
        ),
        l0 AS (SELECT DISTINCT src_id AS node, src_id AS lab FROM und),
        {",".join(blocks)}
        SELECT node, lab AS community,
               CAST(COUNT(*) OVER (PARTITION BY lab) AS BIGINT)
                   AS community_size
        FROM {prev}
    """


def _triangle_oracle_sql() -> str:
    """Twin of ``triangle_count`` over the kNN edges: the same
    degree-ordered orientation, wedge join, EXISTS closure check, and
    corner fan-out, on the identical edge CTE as the PageRank twin."""
    return f"""
        WITH scored AS (
            SELECT a.vec_id AS src_id, b.vec_id AS n_id,
                   ROUND(list_dot_product(
                       list_transform(a.embedding, x -> CAST(x AS DOUBLE)),
                       list_transform(b.embedding, x -> CAST(x AS DOUBLE))
                   ), 6) AS cosine
            FROM embeddings a JOIN embeddings b
              ON a.label = b.label AND a.vec_id <> b.vec_id
        ),
        edges AS (
            SELECT src_id, n_id FROM (
                SELECT src_id, n_id,
                       ROW_NUMBER() OVER (PARTITION BY src_id
                                          ORDER BY cosine DESC, n_id) AS rank
                FROM scored
            ) t WHERE rank <= {KNN_K}
        ),
        und AS (
            SELECT DISTINCT LEAST(src_id, n_id) AS a,
                            GREATEST(src_id, n_id) AS b
            FROM edges WHERE src_id <> n_id
        ),
        deg AS (
            SELECT v, COUNT(*) AS deg FROM (
                SELECT a AS v FROM und
                UNION ALL SELECT b AS v FROM und
            ) GROUP BY v
        ),
        oriented AS (
            SELECT CASE WHEN (da.deg < db.deg)
                          OR (da.deg = db.deg AND e.a < e.b)
                        THEN e.a ELSE e.b END AS u,
                   CASE WHEN (da.deg < db.deg)
                          OR (da.deg = db.deg AND e.a < e.b)
                        THEN e.b ELSE e.a END AS w
            FROM und e
            JOIN deg da ON da.v = e.a
            JOIN deg db ON db.v = e.b
        ),
        closed AS (
            SELECT o1.u AS x, o1.w AS y, o2.w AS z
            FROM oriented o1 JOIN oriented o2 ON o1.w = o2.u
            WHERE EXISTS (SELECT 1 FROM oriented o
                          WHERE o.u = o1.u AND o.w = o2.w)
        ),
        tri AS (
            SELECT v, CAST(COUNT(*) AS BIGINT) AS t
            FROM (SELECT unnest([x, y, z]) AS v FROM closed)
            GROUP BY v
        )
        SELECT d.v AS vec_id,
               CAST(d.deg AS BIGINT) AS degree,
               COALESCE(tri.t, 0) AS n_triangles,
               CASE WHEN d.deg >= 2
                    THEN ROUND(2 * COALESCE(tri.t, 0)
                               / (d.deg * (d.deg - 1)), 6) END
                   AS clustering
        FROM deg d LEFT JOIN tri ON tri.v = d.v
    """


def _lsh_buckets_sql() -> str:
    """The per-table LSH bucket-id expressions as a DuckDB list body —
    shared by the top-k and range-search oracle generators so the two
    twins can never disagree on the index they replay."""
    per_table = []
    for t in range(N_TABLES):
        bits = [str(t << N_PLANES_PER_TABLE)]
        for i, plane in enumerate(_hyperplanes(t)):
            lit = "[" + ", ".join(repr(x) for x in plane) + "]"
            bits.append(
                f"CASE WHEN list_dot_product(v, {lit}) > 0 "
                f"THEN {1 << i} ELSE 0 END"
            )
        per_table.append("(" + " + ".join(bits) + ")")
    return ",\n                   ".join(per_table)


def _lsh_oracle_sql() -> str:
    """Generated DuckDB twin of ``q_ann_lsh_topk``: the hyperplanes
    come from the SAME ``_hyperplanes`` LCG, inlined as list literals,
    so the oracle cannot drift from the implementation. Sign bits are
    engine-identical because both sides compute the dot product as a
    sequential in-order fold over the same doubles (the property the
    6dp-rounded cosine oracles already rely on), so the bucket ids —
    and therefore the candidate sets — agree exactly, making this
    'probabilistic' index fully hash-checkable.
    """
    buckets = _lsh_buckets_sql()
    return f"""
        WITH e AS (
            SELECT vec_id,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings
        ),
        b AS (
            SELECT vec_id, v,
                   unnest([{buckets}]) AS bucket
            FROM e
        ),
        q AS (
            SELECT vec_id AS q_id, v AS q_emb, bucket FROM b
            WHERE vec_id < {N_QUERIES}
        ),
        scored AS (
            SELECT DISTINCT q_id, c.vec_id AS n_id,
                   ROUND(list_dot_product(q_emb, c.v), 6) AS cosine
            FROM b c JOIN q USING (bucket)
            WHERE q_id <> c.vec_id
        )
        SELECT q_id, n_id, cosine, CAST(rank AS INTEGER) AS rank FROM (
            SELECT q_id, n_id, cosine,
                   ROW_NUMBER() OVER (PARTITION BY q_id
                                      ORDER BY cosine DESC, n_id) AS rank
            FROM scored
        ) t WHERE rank <= {TOP_K}
    """


def _lsh_range_oracle_sql() -> str:
    """Generated DuckDB twin of ``q_ann_range_search``: the same
    ``_lsh_buckets_sql`` index body as the top-k twin, with the final
    window replaced by the threshold filter."""
    buckets = _lsh_buckets_sql()
    return f"""
        WITH e AS (
            SELECT vec_id,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings
        ),
        b AS (
            SELECT vec_id, v,
                   unnest([{buckets}]) AS bucket
            FROM e
        ),
        q AS (
            SELECT vec_id AS q_id, v AS q_emb, bucket FROM b
            WHERE vec_id < {N_QUERIES}
        )
        SELECT DISTINCT q_id, c.vec_id AS n_id,
               ROUND(list_dot_product(q_emb, c.v), 6) AS cosine
        FROM b c JOIN q USING (bucket)
        WHERE q_id <> c.vec_id
          AND ROUND(list_dot_product(q_emb, c.v), 6) >= {RANGE_TAU}
    """


def _ivf_oracle_sql() -> str:
    """Generated DuckDB twin of ``q_ann_ivf_topk``: replays the
    md5-ranked seed draw, the 6dp-rounded seed assignment, the
    DECIMAL(18,9) Lloyd means, the probe selection, and the final
    scoring — step for step. Both engines fold dot products
    sequentially over the same doubles and round at the same 6dp
    points, so every intermediate (and therefore the candidate set)
    agrees exactly; the one Lloyd refinement uses decimal sums, so the
    cell means are accumulation-order independent on the Spark side.
    """
    return f"""
        WITH e AS (
            SELECT vec_id,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
                   embedding AS raw
            FROM embeddings
        ),
        seeds AS (
            SELECT ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)),
                                      vec_id) - 1 AS s_id,
                   v AS s_emb
            FROM e
            ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
            LIMIT {N_CENTROIDS}
        ),
        assigned AS (
            SELECT vec_id, raw, s_id AS cell FROM (
                SELECT e.vec_id, e.raw, s.s_id,
                       ROW_NUMBER() OVER (
                           PARTITION BY e.vec_id
                           ORDER BY ROUND(list_dot_product(e.v, s.s_emb), 6)
                                    DESC, s.s_id) AS rn
                FROM e CROSS JOIN seeds s
            ) t WHERE rn = 1
        ),
        cm AS (
            SELECT cell, i AS pos,
                   ROUND(CAST(SUM(CAST(raw[i] AS DECIMAL(18,9))) AS DOUBLE)
                         / COUNT(*), 6) AS cv
            FROM assigned, generate_series(1, {DIM}) AS t(i)
            GROUP BY 1, 2
        ),
        cent AS (
            SELECT cell AS c_id, list(cv ORDER BY pos) AS c
            FROM cm GROUP BY cell
        ),
        corpus AS (
            SELECT n_id, n_emb, c_id FROM (
                SELECT e.vec_id AS n_id, e.v AS n_emb, cent.c_id,
                       ROW_NUMBER() OVER (
                           PARTITION BY e.vec_id
                           ORDER BY ROUND(list_dot_product(e.v, cent.c), 6)
                                    DESC, cent.c_id) AS rn
                FROM e CROSS JOIN cent
            ) t WHERE rn = 1
        ),
        q AS (
            SELECT q_id, q_emb, c_id FROM (
                SELECT e.vec_id AS q_id, e.v AS q_emb, cent.c_id,
                       ROW_NUMBER() OVER (
                           PARTITION BY e.vec_id
                           ORDER BY ROUND(list_dot_product(e.v, cent.c), 6)
                                    DESC, cent.c_id) AS rn
                FROM e CROSS JOIN cent
                WHERE e.vec_id < {N_QUERIES}
            ) t WHERE rn <= {N_PROBE}
        ),
        scored AS (
            SELECT DISTINCT q_id, n_id,
                   ROUND(list_dot_product(q_emb, n_emb), 6) AS cosine
            FROM corpus JOIN q USING (c_id)
            WHERE q_id <> n_id
        )
        SELECT q_id, n_id, cosine, CAST(rank AS INTEGER) AS rank FROM (
            SELECT q_id, n_id, cosine,
                   ROW_NUMBER() OVER (PARTITION BY q_id
                                      ORDER BY cosine DESC, n_id) AS rank
            FROM scored
        ) t WHERE rank <= {TOP_K}
    """


def _kmeans_cte_chain() -> tuple[str, str]:
    """The shared k-means CTE chain (NULL-filtered ``e``, md5-ranked
    ``cent0``, one asg/cm/cent block per unrolled round). Returns
    ``(cte_text, final_cent_name)`` — consumed by the k-means twin and
    by the IVF-over-k-means twin, so the two oracles can never train a
    different codebook."""
    blocks = []
    prev = "cent0"
    for t in range(1, KMEANS_ITERS + 1):
        blocks.append(f"""
        asg{t} AS (
            SELECT vec_id, v, c_id AS cell FROM (
                SELECT e.vec_id, e.v, c.c_id,
                       ROW_NUMBER() OVER (
                           PARTITION BY e.vec_id
                           ORDER BY ROUND(list_dot_product(e.v, c.c), 6)
                                    DESC, c.c_id) AS rn
                FROM e CROSS JOIN {prev} c
            ) t WHERE rn = 1
        ),
        cm{t} AS (
            SELECT cell, i AS pos,
                   ROUND(CAST(SUM(CAST(v[i] AS DECIMAL(18,9))) AS DOUBLE)
                         / COUNT(*), 6) AS cv
            FROM asg{t}, generate_series(1, {DIM}) AS t(i)
            GROUP BY 1, 2
        ),
        cent{t} AS (
            SELECT cell AS c_id, list(cv ORDER BY pos) AS c
            FROM cm{t} GROUP BY cell
        )""")
        prev = f"cent{t}"
    chain = f"""
        e AS (
            SELECT vec_id,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings WHERE embedding IS NOT NULL
        ),
        cent0 AS (
            SELECT ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)),
                                      vec_id) - 1 AS c_id,
                   v AS c
            FROM e
            ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
            LIMIT {N_CENTROIDS}
        ),
        {",".join(blocks)}"""
    return chain, prev


def _kmeans_oracle_sql() -> str:
    """Generated DuckDB twin of ``q_emb_kmeans_lloyd``: replays the
    md5-ranked seed draw and every unrolled Lloyd round — 6dp-rounded
    dot assignment (ties to the smaller centroid id), DECIMAL(18,9)
    means rounded 6dp — then the final assignment with its 6dp score.
    The same step-for-step pairing ``_ivf_oracle_sql`` uses, iterated.
    """
    chain, cent = _kmeans_cte_chain()
    return f"""
        WITH {chain}
        SELECT vec_id, CAST(cluster AS INTEGER) AS cluster, cs FROM (
            SELECT e.vec_id, c.c_id AS cluster,
                   ROUND(list_dot_product(e.v, c.c), 6) AS cs,
                   ROW_NUMBER() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY ROUND(list_dot_product(e.v, c.c), 6)
                                DESC, c.c_id) AS rn
            FROM e CROSS JOIN {cent} c
        ) t WHERE rn = 1
    """


def _ivf_kmeans_oracle_sql() -> str:
    """Generated DuckDB twin of ``q_ann_ivf_kmeans_topk``: the shared
    k-means CTE chain feeding the IVF probe/score tail — list
    assignment, probe selection, candidate scoring, per-query top-k —
    all over the NULL-filtered vector frame."""
    chain, cent = _kmeans_cte_chain()
    return f"""
        WITH {chain},
        corpus AS (
            SELECT n_id, n_emb, c_id FROM (
                SELECT e.vec_id AS n_id, e.v AS n_emb, c.c_id,
                       ROW_NUMBER() OVER (
                           PARTITION BY e.vec_id
                           ORDER BY ROUND(list_dot_product(e.v, c.c), 6)
                                    DESC, c.c_id) AS rn
                FROM e CROSS JOIN {cent} c
            ) t WHERE rn = 1
        ),
        q AS (
            SELECT q_id, q_emb, c_id FROM (
                SELECT e.vec_id AS q_id, e.v AS q_emb, c.c_id,
                       ROW_NUMBER() OVER (
                           PARTITION BY e.vec_id
                           ORDER BY ROUND(list_dot_product(e.v, c.c), 6)
                                    DESC, c.c_id) AS rn
                FROM e CROSS JOIN {cent} c
                WHERE e.vec_id < {N_QUERIES}
            ) t WHERE rn <= {N_PROBE}
        ),
        scored AS (
            SELECT DISTINCT q_id, n_id,
                   ROUND(list_dot_product(q_emb, n_emb), 6) AS cosine
            FROM corpus JOIN q USING (c_id)
            WHERE q_id <> n_id
        )
        SELECT q_id, n_id, cosine, CAST(rank AS INTEGER) AS rank FROM (
            SELECT q_id, n_id, cosine,
                   ROW_NUMBER() OVER (PARTITION BY q_id
                                      ORDER BY cosine DESC, n_id) AS rank
            FROM scored
        ) t WHERE rank <= {TOP_K}
    """


#: The PQ-ADC derivation (seed draw → sub-codebooks → codes → query
#: LUT → per-(query, vector) ADC sums), shared verbatim by the flat
#: ADC twin and the two-stage rerank twin — the rerank oracle must
#: replay the IDENTICAL stage-1 shortlist.
_ADC_SCORED_CTES = f"""seeds0 AS (
            SELECT vec_id, embedding FROM embeddings
            WHERE embedding IS NOT NULL
            ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {PQ_K}
        ),
        seeds AS (
            SELECT ROW_NUMBER() OVER (
                       ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
                   ) - 1 AS code,
                   embedding AS s_emb
            FROM seeds0
        ),
        pairs AS (
            SELECT e.vec_id, t.sub, s.code,
                   list_reduce(
                       list_prepend(CAST(0 AS DOUBLE),
                           list_transform(generate_series(1, {PQ_SUB_DIM}),
                               i -> CAST(e.embedding[t.sub * {PQ_SUB_DIM} + i]
                                         AS DOUBLE)
                                  - CAST(s.s_emb[t.sub * {PQ_SUB_DIM} + i]
                                         AS DOUBLE))),
                       (a, b) -> a + b * b) AS d2
            FROM embeddings e
            CROSS JOIN generate_series(0, {PQ_M - 1}) AS t(sub)
            CROSS JOIN seeds s
            WHERE e.embedding IS NOT NULL
        ),
        codes AS (
            SELECT vec_id, sub, code FROM (
                SELECT vec_id, sub, code, d2,
                       ROW_NUMBER() OVER (PARTITION BY vec_id, sub
                                          ORDER BY d2, code) AS rn
                FROM pairs
            ) t WHERE rn = 1
        ),
        lut AS (
            SELECT vec_id AS q_id, sub, code,
                   CAST(floor(d2 * 1000000 + 0.5) AS BIGINT) AS d2_micro
            FROM pairs WHERE vec_id < {N_QUERIES}
        ),
        scored AS (
            SELECT l.q_id, c.vec_id AS n_id,
                   CAST(SUM(l.d2_micro) AS BIGINT) AS adc_micro
            FROM codes c JOIN lut l ON l.sub = c.sub AND l.code = c.code
            WHERE l.q_id <> c.vec_id
            GROUP BY 1, 2
        )"""


ORACLES = {
    "emb_kmeans_lloyd": _kmeans_oracle_sql(),
    "ann_ivf_kmeans_topk": _ivf_kmeans_oracle_sql(),
    "ann_lsh_topk": _lsh_oracle_sql(),
    "ann_range_search": _lsh_range_oracle_sql(),
    "ann_ivf_topk": _ivf_oracle_sql(),
    "graph_pagerank": _pagerank_oracle_sql(),
    "graph_triangle_count": _triangle_oracle_sql(),
    "graph_kcore": _kcore_oracle_sql(),
    "graph_label_propagation": _lpa_oracle_sql(),
    "emb_pca_power": _pca_oracle_sql(),
    "ann_graph_greedy": _greedy_oracle_sql(),
    "ann_ivfpq_topk": _ivfpq_oracle_sql(),
    "emb_pq_codes": f"""
        WITH seeds0 AS (
            SELECT vec_id, embedding FROM embeddings
            WHERE embedding IS NOT NULL
            ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {PQ_K}
        ),
        seeds AS (
            SELECT ROW_NUMBER() OVER (
                       ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
                   ) - 1 AS s_id,
                   embedding AS s_emb
            FROM seeds0
        ),
        pairs AS (
            SELECT e.vec_id, t.sub, s.s_id,
                   list_reduce(
                       list_prepend(CAST(0 AS DOUBLE),
                           list_transform(generate_series(1, {PQ_SUB_DIM}),
                               i -> CAST(e.embedding[t.sub * {PQ_SUB_DIM} + i]
                                         AS DOUBLE)
                                  - CAST(s.s_emb[t.sub * {PQ_SUB_DIM} + i]
                                         AS DOUBLE))),
                       (a, b) -> a + b * b) AS d2
            FROM embeddings e
            CROSS JOIN generate_series(0, {PQ_M - 1}) AS t(sub)
            CROSS JOIN seeds s
            WHERE e.embedding IS NOT NULL
        )
        SELECT vec_id, CAST(sub AS INT) AS sub, CAST(s_id AS INT) AS code,
               ROUND(d2, 6) AS dist2
        FROM (
            SELECT vec_id, sub, s_id, d2,
                   ROW_NUMBER() OVER (PARTITION BY vec_id, sub
                                      ORDER BY d2, s_id) AS rn
            FROM pairs
        ) t WHERE rn = 1
    """,
    "ann_pq_adc_topk": f"""
        WITH {_ADC_SCORED_CTES}
        SELECT q_id, n_id, ROUND(adc_micro / 1000000.0, 6) AS adc_d2,
               CAST(rank AS INTEGER) AS rank
        FROM (
            SELECT q_id, n_id, adc_micro,
                   ROW_NUMBER() OVER (PARTITION BY q_id
                                      ORDER BY adc_micro, n_id) AS rank
            FROM scored
        ) t WHERE rank <= {TOP_K}
    """,
    "ann_rerank_topk": f"""
        WITH {_ADC_SCORED_CTES},
        short AS (
            SELECT q_id, n_id FROM (
                SELECT q_id, n_id,
                       ROW_NUMBER() OVER (PARTITION BY q_id
                                          ORDER BY adc_micro, n_id) AS rk
                FROM scored
            ) t WHERE rk <= {RERANK_SHORTLIST}
        ),
        rr AS (
            SELECT s.q_id, s.n_id,
                   ROUND(list_dot_product(
                       list_transform(qe.embedding, x -> CAST(x AS DOUBLE)),
                       list_transform(ne.embedding, x -> CAST(x AS DOUBLE))
                   ), 6) AS cosine
            FROM short s
            JOIN embeddings qe ON qe.vec_id = s.q_id
            JOIN embeddings ne ON ne.vec_id = s.n_id
        )
        SELECT q_id, n_id, cosine, CAST(rank AS INTEGER) AS rank
        FROM (
            SELECT q_id, n_id, cosine,
                   ROW_NUMBER() OVER (PARTITION BY q_id
                                      ORDER BY cosine DESC, n_id) AS rank
            FROM rr
        ) t WHERE rank <= {TOP_K}
    """,
    "emb_assign_nearest": f"""
        WITH cent AS (
            SELECT label, i AS pos,
                   ROUND(CAST(SUM(CAST(embedding[i] AS DECIMAL(18,9))) AS DOUBLE)
                         / COUNT(*), 6) AS centroid_val
            FROM embeddings, generate_series(1, {DIM}) AS t(i)
            WHERE embedding IS NOT NULL
            GROUP BY 1, 2
        ),
        carr AS (
            SELECT label AS c_label, list(centroid_val ORDER BY pos) AS c
            FROM cent GROUP BY label
        ),
        scored AS (
            SELECT e.vec_id, carr.c_label,
                   ROUND(list_dot_product(
                       list_transform(e.embedding, x -> CAST(x AS DOUBLE)), c)
                       / sqrt(list_dot_product(c, c)), 6) AS cos6
            FROM embeddings e CROSS JOIN carr
            WHERE e.embedding IS NOT NULL
        )
        SELECT vec_id, c_label AS assigned_label, cos6 AS cosine FROM (
            SELECT vec_id, c_label, cos6,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                                      ORDER BY cos6 DESC, c_label) AS rn
            FROM scored
        ) t WHERE rn = 1
    """,
    "emb_outliers": f"""
        WITH cent AS (
            SELECT label, i AS pos,
                   ROUND(CAST(SUM(CAST(embedding[i] AS DECIMAL(18,9))) AS DOUBLE)
                         / COUNT(*), 6) AS centroid_val
            FROM embeddings, generate_series(1, {DIM}) AS t(i)
            WHERE embedding IS NOT NULL
            GROUP BY 1, 2
        ),
        carr AS (
            SELECT label AS c_label, list(centroid_val ORDER BY pos) AS c
            FROM cent GROUP BY label
        ),
        base AS (
            SELECT e.vec_id, e.label,
                   CAST(FLOOR(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                       list_transform(generate_series(1, {DIM}),
                           i -> (CAST(e.embedding[i] AS DOUBLE) - c[i])
                              * (CAST(e.embedding[i] AS DOUBLE) - c[i]))),
                       (a, b) -> a + b) * 1000000.0 + 0.5) AS BIGINT)
                       AS d2_micros
            FROM embeddings e JOIN carr ON carr.c_label = e.label
            WHERE e.embedding IS NOT NULL
        ),
        stats AS (
            SELECT label, COUNT(*) AS n,
                   CAST(SUM(d2_micros) AS BIGINT) AS s,
                   SUM(CAST(d2_micros AS HUGEINT) * d2_micros) AS q
            FROM base GROUP BY label
        ),
        thr AS (
            SELECT label,
                   CAST(FLOOR(ROUND(
                       CAST(s AS DOUBLE) / n
                       + {OUTLIER_Z} * sqrt(GREATEST(
                           CAST(q AS DOUBLE) / n
                           - (CAST(s AS DOUBLE) / n)
                             * (CAST(s AS DOUBLE) / n),
                           0.0))
                   , 8) + 0.5) AS BIGINT) AS thr_micros
            FROM stats
        )
        SELECT b.vec_id, b.label, b.d2_micros, t.thr_micros,
               b.d2_micros > t.thr_micros AS is_outlier
        FROM base b JOIN thr t USING (label)
    """,
    # NULL embeddings contribute nothing to a mean-pool: the engine's
    # posexplode emits no rows for them, so the twin's per-dimension
    # COUNT(*) divisor must see the same universe.
    "emb_centroid": f"""
        SELECT label, i AS pos,
               ROUND(CAST(SUM(CAST(embedding[i] AS DECIMAL(18,9))) AS DOUBLE)
                     / COUNT(*), 6) AS centroid_val,
               COUNT(*) AS n_vecs
        FROM embeddings, generate_series(1, {DIM}) AS t(i)
        WHERE embedding IS NOT NULL
        GROUP BY 1, 2
    """,
    # Epsilon-ball domination within the stored cluster cell: b is
    # dropped iff some lower-id a in the same cell has
    # ROUND(dot, 6) >= tau.
    "emb_semdedup": f"""
        WITH e AS (
            SELECT vec_id, label AS cell, embedding FROM embeddings
        ),
        dropped AS (
            SELECT DISTINCT b.vec_id
            FROM e a JOIN e b ON a.cell = b.cell AND a.vec_id < b.vec_id
            WHERE ROUND(list_dot_product(
                      list_transform(a.embedding, x -> CAST(x AS DOUBLE)),
                      list_transform(b.embedding, x -> CAST(x AS DOUBLE))
                  ), 6) >= {SEMDEDUP_TAU}
        )
        SELECT e.vec_id, e.cell, (d.vec_id IS NULL) AS kept
        FROM e LEFT JOIN dropped d ON e.vec_id = d.vec_id
    """,
    "emb_knn_graph": f"""
        WITH scored AS (
            SELECT a.label, a.vec_id AS src_id, b.vec_id AS n_id,
                   ROUND(list_dot_product(
                       list_transform(a.embedding, x -> CAST(x AS DOUBLE)),
                       list_transform(b.embedding, x -> CAST(x AS DOUBLE))
                   ), 6) AS cosine
            FROM embeddings a JOIN embeddings b
              ON a.label = b.label AND a.vec_id <> b.vec_id
        )
        SELECT label, src_id, n_id, cosine, CAST(rank AS INTEGER) AS rank
        FROM (
            SELECT label, src_id, n_id, cosine,
                   ROW_NUMBER() OVER (PARTITION BY src_id
                                      ORDER BY cosine DESC, n_id) AS rank
            FROM scored
        ) t WHERE rank <= {KNN_K}
    """,
    "emb_hard_negatives": f"""
        WITH nb AS (
            SELECT CAST(CEIL(COUNT(*) / CAST({HN_BATCH_CAP} AS DOUBLE))
                        AS BIGINT) AS n_batch
            FROM embeddings
        ),
        batched AS (
            SELECT vec_id % (SELECT n_batch FROM nb) AS batch,
                   vec_id, label, embedding
            FROM embeddings
        ),
        scored AS (
            SELECT a.vec_id AS src_id, a.label AS src_label,
                   n.vec_id AS neg_id, n.label AS neg_label,
                   ROUND(list_dot_product(
                       list_transform(a.embedding, x -> CAST(x AS DOUBLE)),
                       list_transform(n.embedding, x -> CAST(x AS DOUBLE))
                   ), 6) AS cosine
            FROM batched a JOIN batched n
              ON a.batch = n.batch AND a.label <> n.label
        )
        SELECT src_id, src_label, neg_id, neg_label, cosine,
               CAST(rank AS INTEGER) AS rank
        FROM (
            SELECT src_id, src_label, neg_id, neg_label, cosine,
                   ROW_NUMBER() OVER (PARTITION BY src_id
                                      ORDER BY cosine DESC, neg_id) AS rank
            FROM scored
        ) t WHERE rank <= {HN_K}
    """,
    "ann_cosine_topk": f"""
        WITH q AS (
            SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings
            WHERE vec_id < {N_QUERIES}
        ),
        scored AS (
            SELECT q_id, e.vec_id AS n_id,
                   ROUND(list_dot_product(
                       list_transform(q_emb, x -> CAST(x AS DOUBLE)),
                       list_transform(e.embedding, x -> CAST(x AS DOUBLE))
                   ), 6) AS cosine
            FROM embeddings e CROSS JOIN q
            WHERE q_id <> e.vec_id
        )
        SELECT q_id, n_id, cosine, CAST(rank AS INTEGER) AS rank FROM (
            SELECT q_id, n_id, cosine,
                   ROW_NUMBER() OVER (PARTITION BY q_id
                                      ORDER BY cosine DESC, n_id) AS rank
            FROM scored
        ) t WHERE rank <= {TOP_K}
    """,
    "ann_hamming_topk": f"""
        WITH codes AS (
            SELECT vec_id,
                   CAST(list_sum(list_transform(range(1, 33), i ->
                       CASE WHEN CAST(embedding[i] AS DOUBLE) > 0
                            THEN (1::BIGINT << (i - 1))
                            ELSE 0::BIGINT END)) AS BIGINT) AS lo,
                   CAST(list_sum(list_transform(range(33, 65), i ->
                       CASE WHEN CAST(embedding[i] AS DOUBLE) > 0
                            THEN (1::BIGINT << (i - 33))
                            ELSE 0::BIGINT END)) AS BIGINT) AS hi
            FROM embeddings
        ),
        q AS (
            SELECT vec_id AS q_id, lo AS q_lo, hi AS q_hi FROM codes
            WHERE vec_id < {N_QUERIES}
        ),
        scored AS (
            SELECT q_id, c.vec_id AS n_id,
                   CAST(bit_count(xor(q_lo, c.lo))
                        + bit_count(xor(q_hi, c.hi)) AS BIGINT) AS hamming
            FROM codes c CROSS JOIN q
            WHERE q_id <> c.vec_id
        )
        SELECT q_id, n_id, hamming, CAST(rank AS INTEGER) AS rank FROM (
            SELECT q_id, n_id, hamming,
                   ROW_NUMBER() OVER (PARTITION BY q_id
                                      ORDER BY hamming, n_id) AS rank
            FROM scored
        ) t WHERE rank <= {TOP_K}
    """,
    # NULL embeddings profile as absent (the engine's posexplode emits
    # nothing for them): n_vals counts present vectors per dimension.
    "emb_dim_stats": f"""
        WITH ex AS (
            SELECT g.i AS dim,
                   CAST(FLOOR(CAST(embedding[g.i] AS DOUBLE) * 1000000 + 0.5)
                        AS BIGINT) AS micro
            FROM embeddings CROSS JOIN generate_series(1, {DIM}) AS g(i)
            WHERE embedding IS NOT NULL
        )
        SELECT dim, COUNT(*) AS n_vals,
               CAST(SUM(micro) AS BIGINT) AS sum_micro,
               CAST(SUM(CAST(micro AS HUGEINT) * micro) AS BIGINT)
                   AS sumsq_micro,
               MIN(micro) AS min_micro,
               MAX(micro) AS max_micro
        FROM ex GROUP BY dim
    """,
    "emb_sq8": f"""
        WITH stats AS (
            SELECT dim, MIN(micro) AS mn, MAX(micro) AS mx FROM (
                SELECT g.i AS dim,
                       CAST(FLOOR(CAST(embedding[g.i] AS DOUBLE) * 1000000
                                  + 0.5) AS BIGINT) AS micro
                FROM embeddings
                CROSS JOIN generate_series(1, {DIM}) AS g(i)
            ) t GROUP BY dim
        ),
        enc AS (
            SELECT e.vec_id, s.dim, s.mn, s.mx,
                   CAST(e.embedding[s.dim] AS DOUBLE) AS x,
                   LEAST(255, GREATEST(0, CASE WHEN s.mx = s.mn THEN 0
                       ELSE CAST(FLOOR(
                           (CAST(e.embedding[s.dim] AS DOUBLE)
                            - CAST(s.mn AS DOUBLE) / 1000000.0)
                           * 255.0
                           / ((CAST(s.mx AS DOUBLE)
                               - CAST(s.mn AS DOUBLE)) / 1000000.0)
                           + 0.5) AS BIGINT)
                   END)) AS code
            FROM embeddings e CROSS JOIN stats s
        )
        SELECT vec_id,
               CAST(SUM(code) AS BIGINT) AS code_sum,
               CAST(SUM(code * dim) AS BIGINT) AS code_checksum,
               CAST(SUM(ABS(
                   CAST(FLOOR(x * 1000000 + 0.5) AS BIGINT)
                   - CAST(FLOOR(
                         (CAST(mn AS DOUBLE) / 1000000.0
                          + CAST(code AS DOUBLE)
                            * ((CAST(mx AS DOUBLE) - CAST(mn AS DOUBLE))
                               / 1000000.0)
                            / 255.0) * 1000000 + 0.5) AS BIGINT)
               )) AS BIGINT) AS err_micro
        FROM enc GROUP BY vec_id
    """,
}

# recall@k composes the two registered index twins verbatim — exact
# ground truth and the IVF path — so the metric's oracle can never
# drift from the index oracles it judges.
ORACLES["ann_recall_eval"] = f"""
    WITH exact AS (
        SELECT q_id, n_id FROM ({ORACLES["ann_cosine_topk"]}) t
    ),
    approx AS (
        SELECT q_id, n_id FROM ({ORACLES["ann_ivf_topk"]}) t
    )
    SELECT e.q_id, COUNT(a.n_id) AS n_hits,
           ROUND(COUNT(a.n_id) / {float(TOP_K)}, 4) AS recall_at_k
    FROM exact e
    LEFT JOIN approx a ON e.q_id = a.q_id AND e.n_id = a.n_id
    GROUP BY e.q_id
"""

# The prefix side re-runs the brute-force twin over the first MRL_DIM
# dims (DuckDB list slices are 1-based inclusive, matching F.slice).
ORACLES["emb_mrl_recall"] = f"""
    WITH pre AS (
        SELECT vec_id, embedding[1:{MRL_DIM}] AS p FROM embeddings
    ),
    pq AS (
        SELECT vec_id AS q_id, p AS q_emb FROM pre
        WHERE vec_id < {N_QUERIES}
    ),
    pscored AS (
        SELECT q_id, c.vec_id AS n_id,
               ROUND(list_dot_product(
                   list_transform(q_emb, x -> CAST(x AS DOUBLE)),
                   list_transform(c.p, x -> CAST(x AS DOUBLE))
               ), 6) AS cosine
        FROM pre c CROSS JOIN pq
        WHERE q_id <> c.vec_id
    ),
    approx AS (
        SELECT q_id, n_id FROM (
            SELECT q_id, n_id,
                   ROW_NUMBER() OVER (PARTITION BY q_id
                                      ORDER BY cosine DESC, n_id) AS rank
            FROM pscored
        ) t WHERE rank <= {TOP_K}
    ),
    exact AS (
        SELECT q_id, n_id FROM ({ORACLES["ann_cosine_topk"]}) t
    )
    SELECT e.q_id, COUNT(a.n_id) AS n_hits,
           ROUND(COUNT(a.n_id) / {float(TOP_K)}, 4) AS recall_at_k
    FROM exact e
    LEFT JOIN approx a ON e.q_id = a.q_id AND e.n_id = a.n_id
    GROUP BY e.q_id
"""

# The projected side re-runs the brute-force twin over the RP_DIM
# JL-projected vectors. The projection matrix is the same LCG
# constants the engine folds into its plan (repr round-trips IEEE
# doubles exactly, and list_dot_product's sequential sum is the same
# fold as F.aggregate — the bucket_expr/cosine_expr precedent).
_RP_PROJ_SQL = ",\n               ".join(
    "list_dot_product(list_transform(embedding, x -> CAST(x AS DOUBLE)), ["
    + ", ".join(repr(x) for x in row)
    + "])"
    for row in _rp_matrix()
)
ORACLES["emb_rp_recall"] = f"""
    WITH proj AS (
        -- a NULL vector projects to a NULL vector (not a list OF
        -- NULLs, which list_dot_product rejects): its cosines are
        -- NULL, ranked exactly as the exact path ranks NULL
        -- embeddings — mirroring the engine, whose projected array of
        -- NULL dots folds to a NULL cosine.
        SELECT vec_id,
               CASE WHEN embedding IS NULL THEN NULL
                    ELSE [{_RP_PROJ_SQL}] END AS p
        FROM embeddings
    ),
    pq AS (
        SELECT vec_id AS q_id, p AS q_emb FROM proj
        WHERE vec_id < {N_QUERIES}
    ),
    pscored AS (
        SELECT q_id, c.vec_id AS n_id,
               ROUND(list_dot_product(q_emb, c.p), 6) AS cosine
        FROM proj c CROSS JOIN pq
        WHERE q_id <> c.vec_id
    ),
    approx AS (
        SELECT q_id, n_id FROM (
            SELECT q_id, n_id,
                   ROW_NUMBER() OVER (PARTITION BY q_id
                                      ORDER BY cosine DESC, n_id) AS rank
            FROM pscored
        ) t WHERE rank <= {TOP_K}
    ),
    exact AS (
        SELECT q_id, n_id FROM ({ORACLES["ann_cosine_topk"]}) t
    )
    SELECT e.q_id, COUNT(a.n_id) AS n_hits,
           ROUND(COUNT(a.n_id) / {float(TOP_K)}, 4) AS recall_at_k
    FROM exact e
    LEFT JOIN approx a ON e.q_id = a.q_id AND e.n_id = a.n_id
    GROUP BY e.q_id
"""
