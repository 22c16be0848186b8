"""Deduplication tier (BASELINE.json north star; beyond-reference
extension): exact, n-gram Jaccard, MinHash+LSH, SimHash, and
embedding-cosine near-duplicate detection over the ``documents`` /
``embeddings`` tables.

Scale design notes (the point of each implementation):

* exact: one hash-groupBy — partial aggregation means the shuffle
  carries one row per distinct hash, not per document.
* n-gram Jaccard: the exact quadratic-ish path — explode distinct
  shingles, self-join on shingle, count. The stop-shingle guard
  (``max_df``) drops shingles shared by more than τ documents before
  the self-join, bounding every shingle's fan-out to τ² pair rows —
  without it one boilerplate shingle shared by k docs emits k² join
  rows and the job dies at scale. The unguarded form (max_df=None)
  remains available as the verification oracle for the sketch paths.
* MinHash+LSH: the linear-ish scale path — constant-size signature per
  doc (k md5-derived mins), banded into buckets; only same-bucket
  pairs are candidates, then exact Jaccard verifies. Tune (k, bands)
  for the recall/cost point; here k=16, 4 bands of 4 rows. Bucket
  membership is CAPPED (``SKETCH_BUCKET_CAP``): a mega-cluster of
  near-identical docs otherwise reintroduces the quadratic all-pairs
  join inside one bucket; oversized buckets emit doc_id-chain edges
  instead — a replayed approximation that bounds total work (see the
  ``SKETCH_BUCKET_CAP`` note for the exact recall trade).
* SimHash: constant-size bit sketch via 32 per-bit weighted sums —
  computed as 32 JVM-side aggregate expressions in ONE pass (no
  bit-explosion), candidates by 8-bit chunk equality (pigeonhole for
  hamming<=3), verified with bit_count(xor).
* embedding cosine: within-label blocking (cluster id) bounds the
  self-join; the unblocked ANN path lives in similarity.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from covid_engineering_spark.functions.scalar import cosine_expr
from covid_engineering_spark.functions.skew import (
    BLOCK_CAP,
    SALTED_JOIN_KEYS,
    salted_block_sides,
)
from covid_engineering_spark.sources import read_table

JACCARD_THRESHOLD = 0.5
#: Max members of one LSH band bucket that take the all-pairs
#: candidate join. A mega-cluster of near-identical documents lands
#: its whole membership B in ONE bucket, and an uncapped join emits
#: B²/2 candidate rows — TOTAL work quadratic in B, not just one
#: task's (so salting, which only spreads the work, is no fix here).
#: Buckets over the cap switch to consecutive doc_id-chain pairs
#: (B-1 edges). This is a deliberate, REPLAYED approximation, not a
#: free lunch: candidate-graph connectivity is preserved, and when the
#: oversized bucket is a genuine near-dup cluster (the motivating
#: case) the verified chain links it into one component for
#: connected_components; but a MIXED mega-bucket — distinct content
#: groups co-bucketing by band-hash chance — can see chain links fail
#: exact verification where a skipped all-pairs link would have
#: passed, silently reducing verified-pair recall within that bucket.
#: Below the cap semantics are exactly the uncapped all-pairs join.
#: The generated SQL twin replays the cap bit-for-bit, so the driver
#: hash-check covers both regimes; the cap is the recall/cost dial.
#: (SimHash's chunk join is NOT capped — see the note in
#: ``simhash_pairs``: its buckets grow with the corpus by construction
#: and a cap would break pigeonhole completeness; chunk width is the
#: scale dial there.)
SKETCH_BUCKET_CAP = 64
#: Stop-shingle doc-frequency cap for the exact n-gram path: a shingle
#: in more than this many documents is boilerplate, not signal, and
#: would fan the self-join out quadratically.
NGRAM_MAX_DF = 50
SIMHASH_BITS = 32
SIMHASH_MAX_HAMMING = 3
COSINE_THRESHOLD = 0.95
#: Threshold for the REGISTERED form of the embedding-dedup query.
#: The synthetic embeddings are near-uniform (max within-label cosine
#: ~0.47 at every SF), so the production 0.95 yields zero pairs and
#: the driver's differential check would be vacuously green on an
#: empty frame. 0.4 keeps the same plan and semantics but produces a
#: real pair set whose values the oracle actually hash-checks.
COSINE_REGISTRY_THRESHOLD = 0.4


def shingles_of(docs: DataFrame, n: int = 3) -> DataFrame:
    """Distinct word-n-gram shingles per document (default 3)."""
    ws = F.split(F.col("text"), " ")
    grams = F.when(
        F.size(ws) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(ws) - n),
            lambda i: F.concat_ws(" ", F.slice(ws, i + 1, n)),
        ),
    ).otherwise(F.array())
    return docs.select(
        "doc_id", F.explode(F.array_distinct(grams)).alias("s")
    )


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: group documents by a normalized content hash, keep
    the smallest doc_id per group. MD5 (not Spark's ``hash``) so the
    oracle computes identical keys.
    """
    docs = read_table(spark, sf_dir, "documents")
    return (
        docs.groupBy(F.md5(F.lower(F.col("text"))).alias("h"))
        .agg(
            F.min("doc_id").alias("keep_id"),
            F.count("*").alias("n_copies"),
        )
        .select("keep_id", "n_copies")
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    threshold: float = JACCARD_THRESHOLD,
    max_df: int | None = NGRAM_MAX_DF,
) -> DataFrame:
    """Exact word-3-gram Jaccard near-dup pairs (similarity >= τ).
    Shingle self-join: each shared shingle contributes one pair-row,
    aggregated into the intersection size; union size from per-doc
    distinct counts via the inclusion-exclusion identity.

    ``max_df`` is the stop-shingle guard: shingles with document
    frequency above it are removed from the shingle universe (both the
    intersection AND the per-doc sizes, so Jaccard stays a true ratio
    over the kept set). Each surviving shingle then contributes at most
    max_df² pair rows — the worst-case join output is bounded by
    |distinct shingles|·τ², linear-ish in corpus size, instead of the
    unguarded Σ df² which one viral shingle turns quadratic.
    ``max_df=None`` disables the guard (sketch-verification use only).
    """
    common = _shared_shingle_counts(docs, max_df)
    jac = F.col("c") / (F.col("na") + F.col("nb") - F.col("c"))
    return (
        common.select("d1", "d2", F.round(jac, 6).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def _shared_shingle_counts(
    docs: DataFrame, max_df: int | None
) -> DataFrame:
    """Shared machinery of the exact shingle-overlap measures
    (Jaccard, containment): guarded shingle self-join aggregated to
    one row per candidate pair — (d1, d2, c=|A∩B|, na=|A|, nb=|B|)
    with d1 < d2. The caller derives its similarity ratio from the
    three counts."""
    sh = shingles_of(docs)
    if max_df is not None:
        keep = (
            sh.groupBy("s")
            .agg(F.count("*").alias("df"))
            .filter(F.col("df") <= max_df)
            .select("s")
        )
        sh = sh.join(keep, "s")
        # Three branches consume the guarded frame (both join sides +
        # sizes), and each would otherwise recompute the explode AND
        # the df-guard aggregation. Same evicting-cache discipline as
        # the minhash path: materialize the shingle index once
        # (measured ~2x on dedup_clusters/keep_best/curate at sf0.1,
        # where pair generation dominates).
        from covid_engineering_spark.functions import evicting_cache

        sh = evicting_cache(sh, "jaccard_shingles")
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    a = sh.alias("a")
    b = sh.alias("b")
    common = (
        a.join(
            b,
            (F.col("a.s") == F.col("b.s"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2")
        )
        .agg(F.count("*").alias("c"))
    )
    na = sizes.select(F.col("doc_id").alias("d1"), F.col("n").alias("na"))
    nb = sizes.select(F.col("doc_id").alias("d2"), F.col("n").alias("nb"))
    # NO forced broadcast on the sizes table: it is one row per
    # document — O(corpus) — and a broadcast hint would OOM the build
    # side at scale (measured: a 10x probe died here). AQE broadcasts
    # it automatically while it is actually small.
    return common.join(na, "d1").join(nb, "d2")


#: Containment threshold for the registered query: the fraction of the
#: SMALLER document's kept shingles that appear in the other document.
CONTAINMENT_THRESHOLD = 0.8


def containment_pairs(
    docs: DataFrame,
    threshold: float = CONTAINMENT_THRESHOLD,
    max_df: int | None = NGRAM_MAX_DF,
) -> DataFrame:
    """Asymmetric n-gram containment pairs: C(A→B) = |A∩B| / |A|.

    The sub-document duplication detector Jaccard structurally misses:
    a short document fully quoted inside a long one has
    J = |A|/|B| ≈ 0 but C(A→B) = 1. The standard corpus-curation
    companion to near-dup detection (boilerplate, licence blocks,
    quoted posts, template expansions).

    Emits one row per unordered pair (d1 < d2) with BOTH directions
    (``cont_1_in_2`` = |∩|/|A₁|, ``cont_2_in_1`` = |∩|/|A₂|), kept
    when either direction clears the threshold — i.e. when the
    smaller side is mostly contained in the larger.

    Scale shape: identical to the Jaccard path — the guarded shingle
    self-join (stop-shingle ``max_df`` bound, shared materialized
    shingle index) already bounds candidate fan-out; containment is
    just a different ratio over the same (c, na, nb) counts, so the
    two measures share one physical pair-generation plan.
    """
    common = _shared_shingle_counts(docs, max_df)
    c1 = F.round(F.col("c") / F.col("na"), 6)
    c2 = F.round(F.col("c") / F.col("nb"), 6)
    return (
        common.select(
            "d1",
            "d2",
            c1.alias("cont_1_in_2"),
            c2.alias("cont_2_in_1"),
        )
        .filter(
            F.greatest(F.col("cont_1_in_2"), F.col("cont_2_in_1"))
            >= threshold
        )
    )


def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    return containment_pairs(read_table(spark, sf_dir, "documents"))


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ngram_jaccard_pairs(read_table(spark, sf_dir, "documents"))


def portable_hash64(col, seed: int):
    """60-bit hash an ANSI-SQL engine can reproduce exactly: the first
    15 hex chars of md5(value || ':' || seed), parsed base-16.
    Spark: ``conv(substring(md5(..), 1, 15), 16, 10)::long``;
    DuckDB twin: ``('0x' || substr(md5(..), 1, 15))::BIGINT``.
    15 hex chars = 60 bits, always non-negative, fits signed int64 in
    both engines (verified byte-identical incl. unicode inputs).
    ~3-4x the cost of xxhash64 per call but still whole-stage codegen;
    the MinHash/SimHash/LSH sketches hash with it so the driver can
    hash-check their full paths against a generated SQL twin.
    """
    return (
        F.conv(
            F.substring(F.md5(F.concat(col, F.lit(f":{seed}"))), 1, 15), 16, 10
        ).cast("long")
    )


def _portable_hash_sql(expr: str, seed: int) -> str:
    """DuckDB twin of :func:`portable_hash64` for SQL-oracle generation."""
    return f"('0x' || substr(md5({expr} || ':{seed}'),1,15))::BIGINT"


MINHASH_K = 16
MINHASH_BANDS = 4


def _minhash_signatures(sh: DataFrame) -> DataFrame:
    """k seeded min-hash aggregates -> one constant-size signature row
    per doc, in a single partial+final aggregation pass, over the
    md5-derived (oracle-reproducible) hash family.

    The family uses Kirsch-Mitzenmacher double hashing:
    ONE md5 per shingle split into two 56-bit halves (h1, h2), then
    g_i = h1 + i*h2 — k independent-enough min-hash functions for the
    cost of a single digest (k md5 calls per shingle benched 3x slower
    at sf0.1). 56-bit halves keep h1 + 15*h2 < 2^61, so the arithmetic
    never overflows int64 in either engine (DuckDB raises on overflow;
    Spark would silently wrap).

    The signature row also carries ``_n_sh`` = the doc's shingle count:
    the exact-Jaccard verification needs per-doc set sizes, and they
    ride the SAME groupBy(doc_id) for free — computing them as a
    separate aggregation would re-scan the whole shingle frame once
    more per execution.
    """
    md = F.md5(F.col("s"))
    hashed = sh.select(
        "doc_id",
        F.conv(F.substring(md, 1, 14), 16, 10).cast("long").alias("h1"),
        F.conv(F.substring(md, 15, 14), 16, 10).cast("long").alias("h2"),
    )
    aggs = [
        F.min(F.col("h1") + F.lit(i) * F.col("h2")).alias(f"m{i}")
        for i in range(MINHASH_K)
    ]
    return hashed.groupBy("doc_id").agg(*aggs, F.count("*").alias("_n_sh"))


def _capped_bucket_pairs(bands: DataFrame) -> DataFrame:
    """Candidate (d1, d2) pairs from equal ``(band, bh)`` bucket
    membership with BOUNDED per-bucket work: buckets of <=
    ``SKETCH_BUCKET_CAP`` members take the all-pairs join (<= cap²/2
    pairs), larger buckets take consecutive doc_id-chain pairs (B-1
    edges — candidate-graph connectivity preserved; see the
    ``SKETCH_BUCKET_CAP`` note for the verified-pair recall trade this
    makes inside mixed mega-buckets).

    The bucket count/rank windows ride the same (key) shuffle the
    candidate join needs anyway; their output bounds the join instead
    of letting one mega-bucket emit B²/2 rows inside a single task.

    The per-doc set size ``_n_sh`` rides the pair join, emitted as
    ``_n_sh_1``/``_n_sh_2`` — the MinHash verification gets both
    sides' sizes from the SAME join instead of re-joining the pair
    frame against a per-doc table once per side (guide §2.4).
    """
    from covid_engineering_spark.functions import evicting_cache

    wc = Window.partitionBy("band", "bh")
    wr = Window.partitionBy("band", "bh").orderBy("doc_id")
    bx = bands.select(
        "doc_id",
        "band",
        "bh",
        "_n_sh",
        F.count("*").over(wc).alias("_bn"),
        F.row_number().over(wr).alias("_rn"),
    )
    # four lineage branches (small×small, big×big) would otherwise
    # recompute the upstream sketch four times; caching the bucket
    # index is also the production shape — a real dedup pipeline
    # MATERIALIZES its signature index rather than re-deriving it
    # per probe (measured: uncached, the union form doubled the
    # sf0.1 wall time of dedup_minhash_lsh)
    bx = evicting_cache(bx, "minhash_bands")
    small = bx.filter(F.col("_bn") <= SKETCH_BUCKET_CAP)
    big = bx.filter(F.col("_bn") > SKETCH_BUCKET_CAP)

    def _sel(joined: DataFrame) -> DataFrame:
        return joined.select(
            F.col("l.doc_id").alias("d1"),
            F.col("r.doc_id").alias("d2"),
            F.col("l._n_sh").alias("_n_sh_1"),
            F.col("r._n_sh").alias("_n_sh_2"),
        )

    same = (F.col("l.band") == F.col("r.band")) & (
        F.col("l.bh") == F.col("r.bh")
    )
    all_pairs = _sel(
        small.alias("l").join(
            small.alias("r"),
            same & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
    )
    chain_pairs = _sel(
        big.alias("l").join(
            big.alias("r"),
            same & (F.col("l._rn") + 1 == F.col("r._rn")),
        )
    )
    return all_pairs.unionByName(chain_pairs).distinct()


def _band_frame(sig: DataFrame, carry: tuple = ()) -> DataFrame:
    """(doc_id, band, bh) bucket membership — one row per (doc, band),
    ``bh`` the md5 of the band's signature rows:
    the LSH index frame both the candidate join and the bucket-stats
    pre-flight consume. ``carry`` propagates per-doc signature columns
    (e.g. ``_n_sh``) through the band explode for callers that want
    them riding the bucket index; without ``carry`` the output is the
    3-column shape the standing-index writers persist."""
    rows_per_band = MINHASH_K // MINHASH_BANDS

    def band_hash(bnd: int):
        members = [
            F.col(f"m{rows_per_band * bnd + j}") for j in range(rows_per_band)
        ]
        return F.md5(F.concat_ws(",", *members, F.lit(str(bnd))))

    return sig.select(
        "doc_id",
        *carry,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bnd).alias("band"),
                        band_hash(bnd).alias("bh"),
                    )
                    for bnd in range(MINHASH_BANDS)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", *carry, "bk.band", "bk.bh")


def lsh_bucket_stats(docs: DataFrame) -> DataFrame:
    """No silent caps: the pre-flight report for ``minhash_lsh_pairs``'
    bucket cap. One row — bucket count, max membership, how many
    buckets exceed the cap, and how many documents sit inside those
    buckets (i.e. where candidate generation will approximate with
    chain edges instead of all pairs). Two partial-combined
    aggregations; the shuffle carries one row per bucket. Run it
    before a large dedup job — or alongside one — to size the cap
    deliberately rather than discover it in the output.
    """
    sh = shingles_of(docs)
    per = (
        _band_frame(_minhash_signatures(sh))
        .groupBy("band", "bh")
        .agg(F.count("*").alias("n"))
    )
    return per.agg(
        F.count("*").alias("n_buckets"),
        F.max("n").alias("max_bucket"),
        F.sum(F.when(F.col("n") > SKETCH_BUCKET_CAP, 1).otherwise(0)).alias(
            "capped_buckets"
        ),
        F.sum(F.when(F.col("n") > SKETCH_BUCKET_CAP, F.col("n")).otherwise(0)).alias(
            "docs_in_capped_buckets"
        ),
    )


def minhash_lsh_pairs(docs: DataFrame) -> DataFrame:
    """MinHash+LSH near-dup pairs: signature -> band buckets ->
    same-bucket candidates -> exact Jaccard verification (>= τ).
    The shingle self-join runs only over candidate pairs, so the
    quadratic blowup of ngram_jaccard_pairs never materializes.

    The md5-derived signatures and md5-string band buckets make every
    intermediate — signatures, buckets, candidates, verified pairs —
    bit-reproducible in ANSI SQL, so the generated DuckDB twin
    (``_minhash_oracle_sql``) hash-checks the ENTIRE sketch path, not
    just its recall. Recall itself is still probabilistic and measured
    against the exact n-gram path in tests.
    """
    # evicting: bench warmup + timed re-invocations must not stack one
    # cached shingle copy per call in a long-lived session
    from covid_engineering_spark.functions import evicting_cache

    sh = evicting_cache(shingles_of(docs), "minhash_shingles")
    # The signature frame (one constant-width row per doc) now feeds
    # TWO consumers — the band/bucket path and the verification's size
    # lookup — so it gets the same evicting-cache discipline; bounded
    # at one row per document at any corpus size.
    sig = evicting_cache(_minhash_signatures(sh), "minhash_sig")
    bands = _band_frame(sig, carry=("_n_sh",))
    # per-doc set sizes ride the signature aggregation (_n_sh)
    # and then the bucket-pair join itself (carry) — the verification
    # needs (na, nb) per pair, and getting them from the pair join
    # replaces two joins of the verified frame against a per-doc size
    # table (guide §2.4: two ops keyed the same way share one pass).
    cand = _capped_bucket_pairs(bands)
    a, b = sh.alias("a"), sh.alias("b")
    common = (
        cand.join(a, F.col("a.doc_id") == F.col("d1"))
        .join(
            b,
            (F.col("b.doc_id") == F.col("d2")) & (F.col("a.s") == F.col("b.s")),
        )
        .groupBy("d1", "d2")
        .agg(
            F.count("*").alias("c"),
            # constant within a (d1, d2) group — rides the same agg
            F.first("_n_sh_1").alias("na"),
            F.first("_n_sh_2").alias("nb"),
        )
    )
    jac = F.col("c") / (F.col("na") + F.col("nb") - F.col("c"))
    return common.select(
        "d1", "d2", F.round(jac, 6).alias("jaccard")
    ).filter(F.col("jaccard") >= JACCARD_THRESHOLD)


def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return minhash_lsh_pairs(read_table(spark, sf_dir, "documents", fan=True))


def simhash_pairs(docs: DataFrame) -> DataFrame:
    """SimHash sketches + near-dup pairs (hamming <= k over 32 bits).
    Per-bit weighted sums are 32 plain aggregate expressions over the
    token frequency table — one shuffle, no bit explosion; candidate
    pairs come from 8-bit chunk equality (hamming <= 3 over 4 chunks
    guarantees one equal chunk), verified with bit_count(xor).

    Tokens hash with :func:`portable_hash64`, so the generated DuckDB
    twin (``_simhash_oracle_sql``) reproduces the exact sketch bits
    and the driver hash-checks sketches, candidates, and verified
    pairs end-to-end.
    """
    tok = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
        .groupBy("doc_id", "w")
        .agg(F.count("*").alias("cnt"))
        .withColumn("h", portable_hash64(F.col("w"), 0))
    )
    bit_aggs = [
        F.sum(
            F.when(
                F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1,
                F.col("cnt"),
            ).otherwise(-F.col("cnt"))
        ).alias(f"b{i}")
        for i in range(SIMHASH_BITS)
    ]
    sums = tok.groupBy("doc_id").agg(*bit_aggs)
    simhash = None
    for i in range(SIMHASH_BITS):
        bit = F.when(F.col(f"b{i}") > 0, F.lit(1 << i)).otherwise(F.lit(0))
        simhash = bit if simhash is None else simhash + bit
    sigs = sums.select("doc_id", simhash.cast("long").alias("simhash"))
    chunks = sigs.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("j"),
                        F.shiftright(F.col("simhash"), 8 * j)
                        .bitwiseAND(F.lit(255))
                        .alias("chunk"),
                    )
                    for j in range(4)
                ]
            )
        ).alias("ck"),
    ).select("doc_id", "simhash", "ck.j", "ck.chunk")
    # NOTE the candidate join is deliberately NOT bucket-capped (unlike
    # MinHash-LSH): chunk buckets are not content clusters — there are
    # only 2^8 values per chunk index, so membership grows linearly
    # with the corpus BY CONSTRUCTION, and any cap would break the
    # pigeonhole completeness the tests pin (every hamming<=3 pair IS
    # found). The scale dial here is chunk width: at 100 TB you run a
    # 64-bit sketch with 16-bit chunks (65,536 buckets per index) or a
    # two-level pigeonhole, keeping per-bucket membership bounded
    # while preserving completeness.
    l, r = chunks.alias("l"), chunks.alias("r")
    ham = F.bit_count(
        F.col("l.simhash").bitwiseXOR(F.col("r.simhash"))
    )
    return (
        l.join(
            r,
            (F.col("l.j") == F.col("r.j"))
            & (F.col("l.chunk") == F.col("r.chunk"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(
            F.col("l.doc_id").alias("d1"),
            F.col("r.doc_id").alias("d2"),
            ham.alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= SIMHASH_MAX_HAMMING)
    )


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simhash_pairs(read_table(spark, sf_dir, "documents"))


def embedding_pairs(
    emb: DataFrame,
    threshold: float = COSINE_THRESHOLD,
    cap: int = BLOCK_CAP,
) -> DataFrame:
    """Embedding-cosine near-dup pairs (cosine >= threshold), blocked
    by cluster label so the self-join is per-block instead of global —
    the blocking key bounds the quadratic term at scale.

    Skew guard: the shared salted sub-block grid
    (functions/skew.py::salted_block_sides, the same mechanism behind
    ``knn_graph``) — results exactly invariant to the split (verified
    in tests with a tiny cap), the largest task bounded at ~cap² pairs
    no matter how skewed the labels.
    """
    a, b = salted_block_sides(emb, "label", "embedding", cap)
    cos = cosine_expr(F.col("pay_a"), F.col("pay_b"))
    return (
        a.join(b, SALTED_JOIN_KEYS)
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            F.col("id_a").alias("v1"),
            F.col("id_b").alias("v2"),
            cos.alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered form: same plan, synthetic-data threshold (see
    COSINE_REGISTRY_THRESHOLD) so the differential check is
    non-vacuous."""
    emb = read_table(spark, sf_dir, "embeddings")
    return embedding_pairs(emb, COSINE_REGISTRY_THRESHOLD)


#: Duplicated-substring gram length (tokens). The paper's threshold is
#: 50 BPE tokens over web-scale corpora (Lee et al. 2022 §4.1); the
#: synthetic docs run 10-99 whitespace tokens, so 8 keeps the analysis
#: non-degenerate (47/500 docs carry a duplicated span at sf0.01,
#: tracking the corpus's near-dup cluster structure) while preserving
#: the exact algorithm shape.
SUBSTR_K = 8


def substring_dup_span_frame(docs: DataFrame) -> DataFrame:
    """The merged duplicated-span frame under the ExactSubstr family:
    one row per maximal duplicated token span — ``(doc_id, island,
    s, e, ng)`` with ``[s, e)`` 0-based token bounds and ``ng`` the
    duplicated k-grams merged into the span. Shared by the analysis
    (:func:`substring_dup_spans`) and the removal form
    (:func:`substring_strip`); plan shape documented on the analysis.
    Gram keys are the exact token strings, so the DuckDB twins replay
    them byte-for-byte.
    """
    ws = F.split(F.col("text"), " ")
    grams_arr = F.when(
        F.array_size(ws) >= SUBSTR_K,
        F.transform(
            F.sequence(F.lit(0), F.size(ws) - SUBSTR_K),
            lambda i: F.concat_ws(" ", F.slice(ws, i + 1, SUBSTR_K)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    g = docs.select("doc_id", F.posexplode(grams_arr).alias("pos", "gram"))
    # Cache the positional gram frame (the decon/minhash shingle-cache
    # discipline): it feeds TWO consumers — the duplicated-gram set's
    # groupBy and the semi-join's position side — and Catalyst
    # re-derives uncached subtrees per consumer, so uncached the
    # corpus-wide explode + per-position gram build (the compute-dense
    # stage of the whole family) would run twice per execution.
    #
    # This is the ONE engine cache that is O(corpus tokens), not
    # bounded-by-construction, so it is stored SERIALIZED with disk
    # spill (MEMORY_AND_DISK, not the default deserialized cache): at
    # 100 TB the frame is a shuffle-file-sized disk artifact, never a
    # resident deserialized heap. It buys back one full corpus scan +
    # gram build per execution. The key carries the gram length so
    # callers with different ``k`` hold separate slots instead of
    # thrashing one.
    from pyspark import StorageLevel

    from covid_engineering_spark.functions import evicting_cache

    g = evicting_cache(
        g,
        f"substr_grams:k{SUBSTR_K}",
        storage_level=StorageLevel.MEMORY_AND_DISK,
    )
    dup_grams = (
        g.groupBy("gram")
        .agg(F.count("*").alias("n_occ"))
        .filter(F.col("n_occ") >= 2)
        .select("gram")
    )
    dpos = g.join(dup_grams, "gram", "left_semi")
    w_prev = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = Window.partitionBy("doc_id").orderBy("pos")
    isl = (
        dpos.withColumn("prev_end", F.max(F.col("pos") + SUBSTR_K).over(w_prev))
        .withColumn(
            "new_island",
            (F.col("pos") > F.coalesce("prev_end", F.lit(-1))).cast("int"),
        )
        .withColumn("island", F.sum("new_island").over(w_run))
    )
    return isl.groupBy("doc_id", "island").agg(
        F.min("pos").alias("s"),
        (F.max("pos") + SUBSTR_K).alias("e"),
        F.count("*").alias("ng"),
    )


def substring_dup_spans(docs: DataFrame) -> DataFrame:
    """EXACT-SUBSTRING duplication analysis (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better" §4.1 —
    the ExactSubstr method): per document, the merged token spans
    covered by any length-``SUBSTR_K`` token run that occurs elsewhere in the
    corpus (or again in the same document). The paper builds one giant
    suffix array; the distributed re-expression is positional k-gram
    matching — every duplicated substring of length ≥ k is exactly a
    maximal run of duplicated k-grams, so merging overlapping/adjacent
    duplicated-gram intervals reconstructs the paper's spans (for
    spans ≥ k; shorter repeats are below the threshold by definition).

    Plan shape, built for the 100 TB corpus:

    * positional k-gram frame: one scan + linear explode (≤ n_tokens
      rows per doc, NOT distinct — positions matter);
    * duplicated-gram set via ``groupBy(gram).count()`` — partial
      aggregation collapses repeats map-side, so the shuffle carries
      one row per DISTINCT gram and a mega-duplicated boilerplate gram
      (the skew case) arrives at its reducer as a handful of partial
      counts, never as raw rows. A window count over ``gram`` would
      shuffle every position row into the hot gram's partition — the
      exact skew this formulation avoids;
    * positions ⋉ duplicated grams as a semi-join on the gram key
      (size-based planner broadcasts the post-filter dup-gram frame
      when small — most grams are unique, so it usually is);
    * span merge per doc: the gaps-and-islands pattern — running
      ``max(pos + k)`` over the doc's duplicated positions marks
      island starts, a running sum numbers them, one groupBy emits
      span bounds. Both windows partition by doc_id (bounded state).

    NULL ``text`` (the text-tier convention): ``n_tokens`` NULL, all
    duplication counters literal 0, ``has_dup`` literal FALSE — a
    payload-less document carries no duplicated content.
    """
    spans = substring_dup_span_frame(docs)
    ws = F.split(F.col("text"), " ")
    per_doc = spans.groupBy("doc_id").agg(
        F.count("*").alias("_spans"),
        F.sum(F.col("e") - F.col("s")).alias("_dup_tokens"),
        F.sum("ng").alias("_dup_grams"),
    )
    zero = F.lit(0).cast("long")
    return (
        docs.select(
            "doc_id", F.array_size(ws).cast("long").alias("n_tokens")
        )
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce(F.col("_dup_grams").cast("long"), zero).alias(
                "n_dup_grams"
            ),
            F.coalesce(F.col("_spans").cast("long"), zero).alias(
                "n_dup_spans"
            ),
            F.coalesce(F.col("_dup_tokens").cast("long"), zero).alias(
                "dup_tokens"
            ),
            (
                F.coalesce(F.col("_dup_tokens").cast("long"), zero) > 0
            ).alias("has_dup"),
        )
    )


def q_dedup_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    return substring_dup_spans(read_table(spark, sf_dir, "documents", fan=True))


def substring_strip(docs: DataFrame) -> DataFrame:
    """ExactSubstr span REMOVAL — the pipeline step Lee et al. 2022
    §4.1 actually applies (the analysis form only reports the spans):
    per document, the text with every merged duplicated span excised,
    plus the token accounting (``n_tokens`` / ``kept_tokens`` /
    ``removed_tokens``) so the mass removed stays auditable per doc.

    Removal semantics: EVERY occurrence of a duplicated span is
    stripped, in every document that carries one — the deterministic
    variant. The paper's keep-one-copy alternative needs a global
    per-substring occurrence tiebreak, and a merged span aggregates
    MANY k-grams whose "first" occurrences live in different
    documents, so no per-span winner is well-defined without
    re-fragmenting the spans; pair this form with ``dedup_exact`` /
    ``keep_best_per_cluster`` upstream when one canonical copy must
    survive (whole-doc duplicates collapse there first, so what this
    strips is cross-document boilerplate).

    Plan shape: the span frame's own shape (see
    :func:`substring_dup_spans`), then one ``groupBy(doc_id)`` that
    collapses each doc's spans to a sorted struct array (bounded by
    spans-per-doc, never corpus-wide), a join back onto the corpus —
    broadcast when the dup set is small, hash otherwise — and a pure
    MAP-SIDE token filter: ``filter(tokens, (t, i) -> NOT exists(
    spans, sp -> s <= i < e))`` + ``concat_ws``. No token-level
    explode-and-anti-join at any point: the token loop stays inside
    one codegen'd higher-order expression.

    Output text is whitespace-normalized by construction (split on
    single space, re-joined with single space) — byte-identical to
    the input for single-space corpora like the fixture; a corpus
    with other whitespace should normalize first (``text_normalize``).

    NULL ``text``: ``n_tokens`` / ``kept_tokens`` / ``stripped_text``
    NULL, ``removed_tokens`` literal 0 (the text-tier convention —
    counters non-null, payload-derived fields propagate).
    """
    spans = substring_dup_span_frame(docs)
    sp_doc = spans.groupBy("doc_id").agg(
        F.sort_array(
            F.collect_list(
                F.struct(
                    F.col("s").cast("long").alias("s"),
                    F.col("e").cast("long").alias("e"),
                )
            )
        ).alias("_spans"),
        F.sum(F.col("e") - F.col("s")).cast("long").alias("_removed"),
    )
    ws = F.split(F.col("text"), " ")
    spans_arr = F.coalesce(
        F.col("_spans"), F.array().cast("array<struct<s:bigint,e:bigint>>")
    )
    kept = F.filter(
        ws,
        lambda t, i: ~F.exists(
            spans_arr,
            lambda sp: (i.cast("long") >= sp["s"])
            & (i.cast("long") < sp["e"]),
        ),
    )
    has_text = F.col("text").isNotNull()
    return docs.join(sp_doc, "doc_id", "left").select(
        "doc_id",
        F.array_size(ws).cast("long").alias("n_tokens"),
        F.when(has_text, F.array_size(kept)).cast("long").alias(
            "kept_tokens"
        ),
        F.coalesce(F.col("_removed"), F.lit(0).cast("long")).alias(
            "removed_tokens"
        ),
        F.when(has_text, F.concat_ws(" ", kept)).alias("stripped_text"),
    )


def q_dedup_substring_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    return substring_strip(read_table(spark, sf_dir, "documents", fan=True))


QUERIES = {
    "dedup_exact": q_dedup_exact,
    "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
    "dedup_containment": q_dedup_containment,
    "dedup_minhash_lsh": q_dedup_minhash_lsh,
    "dedup_simhash": q_dedup_simhash,
    "dedup_embedding": q_dedup_embedding,
    "dedup_substring": q_dedup_substring,
    "dedup_substring_strip": q_dedup_substring_strip,
}

_SHINGLES_SQL = f"""
    ws AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    sh_all AS (
        SELECT DISTINCT doc_id,
               unnest(list_transform(generate_series(1, len(w) - 2),
                                     i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
        FROM ws
    ),
    keep AS (
        SELECT s FROM (SELECT s, COUNT(*) AS df FROM sh_all GROUP BY s)
        WHERE df <= {NGRAM_MAX_DF}
    ),
    sh AS (SELECT sh_all.doc_id, sh_all.s FROM sh_all JOIN keep USING (s)),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id)
"""

def _minhash_oracle_sql() -> str:
    """Generated DuckDB twin of ``q_dedup_minhash_lsh`` (portable
    family): identical md5-derived signatures, md5-string band
    buckets, candidate join, and exact-Jaccard verification — the
    driver hash-checks the whole sketch path, not just its recall.
    Uses the UNGUARDED shingle set (sh_all): the sketch path carries
    no stop-shingle filter, matching minhash_lsh_pairs. Same
    double-hashing scheme as ``_minhash_signatures``: one md5 per
    shingle, two 56-bit halves, g_i = h1 + i*h2.
    """
    rows_per_band = MINHASH_K // MINHASH_BANDS
    sig_cols = ", ".join(
        f"MIN(h1 + {i}*h2) AS m{i}" for i in range(MINHASH_K)
    )
    band_selects = "\n            UNION ALL ".join(
        "SELECT doc_id, {b} AS band, md5({concat} || ',{b}') AS bh FROM sigs".format(
            b=b,
            concat=" || ',' || ".join(
                f"m{rows_per_band * b + j}::VARCHAR" for j in range(rows_per_band)
            ),
        )
        for b in range(MINHASH_BANDS)
    )
    return f"""
        WITH
        ws AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        sh AS (
            SELECT DISTINCT doc_id,
                   unnest(list_transform(generate_series(1, len(w) - 2),
                                         i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
            FROM ws
        ),
        hashed AS (
            SELECT doc_id,
                   ('0x' || substr(md5(s), 1, 14))::BIGINT AS h1,
                   ('0x' || substr(md5(s), 15, 14))::BIGINT AS h2
            FROM sh
        ),
        sigs AS (SELECT doc_id, {sig_cols} FROM hashed GROUP BY doc_id),
        bands AS (
            {band_selects}
        ),
        bandsx AS (
            SELECT doc_id, band, bh,
                   COUNT(*) OVER (PARTITION BY band, bh) AS bn,
                   ROW_NUMBER() OVER (PARTITION BY band, bh
                                      ORDER BY doc_id) AS rn
            FROM bands
        ),
        cand AS (
            SELECT DISTINCT d1, d2 FROM (
                SELECT l.doc_id AS d1, r.doc_id AS d2
                FROM bandsx l JOIN bandsx r
                  ON l.band = r.band AND l.bh = r.bh
                 AND l.doc_id < r.doc_id
                WHERE l.bn <= {SKETCH_BUCKET_CAP}
                UNION ALL
                SELECT l.doc_id AS d1, r.doc_id AS d2
                FROM bandsx l JOIN bandsx r
                  ON l.band = r.band AND l.bh = r.bh AND l.rn + 1 = r.rn
                WHERE l.bn > {SKETCH_BUCKET_CAP}
            )
        ),
        sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        common AS (
            SELECT d1, d2, COUNT(*) AS c
            FROM cand
            JOIN sh a ON a.doc_id = d1
            JOIN sh b ON b.doc_id = d2 AND a.s = b.s
            GROUP BY d1, d2
        )
        SELECT d1, d2, ROUND(c / (na.n + nb.n - c), 6) AS jaccard
        FROM common
        JOIN sizes na ON na.doc_id = d1
        JOIN sizes nb ON nb.doc_id = d2
        WHERE ROUND(c / (na.n + nb.n - c), 6) >= {JACCARD_THRESHOLD}
    """


def _simhash_oracle_sql() -> str:
    """Generated DuckDB twin of ``q_dedup_simhash`` (portable family):
    same md5-derived token hashes, 32 per-bit weighted sums, chunked
    pigeonhole candidates, and bit_count(xor) verification.
    """
    bit_sums = ",\n                   ".join(
        f"SUM(CASE WHEN (h >> {i}) & 1 = 1 THEN cnt ELSE -cnt END) AS b{i}"
        for i in range(SIMHASH_BITS)
    )
    sim_expr = " + ".join(
        f"(CASE WHEN b{i} > 0 THEN {1 << i} ELSE 0 END)"
        for i in range(SIMHASH_BITS)
    )
    chunk_selects = "\n            UNION ALL ".join(
        f"SELECT doc_id, simhash, {j} AS j, (simhash >> {8 * j}) & 255 AS chunk FROM sigs"
        for j in range(4)
    )
    return f"""
        WITH
        tokc AS (
            SELECT doc_id, w, COUNT(*) AS cnt
            FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
                  FROM documents)
            GROUP BY doc_id, w
        ),
        tok AS (SELECT doc_id, cnt, {_portable_hash_sql('w', 0)} AS h FROM tokc),
        sums AS (SELECT doc_id,
                   {bit_sums}
                 FROM tok GROUP BY doc_id),
        sigs AS (SELECT doc_id, ({sim_expr})::BIGINT AS simhash FROM sums),
        chunks AS (
            {chunk_selects}
        )
        SELECT DISTINCT l.doc_id AS d1, r.doc_id AS d2,
               bit_count(xor(l.simhash, r.simhash))::INTEGER AS hamming
        FROM chunks l JOIN chunks r
          ON l.j = r.j AND l.chunk = r.chunk AND l.doc_id < r.doc_id
        WHERE bit_count(xor(l.simhash, r.simhash)) <= {SIMHASH_MAX_HAMMING}
    """


#: Shared CTE chain for the ExactSubstr family twins: positional
#: k-grams → duplicated-gram set → gaps-and-islands span merge,
#: ending at ``spans (doc_id, island, s, e, ng)`` — the DuckDB replay
#: of ``substring_dup_span_frame``, window for window.
_SUBSTR_SPANS_CTES = f"""
        toks AS (
            SELECT doc_id, string_split(text, ' ') AS ws FROM documents
        ),
        pos_g AS (
            SELECT doc_id, ws,
                   unnest(generate_series(
                       1, greatest(len(ws) - {SUBSTR_K} + 1, 0))) AS i
            FROM toks
        ),
        grams AS (
            SELECT doc_id, i - 1 AS pos,
                   array_to_string(
                       ws[i : i + {SUBSTR_K} - 1], ' ') AS gram
            FROM pos_g
        ),
        dup_g AS (
            SELECT gram FROM grams GROUP BY gram HAVING COUNT(*) >= 2
        ),
        dpos AS (
            SELECT doc_id, pos FROM grams
            WHERE gram IN (SELECT gram FROM dup_g)
        ),
        isl AS (
            SELECT doc_id, pos,
                   CASE WHEN pos > COALESCE(MAX(pos + {SUBSTR_K}) OVER (
                            PARTITION BY doc_id ORDER BY pos
                            ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND 1 PRECEDING), -1)
                        THEN 1 ELSE 0 END AS new_island
            FROM dpos
        ),
        isl2 AS (
            SELECT doc_id, pos,
                   SUM(new_island) OVER (
                       PARTITION BY doc_id ORDER BY pos) AS island
            FROM isl
        ),
        spans AS (
            SELECT doc_id, island, MIN(pos) AS s,
                   MAX(pos) + {SUBSTR_K} AS e, COUNT(*) AS ng
            FROM isl2 GROUP BY 1, 2
        )"""

ORACLES = {
    "dedup_exact": """
        SELECT MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
        FROM documents GROUP BY md5(lower(text))
    """,
    # ExactSubstr duplication analysis: positional k-grams, duplicated
    # set by GROUP BY + HAVING, gaps-and-islands span merge — the same
    # integer arithmetic as the engine, window for window.
    "dedup_substring": f"""
        WITH {_SUBSTR_SPANS_CTES},
        per_doc AS (
            SELECT doc_id,
                   CAST(COUNT(*) AS BIGINT) AS n_dup_spans,
                   CAST(SUM(e - s) AS BIGINT) AS dup_tokens,
                   CAST(SUM(ng) AS BIGINT) AS n_dup_grams
            FROM spans GROUP BY doc_id
        )
        SELECT d.doc_id,
               CASE WHEN d.text IS NULL THEN NULL
                    ELSE len(string_split(d.text, ' ')) END AS n_tokens,
               COALESCE(p.n_dup_grams, 0) AS n_dup_grams,
               COALESCE(p.n_dup_spans, 0) AS n_dup_spans,
               COALESCE(p.dup_tokens, 0) AS dup_tokens,
               COALESCE(p.dup_tokens, 0) > 0 AS has_dup
        FROM documents d LEFT JOIN per_doc p USING (doc_id)
    """,
    # ExactSubstr span REMOVAL: same span chain, then tokens outside
    # every [s, e) re-joined in position order — string_agg replays
    # the engine's map-side filter+concat_ws exactly (same kept set,
    # same order, same single-space separator).
    "dedup_substring_strip": f"""
        WITH {_SUBSTR_SPANS_CTES},
        covered AS (
            SELECT DISTINCT doc_id,
                   unnest(generate_series(s, e - 1)) AS pos
            FROM spans
        ),
        all_toks AS (
            SELECT doc_id, i - 1 AS pos, ws[i] AS tok
            FROM (SELECT doc_id, ws,
                         unnest(generate_series(1, len(ws))) AS i
                  FROM toks)
        ),
        kept AS (
            SELECT t.doc_id, t.pos, t.tok
            FROM all_toks t
            LEFT JOIN covered c ON t.doc_id = c.doc_id AND t.pos = c.pos
            WHERE c.pos IS NULL
        ),
        kept_doc AS (
            SELECT doc_id,
                   CAST(COUNT(*) AS BIGINT) AS kept_tokens,
                   string_agg(tok, ' ' ORDER BY pos) AS stripped_text
            FROM kept GROUP BY doc_id
        ),
        removed AS (
            SELECT doc_id, CAST(SUM(e - s) AS BIGINT) AS removed_tokens
            FROM spans GROUP BY doc_id
        )
        SELECT d.doc_id,
               CASE WHEN d.text IS NULL THEN NULL
                    ELSE CAST(len(string_split(d.text, ' ')) AS BIGINT)
                    END AS n_tokens,
               CASE WHEN d.text IS NULL THEN NULL
                    ELSE COALESCE(k.kept_tokens, 0) END AS kept_tokens,
               COALESCE(r.removed_tokens, 0) AS removed_tokens,
               CASE WHEN d.text IS NULL THEN NULL
                    ELSE COALESCE(k.stripped_text, '') END
                   AS stripped_text
        FROM documents d
        LEFT JOIN kept_doc k USING (doc_id)
        LEFT JOIN removed r USING (doc_id)
    """,
    "dedup_minhash_lsh": _minhash_oracle_sql(),
    "dedup_simhash": _simhash_oracle_sql(),
    "dedup_ngram_jaccard": f"""
        WITH {_SHINGLES_SQL},
        common AS (
            SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS c
            FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        )
        SELECT d1, d2, ROUND(c / (na.n + nb.n - c), 6) AS jaccard
        FROM common
        JOIN sizes na ON na.doc_id = d1
        JOIN sizes nb ON nb.doc_id = d2
        WHERE ROUND(c / (na.n + nb.n - c), 6) >= 0.5
    """,
    "dedup_containment": f"""
        WITH {_SHINGLES_SQL},
        common AS (
            SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS c
            FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        )
        SELECT d1, d2,
               ROUND(c / na.n, 6) AS cont_1_in_2,
               ROUND(c / nb.n, 6) AS cont_2_in_1
        FROM common
        JOIN sizes na ON na.doc_id = d1
        JOIN sizes nb ON nb.doc_id = d2
        WHERE greatest(ROUND(c / na.n, 6), ROUND(c / nb.n, 6))
                  >= {CONTAINMENT_THRESHOLD}
    """,
    "dedup_embedding": f"""
        SELECT a.vec_id AS v1, b.vec_id AS v2,
               ROUND(list_dot_product(
                   list_transform(a.embedding, x -> CAST(x AS DOUBLE)),
                   list_transform(b.embedding, x -> CAST(x AS DOUBLE))
               ), 6) AS cosine
        FROM embeddings a
        JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
        WHERE ROUND(list_dot_product(
                   list_transform(a.embedding, x -> CAST(x AS DOUBLE)),
                   list_transform(b.embedding, x -> CAST(x AS DOUBLE))
               ), 6) >= {COSINE_REGISTRY_THRESHOLD}
    """,
}
