"""Text-analysis tier (BASELINE.json north star): language ID, quality
scoring, token counting, document fingerprinting, and corpus term
statistics over the ``documents`` table.

Everything is built from JVM-side expressions (split / higher-order
array functions / regexp) — no Python in the hot path, so the plans
whole-stage-codegen and scale with the scan. Each heuristic is
deterministic and mirrored expression-for-expression in its DuckDB
oracle.

NULL ``text`` semantics (a real 100 TB corpus contains
payload-less rows even though ingest's p4_null_drop discipline removes
most): per-document METRIC columns (token counts, ratios,
fingerprints, normalized forms) propagate NULL; GATE/keep verdicts
(gopher rules) are literal FALSE — a payload-less document fails a
quality gate, it doesn't "unknown" it; explode-based corpus statistics
(tf-idf, LMs, BM25, top-terms) simply emit no rows for it. Every twin
mirrors the choice; the adversarial fixture carries NULL-text rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from covid_engineering_spark.sources import read_table

EN_STOP = ("the", "a", "of", "and", "to", "in", "is")
DE_STOP = ("der", "die", "das", "und", "ist", "ein")
FR_STOP = ("le", "la", "les", "et", "est", "un")
#: Character-n-gram frequency markers per language: stopword voting
#: alone is trivially fooled by stopword-free text (or text quoting
#: another language's function words); characteristic character
#: sequences still fire. Weights: one stopword hit counts as
#: LANGID_STOP_WEIGHT marker occurrences.
EN_MARKERS = ("th", "ing", "tion")
DE_MARKERS = ("sch", "ich", "ein")
FR_MARKERS = ("eau", "aux", "oux")
LANGID_STOP_WEIGHT = 3
FP_MOD = 1000000007
FP_BASE = 31


def _count_in(ws, words: tuple[str, ...]):
    arr = F.array(*[F.lit(w) for w in words])
    return F.size(F.filter(ws, lambda w: F.array_contains(arr, w)))


def q_text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens and a regex token pattern
    (the BPE-ish lower-alnum runs), plus raw char length.

    NULL ``text`` propagates: all three metrics are NULL
    (``array_size``, unlike legacy ``size``, is NULL on NULL input —
    matching DuckDB's ``len(string_split(NULL, ' '))``).
    """
    docs = read_table(spark, sf_dir, "documents")
    ws = F.split(F.col("text"), " ")
    return docs.select(
        "doc_id",
        F.array_size(ws).alias("n_ws_tokens"),
        F.array_size(
            F.regexp_extract_all("text", F.lit("[a-z0-9]+"), 0)
        ).alias("n_re_tokens"),
        F.length("text").alias("n_chars_measured"),
    )


def _quality_parts():
    """The three per-document quality ratios as column expressions
    over ``text`` — each pre-rounded to the 6-decimal grid (see the
    rounding note in ``quality_frame``)."""
    ws = F.split(F.col("text"), " ")
    n_words = F.size(ws)
    sum_len = F.aggregate(
        F.transform(ws, lambda w: F.length(w).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    avg_word_len = F.round(sum_len / n_words, 6)
    stop_ratio = F.round(_count_in(ws, EN_STOP) / n_words, 6)
    stripped = F.regexp_replace("text", "[^a-z0-9 ]", "")
    punct_ratio = F.round(
        (F.length("text") - F.length(stripped)) / F.length("text"), 6
    )
    return avg_word_len, stop_ratio, punct_ratio


def quality_score_col():
    """``quality_score`` as a single scan-side column expression —
    lets composites (``pipe_curate_corpus``) score documents inline on
    an already-loaded frame instead of building ``quality_frame`` and
    paying a corpus×corpus doc_id join to attach it. Bit-identical to
    ``quality_frame``'s column: same pre-rounded parts, same final
    rounding."""
    _, stop_ratio, punct_ratio = _quality_parts()
    return F.round(stop_ratio + (F.lit(1.0) - punct_ratio), 6)


def quality_frame(docs: DataFrame) -> DataFrame:
    """Quality scoring: mean word length, stopword ratio, and
    non-alnum (punctuation) ratio, combined into a deterministic
    [0,1]-ish score — the shape of a pretraining quality filter.
    Reused by ``pipe_keep_best`` as the per-document survivor rank.

    NULL ``text`` propagates: all four metrics are NULL. (The legacy
    ``size(NULL) = -1`` would otherwise make ``stop_ratio`` collapse
    to -1/-1 = 1.0 on a NULL payload; the shared ``_quality_parts`` /
    ``quality_score_col`` expressions are left untouched — their
    composite callers' scores are NULL-for-NULL on both engines
    already via the ``punct_ratio`` term.)
    """
    avg_word_len, stop_ratio, punct_ratio = _quality_parts()
    stop_ratio = F.when(F.col("text").isNotNull(), stop_ratio)
    # sum (not average) of the pre-rounded ratios: the exact result
    # stays on the 6-decimal grid, so the final round never sits on a
    # decimal tie where Spark (BigDecimal HALF_UP) and DuckDB (scaled
    # double) disagree.
    score = F.round(
        F.col("stop_ratio") + (F.lit(1.0) - F.col("punct_ratio")), 6
    )
    return docs.select(
        "doc_id",
        avg_word_len.alias("avg_word_len"),
        stop_ratio.alias("stop_ratio"),
        punct_ratio.alias("punct_ratio"),
    ).withColumn("quality_score", score)


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return quality_frame(read_table(spark, sf_dir, "documents"))


def _occurrences(col, sub: str):
    """Occurrences of ``sub`` in ``col`` as a pure JVM expression:
    (len(text) - len(text with sub removed)) / len(sub). Exact integer
    result carried as double (both engines divide to double)."""
    return (
        F.length(col) - F.length(F.replace(col, F.lit(sub), F.lit("")))
    ) / F.lit(len(sub))


def _lang_score(ws, text_col, stop: tuple[str, ...], markers: tuple[str, ...]):
    score = _count_in(ws, stop).cast("double") * F.lit(
        float(LANGID_STOP_WEIGHT)
    )
    for m in markers:
        score = score + _occurrences(text_col, m)
    return score


def q_text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language ID by combined stopword + character-n-gram profile
    scoring, argmax with a fixed tie order (en > de > fr).

    Two signal families per language: whole-token stopword hits
    (strong, weight 3) and characteristic character-sequence
    occurrence counts (weight 1) — the latter keep classifying text
    that contains no function words at all, where pure stopword voting
    degenerates to the tie order.
    """
    docs = read_table(spark, sf_dir, "documents")
    ws = F.split(F.col("text"), " ")
    t = F.col("text")
    en = _lang_score(ws, t, EN_STOP, EN_MARKERS)
    de = _lang_score(ws, t, DE_STOP, DE_MARKERS)
    fr = _lang_score(ws, t, FR_STOP, FR_MARKERS)
    lang = (
        F.when((en >= de) & (en >= fr), "en")
        .when(de >= fr, "de")
        .otherwise("fr")
    )
    return docs.select(
        "doc_id",
        en.alias("en_score"),
        de.alias("de_score"),
        fr.alias("fr_score"),
        lang.alias("lang_pred"),
    )


def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: polynomial rolling hash over the
    character stream, ``h = (h*31 + ascii(c)) mod 1e9+7`` — a
    content-defined fingerprint computable as one array fold, no UDF.
    """
    docs = read_table(spark, sf_dir, "documents")
    codes = F.transform(
        F.split(F.col("text"), ""), lambda c: F.ascii(c).cast("long")
    )
    fp = F.aggregate(
        codes,
        F.lit(0).cast("long"),
        lambda acc, x: (acc * FP_BASE + x) % FP_MOD,
    )
    return docs.select("doc_id", fp.alias("fingerprint"))


def q_text_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus term statistics: top-10 terms by document frequency
    (the DF side of tf-idf), deterministically tie-broken.
    """
    docs = read_table(spark, sf_dir, "documents")
    terms = docs.select(
        "doc_id",
        F.explode(F.array_distinct(F.split("text", " "))).alias("term"),
    )
    return (
        terms.groupBy("term")
        .agg(F.count("*").alias("doc_freq"))
        .orderBy(F.desc("doc_freq"), "term")
        .limit(10)
    )


def q_text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """tf-idf, end to end: term frequency per (doc, term), document
    frequency per term (one aggregation each), idf = ln(N/df), top-3
    terms per doc by score. Join on term is the only wide join; df is
    tiny after aggregation so it broadcasts. ln() is rounded to 8dp
    before the multiply so a last-ulp libm divergence between engines
    cannot move the 6dp final rounding.
    """
    from pyspark.sql import Window

    docs = read_table(spark, sf_dir, "documents")
    terms = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("term")
    )
    tf = terms.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df_ = terms.select("doc_id", "term").distinct().groupBy("term").agg(
        F.count("*").alias("df")
    )
    # N as a broadcast 1-row frame, not a driver-side count(): building
    # the query stays scan-free, and the corpus count executes inside
    # the same job as everything else.
    n = docs.agg(F.count("*").cast("double").alias("n_docs"))
    idf = F.round(F.log(F.col("n_docs") / F.col("df")), 8)
    scored = (
        # df_ is one row per distinct TERM — vocabulary-sized, which at
        # corpus scale is far past broadcast range; no forced hint, AQE
        # broadcasts it while it is actually small. The 1-row n frame
        # stays an explicit broadcast.
        tf.join(df_, "term")
        .join(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            F.round(F.col("tf") * idf, 6).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), "term")
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("doc_id", "term", "tfidf", "rnk")
    )


def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition scoring (the Gopher-style quality rule): per
    document, the fraction of tokens held by the single most frequent
    word and the fraction of 3-grams held by the most frequent 3-gram
    — high ratios flag boilerplate/looping text. Two explode +
    partial-aggregate branches joined on doc_id; each shuffle carries
    one row per (doc, distinct term), never per token.
    """
    docs = read_table(spark, sf_dir, "documents")
    ws = F.split(F.col("text"), " ")
    words = docs.select("doc_id", F.explode(ws).alias("t"))
    grams = docs.select(
        "doc_id",
        F.explode(
            # A doc with <3 words has no trigrams: F.sequence(0, -k)
            # would count downward and F.slice(ws, 0, 3) throws, so
            # short docs get an empty array (explode drops them, and
            # the inner join below then drops the doc — matching the
            # oracle, which produces no trigram rows for them either).
            F.when(
                F.size(ws) >= 3,
                F.transform(
                    F.sequence(F.lit(0), F.size(ws) - 3),
                    lambda i: F.concat_ws(" ", F.slice(ws, i + 1, 3)),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("t"),
    )

    def top_ratio(tok: DataFrame, out: str) -> DataFrame:
        per = tok.groupBy("doc_id", "t").agg(F.count("*").alias("c"))
        return per.groupBy("doc_id").agg(
            F.round(F.max("c") / F.sum("c"), 6).alias(out)
        )

    return top_ratio(words, "top_word_ratio").join(
        top_ratio(grams, "top_trigram_ratio"), "doc_id"
    )


def normalize(docs: DataFrame) -> DataFrame:
    """Canonical text normalization before hashing/dedup: lowercase,
    collapse every punctuation/whitespace run to one space, trim —
    then fingerprint the canonical form (md5) so byte-different
    rewrites of the same content collide. This is the key-preparation
    step exact dedup and MinHash both assume; running it as explicit
    scan-side expressions (lower/regexp_replace/trim — all
    whole-stage-codegen JVM built-ins, no shuffle, no Python) keeps
    the 100 TB cost at exactly one pass over the text column.
    """
    norm = F.trim(
        F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9]+", " ")
    )
    return docs.withColumns(
        {
            "norm_text": norm,
            "content_hash": F.md5(norm),
            "norm_tokens": F.size(F.split(norm, " ")).cast("long"),
        }
    )


def q_text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL ``text`` propagates: norm_text / content_hash / norm_tokens
    are all NULL (``normalize``'s legacy-``size`` token count would be
    -1; re-derive it here with NULL-on-NULL ``array_size``, leaving the
    shared ``normalize`` expressions byte-identical for the dedup
    callers, whose downstream grouping drops NULL hashes identically on
    both engines)."""
    docs = read_table(spark, sf_dir, "documents")
    return normalize(docs).select(
        "doc_id",
        "norm_text",
        "content_hash",
        F.array_size(F.split(F.col("norm_text"), " "))
        .cast("long")
        .alias("norm_tokens"),
    )


#: Corpus-share thresholds for the unigram model, expressed as exact
#: integer cross-multiplications (no float thresholds): a token is
#: HOT when cf * HOT_DIV >= total (share ≥ 1/HOT_DIV → at most
#: HOT_DIV tokens can qualify, so the broadcast side is PROVABLY
#: bounded by construction), and RARE when cf * RARE_DIV < total
#: (share < 1/RARE_DIV).
UNIGRAM_HOT_DIV = 20
UNIGRAM_RARE_DIV = 40


def unigram_lm(docs: DataFrame) -> DataFrame:
    """Corpus unigram-model document scoring: build the corpus term-
    frequency table in-query, then score every document by its tokens'
    corpus frequencies — total token count, corpus-frequency mass, and
    the count/fraction of rare tokens (corpus share < 1/40). The
    shape of every statistical quality filter that scores documents
    against corpus-level statistics (a unigram LM's log-prob is this
    same join with ``log`` folded in; kept in exact integer space here
    so the SQL oracle agrees bit-for-bit — rare_ratio is one IEEE
    division of two exact longs).

    Scale shape: tokens collapse to per-(doc, term) counts at the
    first partial agg, so the join input is bounded by distinct terms
    per doc, not raw tokens. The tf table is CACHED (session-scoped,
    evicting) because four plan branches read it — vocab, total, and
    both join sides; without the cache Catalyst clones the
    scan+explode subtree per branch and the corpus is tokenized five
    times. The vocabulary join is SKEW-SPLIT by corpus share: tokens
    with share ≥ 1/20 — the Zipf head that would hot-spot a hash join
    — go through a broadcast join whose build side is provably ≤ 20
    rows AT ANY CORPUS SIZE (at most 20 tokens can each hold ≥ 5% of
    the mass), while the long tail takes the ordinary shuffle join
    with no heavy keys left in it. The 1-row total rides a broadcast,
    never a driver-side collect.
    """
    from covid_engineering_spark.functions import evicting_cache

    tf = evicting_cache(
        docs.select(
            "doc_id", F.explode(F.split("text", " ")).alias("tok")
        )
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("c")),
        "unigram_tf",
    )
    # vocab is vocabulary-sized (tiny next to tf) but read three ways
    # (total, hot filter, cold filter) — cache it so the tok-shuffle
    # of tf happens exactly once.
    vocab = evicting_cache(
        tf.groupBy("tok").agg(F.sum("c").alias("cf")), "unigram_vocab"
    )
    total = vocab.agg(F.sum("cf").alias("total"))
    v = vocab.join(F.broadcast(total))
    hot = F.col("cf") * UNIGRAM_HOT_DIV >= F.col("total")
    joined = tf.join(F.broadcast(v.filter(hot)), "tok").unionByName(
        tf.join(v.filter(~hot), "tok")
    )
    rare = (F.col("cf") * UNIGRAM_RARE_DIV < F.col("total")).cast("long")
    agg = joined.groupBy("doc_id").agg(
        F.sum("c").alias("n_tokens"),
        F.sum(F.col("c") * F.col("cf")).alias("cf_mass"),
        F.sum(F.col("c") * rare).alias("rare_count"),
    )
    return agg.select(
        "doc_id",
        "n_tokens",
        "cf_mass",
        "rare_count",
        (F.col("rare_count") / F.col("n_tokens")).alias("rare_ratio"),
    )


def q_text_unigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    return unigram_lm(read_table(spark, sf_dir, "documents"))


def char_entropy(docs: DataFrame) -> DataFrame:
    """Per-document character-level Shannon entropy — the classic
    encoding/gibberish signal the token-level metrics miss: base64
    blobs, hex dumps, and key material sit near the uniform-alphabet
    ceiling; single-character padding and repeated-rune spam sit near
    zero; natural language occupies a stable band per script. Used as
    a quality gate alongside the Gopher rules (both tails are noise
    candidates).

    Determinism (the unigram-LM discipline): the per-character-TYPE
    surprisal ``ln(n/c)`` is rounded to 8dp and converted to integer
    NAT-micro-units once per (doc, char) histogram row; the document
    entropy Σ (c/n)·ln(n/c) is then an exact BIGINT sum followed by
    one truncating division (Spark ``DIV`` = DuckDB ``//``), so no
    float reaches the hash check. Code-point parity: Spark's
    empty-pattern split and DuckDB's empty-separator string_split
    both split BY CODE POINT (verified on astral-plane chars); the
    one divergence — Spark maps '' to [] where DuckDB maps it to
    [''] — is neutralized by the ``ch <> ''`` filter both sides
    carry.

    NULL/empty ``text``: no histogram rows, so the doc reports
    n_chars 0 and NULL entropy via the doc-spine LEFT join — absence
    auditable, not silent (the tier's NULL discipline).

    Scale shape: the char explode is linear in corpus BYTES and
    collapses at the first partial aggregation to ≤ |alphabet| rows
    per document — the post-shuffle histogram is tiny however large
    the corpus. The per-doc size join and both aggregations are
    doc_id-keyed equi-shuffles; nothing global, nothing collected.
    """
    from covid_engineering_spark.functions import evicting_cache

    ch = docs.select(
        "doc_id", F.explode(F.split("text", "")).alias("ch")
    ).filter(F.col("ch") != "")
    hist = evicting_cache(
        ch.groupBy("doc_id", "ch").agg(F.count("*").alias("c")),
        "entropy_hist",
    )
    sizes = evicting_cache(
        hist.groupBy("doc_id").agg(
            F.sum("c").alias("n"), F.count("*").alias("nd")
        ),
        "entropy_sizes",
    )
    surprisal_micro = F.floor(
        F.round(F.log(F.col("n") / F.col("c")), 8) * F.lit(1e6)
        + F.lit(0.5)
    ).cast("long")
    ent = (
        hist.join(sizes, "doc_id")
        .select("doc_id", (F.col("c") * surprisal_micro).alias("t"))
        .groupBy("doc_id")
        .agg(F.sum("t").alias("m"))
    )
    zero = F.lit(0).cast("long")
    return (
        docs.select("doc_id")
        .join(sizes, "doc_id", "left")
        .join(ent, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n"), zero).alias("n_chars"),
            F.coalesce(F.col("nd"), zero).alias("n_distinct_chars"),
            F.expr("m DIV n").alias("entropy_nat_micros"),
        )
    )


def q_text_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    return char_entropy(read_table(spark, sf_dir, "documents"))


#: Collocation extraction: minimum corpus bigram count (hapax pairs
#: score inflated PMI — the standard noise floor) and the report size.
COLLOC_MIN = 5
COLLOC_K = 50


def collocations(docs: DataFrame) -> DataFrame:
    """Corpus-level collocation extraction: the top-k word pairs by
    pointwise mutual information — PMI = ln(p(ab)/(p(a)·p(b))) with
    p(ab) over bigram positions and p(a) over tokens — subject to a
    minimum pair count. The classic keyphrase/term-mining signal
    (Church & Hanks 1990): high-PMI pairs are multiword units
    ("san francisco"), which feed tokenizer vocabulary audits and
    boilerplate-phrase inventories; `text_bigram_lm` scores documents
    against phrase statistics, this op EXTRACTS the phrases.

    Determinism: counts are exact integers end-to-end; PMI's single
    float expression ln((c_ab·N·N)/(B·c_a·c_b)) is written with the
    identical association order in both engines, rounded 8dp, and
    converted once to integer micro-units (the text-tier idiom), so
    ranking and the hash ride BIGINTs. The top-k order is total
    (pmi_micros DESC, bigram ASC — the bigram IS the group key, so
    the tie-break is unique) and plans TakeOrderedAndProject.

    Scale shape: token and bigram construction are map-side (the
    bigram_lm array-algebra pattern); both collapse at their first
    partial aggregation to vocabulary-sized frames. The unigram
    attach is two equi-joins of the DISTINCT-bigram candidate frame
    (already floored to c_ab ≥ min_count) against the unigram
    vocabulary — both sides bounded by vocabulary, not corpus, so the
    Zipf head costs a hot ROW, never a hot corpus partition. N and B
    are 1-row broadcasts.
    """
    from covid_engineering_spark.functions import evicting_cache

    toks = docs.select(F.explode(F.split("text", " ")).alias("tok"))
    uni = evicting_cache(
        toks.groupBy("tok").agg(F.count("*").alias("cf")), "colloc_uni"
    )
    n_tok = uni.agg(F.sum("cf").alias("n_tok"))
    ws = F.split(F.col("text"), " ")
    pairs = docs.select(
        F.explode(
            F.when(
                F.size(ws) >= 2,
                F.transform(
                    F.sequence(F.lit(0), F.size(ws) - 2),
                    lambda i: F.struct(
                        F.element_at(ws, i + 1).alias("a"),
                        F.element_at(ws, i + 2).alias("b"),
                    ),
                ),
            ).otherwise(
                F.array().cast("array<struct<a:string,b:string>>")
            )
        ).alias("p")
    ).select("p.a", "p.b")
    counts = evicting_cache(
        pairs.groupBy("a", "b").agg(F.count("*").alias("c_ab")),
        "colloc_bg",
    )
    b_tot = counts.agg(F.sum("c_ab").alias("b_tot"))
    cand = counts.filter(F.col("c_ab") >= COLLOC_MIN)
    ca = uni.select(F.col("tok").alias("a"), F.col("cf").alias("c_a"))
    cb = uni.select(F.col("tok").alias("b"), F.col("cf").alias("c_b"))
    pmi_micros = F.floor(
        F.round(
            F.log(
                (F.col("c_ab").cast("double") * F.col("n_tok") * F.col("n_tok"))
                / (F.col("b_tot").cast("double") * F.col("c_a") * F.col("c_b"))
            ),
            8,
        )
        * F.lit(1e6)
        + F.lit(0.5)
    ).cast("long")
    return (
        cand.join(ca, "a")
        .join(cb, "b")
        .join(F.broadcast(n_tok))
        .join(F.broadcast(b_tot))
        .select(
            F.concat_ws(" ", "a", "b").alias("bg"),
            "c_ab",
            "c_a",
            "c_b",
            pmi_micros.alias("pmi_micros"),
        )
        .orderBy(F.desc("pmi_micros"), "bg")
        .limit(COLLOC_K)
    )


def q_text_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    return collocations(read_table(spark, sf_dir, "documents", fan=True))


def js_divergence(docs: DataFrame) -> DataFrame:
    """Per-source Jensen–Shannon divergence (Lin 1991) between each
    source's unigram distribution and the whole-corpus distribution —
    the domain-shift audit a mixture plan reads before reweighting:
    a source whose token distribution sits far from the corpus norm
    (high JS) is a candidate for its own mixture component or a
    quality review; sources near zero are interchangeable with the
    blend. JS (not KL) because it is finite under disjoint support
    and symmetric, the standard corpus-comparison divergence.

    No source × vocabulary grid: for tokens ABSENT from a source,
    p = 0, m = q/2, and the pointwise contribution collapses to
    q·ln 2 — so the absent mass folds into the closed form
    0.5·ln 2·(1 − Q_s) where Q_s is the corpus probability mass of
    the source's PRESENT tokens, and every computed row is a real
    (source, token) pair. The grid the textbook formula implies is
    never materialized.

    Determinism: counts are exact BIGINTs end-to-end; each present
    pair's pointwise term 0.5·(p·ln(p/m) + q·ln(q/m)) — nonnegative
    by convexity, as is the remainder — is ONE float expression
    written with identical association order in both engines, rounded
    8dp, converted once to integer micro-units (the collocations
    idiom), so the per-source total is a BIGINT sum plus one
    remainder micro-term.

    Scale shape: the only corpus-sized pass is the (source, token)
    partial aggregation; everything downstream is bounded by
    vocabulary × sources. Per-source totals ride a window over that
    bounded frame (not a join, so NULL ``source`` stays its own
    group in both engines); the corpus-total frame is a 1-row
    broadcast. The vocabulary attach is an equi-join on token —
    broadcast at audit scales, a plain shuffled hash join when the
    vocabulary outgrows that, either way vocabulary-bounded.

    NULL ``text`` emits no token rows (the corpus-statistic
    convention above); a source whose every document is NULL-text
    has no distribution to compare and is absent from the report.
    """
    from pyspark.sql import Window

    from covid_engineering_spark.functions import evicting_cache

    toks = docs.select(
        "source", F.explode(F.split("text", " ")).alias("tok")
    )
    cst = evicting_cache(
        toks.groupBy("source", "tok").agg(F.count("*").alias("c_st")),
        "js_cst",
    )
    vocab = cst.groupBy("tok").agg(F.sum("c_st").alias("c_t"))
    n_tot = vocab.agg(F.sum("c_t").alias("n_tot"))
    pairs = (
        cst.join(vocab, "tok")
        .join(F.broadcast(n_tot))
        .withColumn(
            "n_s", F.sum("c_st").over(Window.partitionBy("source"))
        )
    )
    p = F.col("c_st").cast("double") / F.col("n_s")
    q = F.col("c_t").cast("double") / F.col("n_tot")
    m = (p + q) / F.lit(2)
    term = F.lit(0.5) * (p * F.log(p / m) + q * F.log(q / m))
    tm = F.floor(F.round(term, 8) * F.lit(1e6) + F.lit(0.5)).cast("long")
    agg = pairs.groupBy("source").agg(
        F.max("n_s").alias("n_src_tokens"),
        F.count("*").alias("n_shared_types"),
        F.sum(tm).alias("_pair_micros"),
        F.sum("c_t").alias("_cq"),
        F.max("n_tot").alias("_nt"),
    )
    rem = (
        F.lit(0.5)
        * F.log(F.lit(2.0))
        * (F.lit(1) - F.col("_cq").cast("double") / F.col("_nt"))
    )
    rem_m = F.floor(F.round(rem, 8) * F.lit(1e6) + F.lit(0.5)).cast("long")
    return agg.select(
        "source",
        "n_src_tokens",
        "n_shared_types",
        (F.col("_pair_micros") + rem_m).cast("long").alias("js_micros"),
    )


def q_text_js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    return js_divergence(read_table(spark, sf_dir, "documents"))


def perplexity(docs: DataFrame) -> DataFrame:
    """Per-document cross-entropy under the in-query corpus unigram
    LM — the CCNet-style LM quality gate (Wenzek et al. 2020): docs
    whose tokens the corpus model finds surprising (high mean NLL)
    are noise candidates; docs far below the corpus norm are
    boilerplate. The standard perplexity-bucketing signal, with the
    corpus itself as the model.

    Determinism: the per-TYPE negative log-likelihood
    ``ln(total/cf)`` is rounded to 8dp (one libm op, the tfidf
    discipline) and converted to integer MICRO-units once per
    vocabulary entry; each document's total NLL is then an exact
    BIGINT sum (token count × per-type micros), and the mean NLL is
    one truncating integer division (Spark ``DIV`` = DuckDB ``//``,
    the pagerank convention). Perplexity itself is ``exp(mean-NLL)``
    — monotone in the reported integer, left to the consumer so no
    second libm op enters the hashed result.

    Scale shape: identical to ``unigram_lm`` (same cached tf/vocab
    frames, same provably-≤20-row hot-token broadcast split, 1-row
    total broadcast); the only addition is one more projected column
    on the vocabulary frame.
    """
    from covid_engineering_spark.functions import evicting_cache

    tf = evicting_cache(
        docs.select(
            "doc_id", F.explode(F.split("text", " ")).alias("tok")
        )
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("c")),
        "unigram_tf",
    )
    vocab = evicting_cache(
        tf.groupBy("tok").agg(F.sum("c").alias("cf")), "unigram_vocab"
    )
    total = vocab.agg(F.sum("cf").alias("total"))
    nll_micro = F.floor(
        F.round(F.log(F.col("total") / F.col("cf")), 8) * F.lit(1e6)
        + F.lit(0.5)
    ).cast("long")
    v = vocab.join(F.broadcast(total)).select(
        "tok", "cf", "total", nll_micro.alias("nll_micro")
    )
    hot = F.col("cf") * UNIGRAM_HOT_DIV >= F.col("total")
    joined = tf.join(F.broadcast(v.filter(hot)), "tok").unionByName(
        tf.join(v.filter(~hot), "tok")
    )
    agg = joined.groupBy("doc_id").agg(
        F.sum("c").alias("n_tokens"),
        F.sum(F.col("c") * F.col("nll_micro")).alias("nll_micros"),
    )
    return agg.select(
        "doc_id",
        "n_tokens",
        "nll_micros",
        F.expr("nll_micros DIV n_tokens").alias("mean_nll_micros"),
    )


def q_text_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    return perplexity(read_table(spark, sf_dir, "documents"))


def bigram_lm(docs: DataFrame) -> DataFrame:
    """Corpus bigram-model scoring — the phrase-level complement to
    ``unigram_lm``: per document, total and distinct bigram counts
    plus the RARE-phrase share (bigrams holding < 1/BIGRAM_RARE_DIV
    of the corpus bigram mass — a corpus-relative bar, like the
    unigram model's, so the signal survives vocabulary saturation; an
    absolute hapax rule reads identically-zero once every plausible
    pair has been seen somewhere). A low rare share means the
    document is built from phrases the corpus recycles — the signal
    behind boilerplate and template detection, where unigram stats
    look normal but phrasing is stock.

    Scale shape: bigram construction is MAP-SIDE array algebra
    (slice+concat over the token array — no window, no per-token
    shuffle for sequencing); tokens collapse to per-(doc, bigram)
    counts at the first partial agg. The tf frame is cached (two
    readers: vocabulary and the scoring join). The vocabulary join is
    one ordinary shuffle join WITHOUT the unigram hot/cold split: a
    bigram's corpus share is bounded by its rarer word's share, so
    the Zipf head that forces the unigram skew guard is structurally
    flattened here (verified: max bigram df ≪ 1/20 of mass on the
    fixture corpus at every SF).

    Docs with < 2 tokens have no bigrams and emit no row — same
    contract as ``text_repetition``'s trigram branch, and the same
    rows the oracle produces.
    """
    from covid_engineering_spark.functions import evicting_cache

    ws = F.split(F.col("text"), " ")
    grams = docs.select(
        "doc_id",
        F.explode(
            F.when(
                F.size(ws) >= 2,
                F.transform(
                    F.sequence(F.lit(0), F.size(ws) - 2),
                    lambda i: F.concat_ws(" ", F.slice(ws, i + 1, 2)),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("bg"),
    )
    tf = evicting_cache(
        grams.groupBy("doc_id", "bg").agg(F.count("*").alias("c")),
        "bigram_tf",
    )
    vocab = tf.groupBy("bg").agg(F.sum("c").alias("bf"))
    total = vocab.agg(F.sum("bf").alias("total"))
    rare = (F.col("bf") * BIGRAM_RARE_DIV < F.col("total")).cast("long")
    return (
        tf.join(vocab, "bg")
        .join(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_bigrams"),
            F.count("*").alias("distinct_bigrams"),
            F.sum(F.col("c") * rare).alias("rare_count"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            "distinct_bigrams",
            "rare_count",
            (F.col("rare_count") / F.col("n_bigrams")).alias(
                "novelty_ratio"
            ),
        )
    )


#: A bigram is RARE when it holds < 1/BIGRAM_RARE_DIV of the corpus
#: bigram mass (exact integer cross-multiplication, no float
#: threshold). 1500 keeps the rare set non-trivial at every fixture
#: SF — the saturated ~900-pair vocabulary still spreads enough mass
#: for ~30 tail pairs to sit under 1/1500.
BIGRAM_RARE_DIV = 1500


def q_text_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bigram_lm(read_table(spark, sf_dir, "documents"))


def dup_ngram_rate(docs: DataFrame) -> DataFrame:
    """Corpus-level duplicated-n-gram rate per document: the fraction
    of a document's distinct word-3-grams that occur in at least
    two documents corpus-wide. The memorization-risk signal
    from the dedup literature (a document whose n-grams are mostly
    shared elsewhere is boilerplate or a near-copy even when no single
    pair-level match fires) — complements pair dedup exactly where
    sub-pair-threshold duplication hides.

    Scale shape: shingles collapse to per-gram document frequency at
    one partial agg; the join back is (doc, gram) ⋈ (gram, df) — one
    row to one row, NO fan-out regardless of how common a gram is
    (contrast the pair self-join, which needs its stop-shingle guard).
    Final per-doc agg is the second and last shuffle. Intermediate
    cardinality is Σ distinct grams per doc — linear in corpus tokens.
    """
    from covid_engineering_spark.functions import evicting_cache
    from covid_engineering_spark.operators.dedup import shingles_of

    # Both the df aggregate and the join side read the shingle frame;
    # uncached, the corpus is scanned+exploded twice (same discipline
    # as the jaccard path's materialized shingle index).
    sh = evicting_cache(shingles_of(docs), "dup_rate_shingles")
    df_tab = sh.groupBy("s").agg(F.count("*").alias("df"))
    dup = (F.col("df") >= 2).cast("long")
    agg = (
        sh.join(df_tab, "s")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.sum(dup).alias("n_dup_grams"),
        )
    )
    return agg.select(
        "doc_id",
        "n_grams",
        "n_dup_grams",
        F.round(F.col("n_dup_grams") / F.col("n_grams"), 6).alias(
            "dup_rate"
        ),
    )


def q_text_dup_ngram_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dup_ngram_rate(read_table(spark, sf_dir, "documents"))


#: The fixed query term set BM25 ranks against — content words present
#: at every fixture SF. In production the terms arrive as a parameter
#: (or a broadcast query table); the plan shape is identical.
BM25_TERMS = ("spark", "join", "window", "vector")
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOPN = 20


def bm25_rank(docs: DataFrame) -> DataFrame:
    """BM25 document ranking against a fixed query term set — the
    retrieval-relevance primitive (Robertson–Spärck Jones; the scoring
    function behind Lucene/Elasticsearch and the lexical half of
    hybrid search): per matching (doc, term),
    ``idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))`` with
    ``idf = ln((N − df + ½)/(df + ½) + 1)``, summed per document, top
    ``BM25_TOPN`` docs returned.

    Determinism: tf/df/dl/N/Σdl all accumulate as exact BIGINTs; the
    only libm op (``ln``) is rounded to 8dp (the ``text_tfidf``
    discipline) and every remaining step is an exactly-rounded IEEE
    op written in the SAME order in both engines, so the per-term
    score is bit-identical — then it's converted to integer
    MICRO-units (``floor(score·1e6 + 0.5)``) so the per-document SUM
    is partition-order independent (floats summed in shuffle order
    are not). The top-N cut is fully tiebroken (score desc, doc_id).

    Scale shape: tokens are filtered to the query terms MAP-SIDE
    before the explode, so the tf agg touches only matching tokens;
    the df/N/Σdl stats collapse to a ≤|terms|-row and a 1-row frame,
    both broadcast; the final cut is orderBy+limit —
    TakeOrderedAndProject, each task ships ≤ N rows, no global sort.
    The lengths frame is CACHED (evicting): both the tf explode and
    the corpus-stats agg read it, and uncached Catalyst re-tokenizes
    the corpus once per branch.
    """
    from covid_engineering_spark.functions import evicting_cache

    ws = F.split(F.col("text"), " ")
    term_arr = F.array(*[F.lit(t) for t in BM25_TERMS])
    lengths = evicting_cache(
        docs.select(
            "doc_id",
            F.size(ws).alias("dl"),
            F.filter(ws, lambda w: F.array_contains(term_arr, w)).alias(
                "hits"
            ),
        ),
        "bm25_lengths",
    )
    tf = (
        lengths.select("doc_id", "dl", F.explode("hits").alias("term"))
        .groupBy("doc_id", "dl", "term")
        .agg(F.count("*").alias("tf"))
    )
    df_tab = tf.groupBy("term").agg(F.count("*").alias("df"))
    corpus = lengths.agg(
        F.count("*").alias("n_docs"),
        F.sum("dl").alias("total_dl"),
    )
    idf8 = F.round(
        F.log(
            (F.col("n_docs") - F.col("df") + F.lit(0.5))
            / (F.col("df") + F.lit(0.5))
            + F.lit(1.0)
        ),
        8,
    )
    k1_1 = BM25_K1 + 1.0
    norm = (
        F.col("tf")
        + F.lit(BM25_K1 * (1.0 - BM25_B))
        + F.lit(BM25_K1 * BM25_B)
        * (
            (F.col("dl") * F.col("n_docs")).cast("double")
            / F.col("total_dl")
        )
    )
    micro = F.floor(
        idf8 * (F.col("tf") * F.lit(k1_1)) / norm * F.lit(1e6)
        + F.lit(0.5)
    ).cast("long")
    return (
        tf.join(F.broadcast(df_tab), "term")
        .join(F.broadcast(corpus))
        .select("doc_id", micro.alias("micro"))
        .groupBy("doc_id")
        .agg(
            F.sum("micro").alias("bm25_micros"),
            F.count("*").alias("n_hit_terms"),
        )
        .orderBy(F.desc("bm25_micros"), "doc_id")
        .limit(BM25_TOPN)
    )


def q_text_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bm25_rank(read_table(spark, sf_dir, "documents"))


#: The Gopher rule thresholds (Rae et al. 2021, arXiv:2112.11446,
#: §A1.1) — word-count window, mean-word-length window, symbol and
#: line-shape caps, alpha-word floor, required-word floor. Expressed
#: as exact integer cross-multiplications so no float division enters
#: a comparison.
GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_MEAN_LEN = 3
GOPHER_MAX_MEAN_LEN = 10
#: symbol-to-word ratio ≤ 1/10; bullet lines ≤ 90%-start rule means
#: ≥90% of lines may NOT start with a bullet (cap 1/10); ellipsis
#: line cap 3/10; alpha-word floor 4/5.
GOPHER_SYMBOLS = ("#", "...")
#: Gopher's published required-word set is English function words
#: ("the","be","to","of","and","that","have","with" — ≥2 kinds). The
#: paper's set is explicitly English-specific; the engine uses the
#: fixture corpus's actual function words (it is synthetic
#: pseudo-English whose only function words are "the"/"a") so the
#: gate stays non-degenerate — a corpus in another language swaps
#: this lexicon.
GOPHER_REQUIRED_FIXTURE = ("the", "a")
GOPHER_MIN_REQUIRED_KINDS = 2


def _gopher_metric_cols() -> dict:
    """The per-document Gopher metrics (word/line array folds) as
    expressions over a ``text`` column. Kept separate from the verdict
    comparisons so :func:`gopher_rules` can PROJECT them once and
    compare cheaply on top — the verdicts' null-safe CASE WHEN wraps
    would otherwise pull each metric into its own conditional branch,
    where whole-stage codegen's subexpression elimination cannot share
    the ``split`` arrays across columns (measured 2.1x on the audit
    frame at sf0.1)."""
    ws = F.split(F.col("text"), " ")
    lines = F.split(F.col("text"), "\n")
    return {
        "n_words": F.size(ws).cast("long"),
        "sum_len": F.aggregate(
            F.transform(ws, lambda w: F.length(w).cast("long")),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ),
        "n_symbols": sum(
            (_occurrences(F.col("text"), s) for s in GOPHER_SYMBOLS),
            F.lit(0.0),
        ).cast("long"),
        "n_lines": F.size(lines).cast("long"),
        "bullet_lines": F.size(
            F.filter(
                lines,
                lambda ln: ln.startswith("•") | ln.startswith("- "),
            )
        ).cast("long"),
        "ellipsis_lines": F.size(
            F.filter(lines, lambda ln: ln.endswith("..."))
        ).cast("long"),
        "alpha_words": F.size(
            F.filter(ws, lambda w: w.rlike("[a-zA-Z]"))
        ).cast("long"),
        "kinds": sum(
            (F.array_contains(ws, w).cast("int")
             for w in GOPHER_REQUIRED_FIXTURE),
            F.lit(0),
        ),
    }


def _gopher_verdicts(m: dict) -> dict:
    """The rule comparisons (integer cross-multiplications) over a
    metric dict — either :func:`_gopher_metric_cols`' raw expressions
    (the one-expression gate predicate) or their projected columns
    (the audit frame)."""
    n_words, sum_len = m["n_words"], m["sum_len"]
    n_symbols, n_lines = m["n_symbols"], m["n_lines"]
    bullet_lines, ellipsis_lines = m["bullet_lines"], m["ellipsis_lines"]
    alpha_words, kinds = m["alpha_words"], m["kinds"]
    r_words = (n_words >= GOPHER_MIN_WORDS) & (
        n_words <= GOPHER_MAX_WORDS
    )
    r_mean_len = (sum_len >= GOPHER_MIN_MEAN_LEN * n_words) & (
        sum_len <= GOPHER_MAX_MEAN_LEN * n_words
    )
    r_symbols = n_symbols * 10 <= n_words
    r_bullets = bullet_lines * 10 <= n_lines
    r_ellipsis = ellipsis_lines * 10 <= n_lines * 3
    r_alpha = alpha_words * 5 >= n_words * 4
    r_required = kinds >= GOPHER_MIN_REQUIRED_KINDS
    gate = (
        r_words
        & r_mean_len
        & r_symbols
        & r_bullets
        & r_ellipsis
        & r_alpha
        & r_required
    )
    return {
        "n_words": n_words,
        "r_word_count": r_words,
        "r_mean_word_len": r_mean_len,
        "r_symbol_ratio": r_symbols,
        "r_bullet_lines": r_bullets,
        "r_ellipsis_lines": r_ellipsis,
        "r_alpha_words": r_alpha,
        "r_required_words": r_required,
        "pass_gopher": gate,
    }


def gopher_gate_col():
    """The combined Gopher gate as ONE predicate Column over a
    ``text`` column — the zero-join form for gate-first funnels:
    ``docs.filter(gopher_gate_col())`` evaluates the whole rule suite
    inside the scan projection (pure map-side, no shuffle). Joining
    :func:`gopher_rules`' audit frame back on doc_id instead costs a
    second scan plus a corpus-sized shuffle join for nothing —
    measured at sf0.1: the join form erased the entire downstream
    saving of a ~45% gate.
    """
    return _gopher_verdicts(_gopher_metric_cols())["pass_gopher"]


def gopher_rules(docs: DataFrame) -> DataFrame:
    """The Gopher quality-filter rule suite (Rae et al. 2021 §A1.1) —
    the published heuristic gate most pretraining pipelines start
    from: per document, every rule's verdict plus the combined gate,
    so the downstream filter is one ``filter(pass_gopher)`` and the
    rejection REASONS stay auditable per source (which rule fires
    where is the first question a corpus audit asks). For gating a
    frame that still carries its payload columns, prefer
    :func:`gopher_gate_col` (a predicate, no join).

    Exactness: every ratio threshold is an integer
    cross-multiplication (10·symbols ≤ words, 5·alpha ≥ 4·words,
    3·words ≤ Σlen ≤ 10·words, …) — no float division reaches a
    comparison, so both engines agree bit-for-bit.

    Scale shape: PURE MAP-SIDE like ``blocklist_filter`` — one scan,
    per-row array math, no shuffle, no join; runs first in the gate
    stack alongside it at 100 TB.

    NULL ``text``: ``n_words`` is NULL and every rule verdict —
    including ``pass_gopher`` — is literal FALSE (a payload-less
    document fails the gate, it doesn't "unknown" it; the verdict
    columns feed ``filter()`` calls and per-source rejection counts,
    so they must be non-null). The wrap lives HERE at the audit
    select, leaving the shared ``gopher_gate_col`` expression
    byte-identical for the gate-first funnels (a NULL predicate and a
    FALSE predicate filter the same).

    Two-stage select: the metric folds project ONCE (stage 1 shares
    the ``split`` arrays across all eight metrics via codegen
    subexpression elimination), the comparisons + null-safe wraps read
    the projected columns (stage 2, cheap). CollapseProject leaves the
    boundary alone — every metric feeds ≥2 verdicts, and duplicating a
    non-cheap higher-order fold is exactly what the rule refuses to
    do. Folding the wraps into one select instead re-measured at 2.1x:
    each CASE WHEN branch re-derived its own copy of the arrays.
    """
    metrics = _gopher_metric_cols()
    staged = docs.select(
        "doc_id",
        "source",
        F.col("text").isNotNull().alias("_has_text"),
        *[expr.alias(f"_m_{name}") for name, expr in metrics.items()],
    )
    cols = _gopher_verdicts({name: F.col(f"_m_{name}") for name in metrics})
    present = F.col("_has_text")

    def _null_safe(name, expr):
        if name == "n_words":
            return F.when(present, expr)
        return F.when(present, expr).otherwise(F.lit(False))

    return staged.select(
        "doc_id",
        "source",
        *[_null_safe(name, expr).alias(name) for name, expr in cols.items()],
    )


def q_text_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    return gopher_rules(read_table(spark, sf_dir, "documents"))


QUERIES = {
    "text_token_stats": q_text_token_stats,
    "text_normalize": q_text_normalize,
    "text_repetition": q_text_repetition,
    "text_tfidf": q_text_tfidf,
    "text_quality": q_text_quality,
    "text_langid": q_text_langid,
    "text_fingerprint": q_text_fingerprint,
    "text_top_terms": q_text_top_terms,
    "text_unigram_lm": q_text_unigram_lm,
    "text_entropy": q_text_entropy,
    "text_collocations": q_text_collocations,
    "text_js_divergence": q_text_js_divergence,
    "text_dup_ngram_rate": q_text_dup_ngram_rate,
    "text_bigram_lm": q_text_bigram_lm,
    "text_bm25": q_text_bm25,
    "text_gopher_rules": q_text_gopher_rules,
    "text_perplexity": q_text_perplexity,
}


def _sql_count_in(words: tuple[str, ...]) -> str:
    lst = ", ".join(f"'{w}'" for w in words)
    return f"len(list_filter(string_split(text, ' '), w -> w IN ({lst})))"


def sql_quality_score(text_col: str = "text") -> str:
    """The DuckDB twin of ``quality_frame``'s ``quality_score`` column
    (same pre-rounded 6-decimal grid), as an expression over
    ``text_col`` — shared with the ``pipe_keep_best`` oracle.
    """
    stop = _sql_count_in(EN_STOP).replace("text", text_col)
    return (
        f"ROUND(ROUND({stop} / len(string_split({text_col}, ' ')), 6)"
        f" + (1.0 - ROUND((length({text_col}) -"
        f" length(regexp_replace({text_col}, '[^a-z0-9 ]', '', 'g')))"
        f" / length({text_col}), 6)), 6)"
    )


def _sql_occ(sub: str) -> str:
    return f"(length(text) - length(replace(text, '{sub}', ''))) / {len(sub)}"


def _sql_score(stop: tuple[str, ...], markers: tuple[str, ...]) -> str:
    occ = " + ".join(_sql_occ(m) for m in markers)
    return (
        f"(CAST({_sql_count_in(stop)} AS DOUBLE)"
        f" * {float(LANGID_STOP_WEIGHT)} + {occ})"
    )


ORACLES = {
    "text_perplexity": """
        WITH ws AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS tok
            FROM documents
        ),
        tf AS (
            SELECT doc_id, tok, COUNT(*) AS c FROM ws GROUP BY 1, 2
        ),
        vocab AS (
            SELECT tok, CAST(SUM(c) AS BIGINT) AS cf FROM tf GROUP BY tok
        ),
        tot AS (SELECT CAST(SUM(cf) AS BIGINT) AS total FROM vocab),
        v AS (
            SELECT tok,
                   CAST(FLOOR(ROUND(ln(total / cf), 8) * 1000000.0 + 0.5)
                        AS BIGINT) AS nll_micro
            FROM vocab CROSS JOIN tot
        ),
        agg AS (
            SELECT doc_id,
                   CAST(SUM(c) AS BIGINT) AS n_tokens,
                   CAST(SUM(c * nll_micro) AS BIGINT) AS nll_micros
            FROM tf JOIN v USING (tok)
            GROUP BY doc_id
        )
        SELECT doc_id, n_tokens, nll_micros,
               nll_micros // n_tokens AS mean_nll_micros
        FROM agg
    """,
    # The float constants are emitted with repr() of the SAME Python
    # expressions the Spark side uses (k1·(1−b) = 0.8999999999999999,
    # not the literal 0.9) — a literal that LOOKS equal parses to a
    # different double and the micro-unit conversion diverges.
    "text_gopher_rules": f"""
        WITH m AS (
            SELECT doc_id, source,
                   CAST(len(string_split(text, ' ')) AS BIGINT)
                       AS n_words,
                   CAST(list_sum(list_transform(string_split(text, ' '),
                        w -> length(w))) AS BIGINT) AS sum_len,
                   CAST({" + ".join(_sql_occ(s) for s in GOPHER_SYMBOLS)}
                        AS BIGINT) AS n_symbols,
                   CAST(len(string_split(text, chr(10))) AS BIGINT)
                       AS n_lines,
                   CAST(len(list_filter(string_split(text, chr(10)),
                        l -> starts_with(l, '•') OR starts_with(l, '- ')))
                        AS BIGINT) AS bullet_lines,
                   CAST(len(list_filter(string_split(text, chr(10)),
                        l -> ends_with(l, '...'))) AS BIGINT)
                       AS ellipsis_lines,
                   CAST(len(list_filter(string_split(text, ' '),
                        w -> regexp_matches(w, '[a-zA-Z]'))) AS BIGINT)
                       AS alpha_words,
                   ({" + ".join(
                       f"CASE WHEN list_contains(string_split(text, ' '),"
                       f" '{w}') THEN 1 ELSE 0 END"
                       for w in GOPHER_REQUIRED_FIXTURE
                   )}) AS kinds,
                   text IS NOT NULL AS has_text
            FROM documents
        )
        -- NULL text: n_words NULL, every verdict FALSE (matches the
        -- engine's null-safe audit wrap; the m fields are NULL only
        -- when text is, so COALESCE(cmp, FALSE) is exactly the
        -- has_text gate for the simple rules — pass_gopher spells it
        -- out because a present-text row can still fail early ANDs).
        SELECT doc_id, source, n_words,
               COALESCE(n_words >= {GOPHER_MIN_WORDS}
                   AND n_words <= {GOPHER_MAX_WORDS}, FALSE)
                   AS r_word_count,
               COALESCE(sum_len >= {GOPHER_MIN_MEAN_LEN} * n_words
                   AND sum_len <= {GOPHER_MAX_MEAN_LEN} * n_words, FALSE)
                   AS r_mean_word_len,
               COALESCE(n_symbols * 10 <= n_words, FALSE) AS r_symbol_ratio,
               COALESCE(bullet_lines * 10 <= n_lines, FALSE)
                   AS r_bullet_lines,
               COALESCE(ellipsis_lines * 10 <= n_lines * 3, FALSE)
                   AS r_ellipsis_lines,
               COALESCE(alpha_words * 5 >= n_words * 4, FALSE)
                   AS r_alpha_words,
               (has_text AND kinds >= {GOPHER_MIN_REQUIRED_KINDS})
                   AS r_required_words,
               (has_text
                AND COALESCE(n_words >= {GOPHER_MIN_WORDS}
                AND n_words <= {GOPHER_MAX_WORDS}
                AND sum_len >= {GOPHER_MIN_MEAN_LEN} * n_words
                AND sum_len <= {GOPHER_MAX_MEAN_LEN} * n_words
                AND n_symbols * 10 <= n_words
                AND bullet_lines * 10 <= n_lines
                AND ellipsis_lines * 10 <= n_lines * 3
                AND alpha_words * 5 >= n_words * 4
                AND kinds >= {GOPHER_MIN_REQUIRED_KINDS}, FALSE))
                   AS pass_gopher
        FROM m
    """,
    "text_bm25": f"""
        WITH l AS (
            SELECT doc_id, len(string_split(text, ' ')) AS dl,
                   list_filter(string_split(text, ' '),
                               w -> w IN ({", ".join(f"'{t}'" for t in BM25_TERMS)}))
                       AS hits
            FROM documents
        ),
        tf AS (
            SELECT doc_id, dl, unnest(hits) AS term
            FROM l
        ),
        tfc AS (
            SELECT doc_id, dl, term, COUNT(*) AS tf
            FROM tf GROUP BY 1, 2, 3
        ),
        dft AS (SELECT term, COUNT(*) AS df FROM tfc GROUP BY term),
        corpus AS (
            SELECT COUNT(*) AS n_docs,
                   CAST(SUM(dl) AS BIGINT) AS total_dl
            FROM l
        ),
        scored AS (
            SELECT doc_id,
                   CAST(FLOOR(
                       ROUND(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0), 8)
                       * (tf * {BM25_K1 + 1.0!r})
                       / (tf + {BM25_K1 * (1.0 - BM25_B)!r}
                          + {BM25_K1 * BM25_B!r}
                            * (CAST(dl * n_docs AS DOUBLE) / total_dl))
                       * 1000000.0 + 0.5) AS BIGINT) AS micro
            FROM tfc JOIN dft USING (term) CROSS JOIN corpus
        )
        SELECT doc_id,
               CAST(SUM(micro) AS BIGINT) AS bm25_micros,
               COUNT(*) AS n_hit_terms
        FROM scored GROUP BY doc_id
        ORDER BY bm25_micros DESC, doc_id
        LIMIT {BM25_TOPN}
    """,
    "text_dup_ngram_rate": """
        WITH ws AS (SELECT doc_id, string_split(text, ' ') AS w
                    FROM documents),
        sh AS (
            SELECT DISTINCT doc_id,
                   unnest(list_transform(generate_series(1, len(w) - 2),
                          i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
            FROM ws
        ),
        dft AS (SELECT s, COUNT(*) AS df FROM sh GROUP BY s)
        SELECT doc_id,
               COUNT(*) AS n_grams,
               CAST(SUM(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_dup_grams,
               ROUND(CAST(SUM(CASE WHEN df >= 2 THEN 1 ELSE 0 END)
                          AS BIGINT) / COUNT(*), 6) AS dup_rate
        FROM sh JOIN dft USING (s)
        GROUP BY doc_id
    """,
    "text_unigram_lm": f"""
        WITH tf AS (
            SELECT doc_id, tok, COUNT(*) AS c
            FROM (
                SELECT doc_id, unnest(string_split(text, ' ')) AS tok
                FROM documents
            )
            GROUP BY doc_id, tok
        ),
        vocab AS (
            SELECT tok, CAST(SUM(c) AS BIGINT) AS cf FROM tf GROUP BY tok
        ),
        tot AS (SELECT CAST(SUM(cf) AS BIGINT) AS total FROM vocab)
        SELECT doc_id,
               CAST(SUM(c) AS BIGINT) AS n_tokens,
               CAST(SUM(c * cf) AS BIGINT) AS cf_mass,
               CAST(SUM(CASE WHEN cf * {UNIGRAM_RARE_DIV} < total
                             THEN c ELSE 0 END) AS BIGINT) AS rare_count,
               CAST(SUM(CASE WHEN cf * {UNIGRAM_RARE_DIV} < total
                             THEN c ELSE 0 END) AS BIGINT)
                 / CAST(SUM(c) AS BIGINT) AS rare_ratio
        FROM tf JOIN vocab USING (tok) CROSS JOIN tot
        GROUP BY doc_id
    """,
    "text_entropy": """
        WITH ch AS (
            SELECT doc_id, unnest(string_split(text, '')) AS ch
            FROM documents
        ),
        hist AS (
            SELECT doc_id, ch, CAST(COUNT(*) AS BIGINT) AS c
            FROM ch WHERE ch <> '' GROUP BY doc_id, ch
        ),
        sizes AS (
            SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n,
                   CAST(COUNT(*) AS BIGINT) AS nd
            FROM hist GROUP BY doc_id
        ),
        ent AS (
            SELECT h.doc_id,
                   CAST(SUM(h.c * CAST(FLOOR(ROUND(ln(s.n / h.c), 8)
                                             * 1000000.0 + 0.5)
                                       AS BIGINT)) AS BIGINT) AS m
            FROM hist h JOIN sizes s USING (doc_id)
            GROUP BY h.doc_id
        )
        SELECT d.doc_id,
               COALESCE(s.n, 0) AS n_chars,
               COALESCE(s.nd, 0) AS n_distinct_chars,
               e.m // s.n AS entropy_nat_micros
        FROM documents d
        LEFT JOIN sizes s USING (doc_id)
        LEFT JOIN ent e USING (doc_id)
    """,
    "text_collocations": f"""
        WITH toks AS (
            SELECT unnest(string_split(text, ' ')) AS tok FROM documents
        ),
        uni AS (
            SELECT tok, CAST(COUNT(*) AS BIGINT) AS cf
            FROM toks GROUP BY tok
        ),
        ntok AS (SELECT CAST(SUM(cf) AS BIGINT) AS n_tok FROM uni),
        ws AS (SELECT string_split(text, ' ') AS w FROM documents),
        pairs AS (
            SELECT unnest(list_transform(generate_series(1, len(w) - 1),
                          i -> w[i] || ' ' || w[i + 1])) AS bgs
            FROM ws WHERE len(w) >= 2
        ),
        counts AS (
            SELECT split_part(bgs, ' ', 1) AS a,
                   split_part(bgs, ' ', 2) AS b,
                   CAST(COUNT(*) AS BIGINT) AS c_ab
            FROM pairs GROUP BY bgs
        ),
        btot AS (SELECT CAST(SUM(c_ab) AS BIGINT) AS b_tot FROM counts),
        cand AS (SELECT * FROM counts WHERE c_ab >= {COLLOC_MIN})
        SELECT cand.a || ' ' || cand.b AS bg, c_ab,
               ua.cf AS c_a, ub.cf AS c_b,
               CAST(FLOOR(ROUND(ln(
                   (CAST(c_ab AS DOUBLE) * n_tok * n_tok)
                   / (CAST(b_tot AS DOUBLE) * ua.cf * ub.cf)
               ), 8) * 1000000.0 + 0.5) AS BIGINT) AS pmi_micros
        FROM cand
        JOIN uni ua ON ua.tok = cand.a
        JOIN uni ub ON ub.tok = cand.b
        CROSS JOIN ntok CROSS JOIN btot
        ORDER BY pmi_micros DESC, bg
        LIMIT {COLLOC_K}
    """,
    "text_js_divergence": """
        WITH st AS (
            SELECT source, unnest(string_split(text, ' ')) AS tok
            FROM documents
        ),
        cst AS (
            SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS c_st
            FROM st GROUP BY source, tok
        ),
        vocab AS (
            SELECT tok, CAST(SUM(c_st) AS BIGINT) AS c_t
            FROM cst GROUP BY tok
        ),
        ntot AS (SELECT CAST(SUM(c_t) AS BIGINT) AS n_tot FROM vocab),
        pairs AS (
            SELECT c.source, c.c_st, v.c_t, n_tot,
                   SUM(c.c_st) OVER (PARTITION BY c.source) AS n_s
            FROM cst c JOIN vocab v USING (tok) CROSS JOIN ntot
        )
        SELECT source,
               CAST(MAX(n_s) AS BIGINT) AS n_src_tokens,
               CAST(COUNT(*) AS BIGINT) AS n_shared_types,
               CAST(SUM(CAST(FLOOR(ROUND(
                   0.5 * ((CAST(c_st AS DOUBLE) / n_s)
                          * ln((CAST(c_st AS DOUBLE) / n_s)
                               / (((CAST(c_st AS DOUBLE) / n_s)
                                   + (CAST(c_t AS DOUBLE) / n_tot)) / 2))
                        + (CAST(c_t AS DOUBLE) / n_tot)
                          * ln((CAST(c_t AS DOUBLE) / n_tot)
                               / (((CAST(c_st AS DOUBLE) / n_s)
                                   + (CAST(c_t AS DOUBLE) / n_tot)) / 2)))
               , 8) * 1000000.0 + 0.5) AS BIGINT))
               + CAST(FLOOR(ROUND(
                   0.5 * ln(2.0)
                   * (1 - CAST(SUM(c_t) AS DOUBLE) / MAX(n_tot))
               , 8) * 1000000.0 + 0.5) AS BIGINT) AS BIGINT) AS js_micros
        FROM pairs
        GROUP BY source
    """,
    "text_bigram_lm": f"""
        WITH ws AS (
            SELECT doc_id, string_split(text, ' ') AS w FROM documents
        ),
        grams AS (
            SELECT doc_id,
                   unnest(list_transform(generate_series(1, len(w) - 1),
                          i -> w[i] || ' ' || w[i + 1])) AS bg
            FROM ws
        ),
        tf AS (
            SELECT doc_id, bg, COUNT(*) AS c FROM grams GROUP BY 1, 2
        ),
        vocab AS (
            SELECT bg, CAST(SUM(c) AS BIGINT) AS bf FROM tf GROUP BY bg
        ),
        tot AS (SELECT CAST(SUM(bf) AS BIGINT) AS total FROM vocab)
        SELECT doc_id,
               CAST(SUM(c) AS BIGINT) AS n_bigrams,
               CAST(COUNT(*) AS BIGINT) AS distinct_bigrams,
               CAST(SUM(CASE WHEN bf * {BIGRAM_RARE_DIV} < total
                             THEN c ELSE 0 END) AS BIGINT) AS rare_count,
               CAST(SUM(CASE WHEN bf * {BIGRAM_RARE_DIV} < total
                             THEN c ELSE 0 END) AS BIGINT)
                   / CAST(SUM(c) AS BIGINT) AS novelty_ratio
        FROM tf JOIN vocab USING (bg) CROSS JOIN tot
        GROUP BY doc_id
    """,
    "text_normalize": """
        SELECT doc_id,
               trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))
                   AS norm_text,
               md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')))
                   AS content_hash,
               CAST(len(string_split(
                   trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')),
                   ' ')) AS BIGINT) AS norm_tokens
        FROM documents
    """,
    "text_repetition": """
        WITH ws AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        words AS (SELECT doc_id, unnest(w) AS t FROM ws),
        grams AS (
            SELECT doc_id,
                   unnest(list_transform(generate_series(1, len(w) - 2),
                          i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS t
            FROM ws
        ),
        wr AS (
            SELECT doc_id, ROUND(MAX(c) / SUM(c), 6) AS top_word_ratio
            FROM (SELECT doc_id, t, COUNT(*) AS c FROM words GROUP BY 1, 2)
            GROUP BY doc_id
        ),
        gr AS (
            SELECT doc_id, ROUND(MAX(c) / SUM(c), 6) AS top_trigram_ratio
            FROM (SELECT doc_id, t, COUNT(*) AS c FROM grams GROUP BY 1, 2)
            GROUP BY doc_id
        )
        SELECT doc_id, top_word_ratio, top_trigram_ratio
        FROM wr JOIN gr USING (doc_id)
    """,
    "text_tfidf": """
        WITH terms AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
        ),
        tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM terms GROUP BY 1, 2),
        df AS (
            SELECT term, COUNT(*) AS df FROM (SELECT DISTINCT doc_id, term FROM terms) GROUP BY 1
        ),
        n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs FROM documents),
        scored AS (
            SELECT tf.doc_id, tf.term,
                   ROUND(tf.tf * ROUND(ln(n.n_docs / df.df), 8), 6) AS tfidf
            FROM tf JOIN df USING (term) CROSS JOIN n
        )
        SELECT doc_id, term, tfidf, CAST(rnk AS INTEGER) AS rnk FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                                         ORDER BY tfidf DESC, term) AS rnk
            FROM scored
        ) WHERE rnk <= 3
    """,
    "text_token_stats": """
        SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS INTEGER) AS n_ws_tokens,
               CAST(len(regexp_extract_all(text, '[a-z0-9]+')) AS INTEGER) AS n_re_tokens,
               CAST(length(text) AS INTEGER) AS n_chars_measured
        FROM documents
    """,
    "text_quality": f"""
        SELECT doc_id,
               ROUND(list_sum(list_transform(string_split(text, ' '),
                                             w -> CAST(length(w) AS BIGINT)))
                     / len(string_split(text, ' ')), 6) AS avg_word_len,
               ROUND({_sql_count_in(EN_STOP)}
                     / len(string_split(text, ' ')), 6) AS stop_ratio,
               ROUND((length(text) - length(regexp_replace(text, '[^a-z0-9 ]', '', 'g')))
                     / length(text), 6) AS punct_ratio,
               {sql_quality_score()} AS quality_score
        FROM documents
    """,
    "text_langid": f"""
        SELECT doc_id,
               {_sql_score(EN_STOP, EN_MARKERS)} AS en_score,
               {_sql_score(DE_STOP, DE_MARKERS)} AS de_score,
               {_sql_score(FR_STOP, FR_MARKERS)} AS fr_score,
               CASE WHEN {_sql_score(EN_STOP, EN_MARKERS)} >= {_sql_score(DE_STOP, DE_MARKERS)}
                     AND {_sql_score(EN_STOP, EN_MARKERS)} >= {_sql_score(FR_STOP, FR_MARKERS)} THEN 'en'
                    WHEN {_sql_score(DE_STOP, DE_MARKERS)} >= {_sql_score(FR_STOP, FR_MARKERS)} THEN 'de'
                    ELSE 'fr' END AS lang_pred
        FROM documents
    """,
    # NULL text -> NULL fingerprint (the engine's fold over a NULL
    # array is NULL; without the guard, list_prepend(0, NULL) = [0]
    # would reduce to 0 — a VALID fingerprint, colliding with real
    # content).
    "text_fingerprint": f"""
        SELECT doc_id,
               CASE WHEN text IS NULL THEN NULL ELSE
               list_reduce(
                   list_prepend(CAST(0 AS BIGINT),
                       list_transform(string_split(text, ''),
                                      c -> CAST(ascii(c) AS BIGINT))),
                   (a, b) -> (a * {FP_BASE} + b) % {FP_MOD}
               ) END AS fingerprint
        FROM documents
    """,
    "text_top_terms": """
        SELECT term, COUNT(*) AS doc_freq FROM (
            SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS term
            FROM documents
        ) t
        GROUP BY term
        ORDER BY doc_freq DESC, term
        LIMIT 10
    """,
}
