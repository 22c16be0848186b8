"""Text tier (operators/text.py): per-document and corpus text metrics.

- Language ID: the char-n-gram profile must carry classification where
  stopword voting degenerates (no function words at all — the
  adversarial case), and plain stopword text must still win on the
  stopword signal.
- Repetition scoring: boilerplate must score high, varied text low.
- Unigram-LM scoring: exactness invariants, rare/hot populations, and
  the provable bound on the broadcast (hot-vocabulary) side.
- Duplicated n-grams and the Gopher rules are pinned on hand corpora
  the oracle differential cannot express.
"""

from pyspark.sql import functions as F

from covid_engineering_spark.operators.text import (
    DE_MARKERS,
    DE_STOP,
    EN_MARKERS,
    EN_STOP,
    FR_MARKERS,
    FR_STOP,
    LANGID_STOP_WEIGHT,
    UNIGRAM_HOT_DIV,
    _count_in,
    _lang_score,
    dup_ngram_rate,
    q_text_repetition,
    unigram_lm,
)
from covid_engineering_spark.sources import read_table

from tests.conftest import SF_SMOKE, _docs


def _classify(spark, texts):
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    ws = F.split(F.col("text"), " ")
    t = F.col("text")
    en = _lang_score(ws, t, EN_STOP, EN_MARKERS)
    de = _lang_score(ws, t, DE_STOP, DE_MARKERS)
    fr = _lang_score(ws, t, FR_STOP, FR_MARKERS)
    lang = (
        F.when((en >= de) & (en >= fr), "en").when(de >= fr, "de").otherwise("fr")
    )
    return [r.lang for r in docs.select(lang.alias("lang")).collect()]


def test_stopword_free_text_still_classified_by_char_profile(spark):
    # Zero stopwords from ANY list: pure stopword voting scores 0-0-0
    # and falls back to the tie order ('en'); the character profile
    # must recover the right language.
    german = "schneller schmetterling zwischen reichlich beichte"
    french = "chapeaux gateaux chevaux nouveaux bijoux"
    assert _classify(spark, [german, french]) == ["de", "fr"]


def test_stopword_text_keeps_winning_on_stop_signal(spark):
    assert _classify(
        spark,
        [
            "the cat is of the mat and a dog",
            "der hund und die katze ist das beste",
            "le chat et la souris est un ami les amis",
        ],
    ) == ["en", "de", "fr"]


def test_stop_weight_dominates_single_marker_hits(spark):
    # One genuine stopword must outvote a stray marker occurrence.
    docs = spark.createDataFrame([(0, "und xx")], "doc_id long, text string")
    ws = F.split(F.col("text"), " ")
    de = _lang_score(ws, F.col("text"), DE_STOP, DE_MARKERS)
    en = _lang_score(ws, F.col("text"), EN_STOP, EN_MARKERS)
    row = docs.select(de.alias("de"), en.alias("en")).head()
    assert row.de >= LANGID_STOP_WEIGHT
    assert row.de > row.en


def test_marker_counting_is_occurrence_exact(spark):
    docs = spark.createDataFrame(
        [(0, "singing ringing")], "doc_id long, text string"
    )
    from covid_engineering_spark.operators.text import _occurrences

    n = docs.select(_occurrences(F.col("text"), "ing").alias("n")).head().n
    assert n == 4.0  # two 'ing' in each word


def test_count_in_counts_whole_tokens_only(spark):
    docs = spark.createDataFrame([(0, "them the then")], "doc_id long, text string")
    ws = F.split(F.col("text"), " ")
    n = docs.select(_count_in(ws, ("the",)).alias("n")).head().n
    assert n == 1


def test_repetition_flags_boilerplate(spark, tmp_path, monkeypatch):
    import covid_engineering_spark.operators.text as text_mod

    docs = spark.createDataFrame(
        [
            (1, "spam spam spam spam spam spam", "en", "s", 30),
            (2, "one two three four five six", "en", "s", 27),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    monkeypatch.setattr(
        text_mod, "read_table", lambda spark, sf, name: docs
    )
    out = {r["doc_id"]: r for r in q_text_repetition(spark, "ignored").collect()}
    assert out[1]["top_word_ratio"] == 1.0
    assert out[1]["top_trigram_ratio"] == 1.0
    assert out[2]["top_word_ratio"] < 0.2
    assert out[2]["top_trigram_ratio"] == 0.25


def test_repetition_drops_docs_shorter_than_a_trigram(spark, monkeypatch):
    # Docs with <3 words have no trigrams. An unguarded
    # sequence(0, size-3) counts downward and slice(ws, 0, 3) throws,
    # killing the whole query; the guarded form must instead drop the
    # short doc (no trigram rows -> inner join removes it), matching
    # the oracle.
    import covid_engineering_spark.operators.text as text_mod

    docs = spark.createDataFrame(
        [
            (1, "lone", "en", "s", 4),
            (2, "two words", "en", "s", 9),
            (3, "three whole words here", "en", "s", 22),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    monkeypatch.setattr(text_mod, "read_table", lambda spark, sf, name: docs)
    out = {r["doc_id"]: r for r in q_text_repetition(spark, "ignored").collect()}
    assert set(out) == {3}
    assert out[3]["top_trigram_ratio"] == 0.5


def test_unigram_totals_and_rare_population(spark):
    docs = read_table(spark, SF_SMOKE, "documents")
    rows = unigram_lm(docs).collect()
    assert len(rows) == docs.count()
    # Token totals reconcile exactly with a direct count.
    direct = dict(
        docs.select(
            "doc_id", F.size(F.split("text", " ")).alias("n")
        ).collect()
    )
    for r in rows:
        assert r["n_tokens"] == direct[r["doc_id"]]
        assert 0 <= r["rare_count"] <= r["n_tokens"]
        assert r["rare_ratio"] == r["rare_count"] / r["n_tokens"]
    # Both rare and non-rare tokens exist on the synthetic corpus —
    # otherwise the oracle match is vacuous.
    assert any(r["rare_count"] > 0 for r in rows)
    assert any(r["rare_count"] < r["n_tokens"] for r in rows)


def test_hot_vocab_is_provably_bounded(spark):
    # At most HOT_DIV tokens can each hold >= 1/HOT_DIV of corpus
    # mass — the broadcast build side is bounded by construction at
    # ANY corpus size. Verify the bound is tight on the real corpus.
    docs = read_table(spark, SF_SMOKE, "documents")
    tf = (
        docs.select(F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("cf"))
    )
    total = tf.agg(F.sum("cf")).collect()[0][0]
    hot = tf.filter(F.col("cf") * UNIGRAM_HOT_DIV >= total).count()
    assert hot <= UNIGRAM_HOT_DIV


def test_unigram_partition_invariant(spark):
    docs = read_table(spark, SF_SMOKE, "documents")
    a = {r["doc_id"]: tuple(r) for r in unigram_lm(docs).collect()}
    b = {
        r["doc_id"]: tuple(r)
        for r in unigram_lm(docs.repartition(13)).collect()
    }
    assert a == b


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


def test_gopher_rules_are_exact_and_non_degenerate(spark):
    from covid_engineering_spark.operators.text import (
        GOPHER_MIN_WORDS,
        q_text_gopher_rules,
    )

    rows = q_text_gopher_rules(spark, SF_SMOKE).collect()
    passed = [r for r in rows if r["pass_gopher"]]
    failed = [r for r in rows if not r["pass_gopher"]]
    assert passed and failed  # the gate must actually split the corpus
    for r in rows:
        # the combined gate is exactly the AND of the per-rule columns
        want = all(
            r[c]
            for c in (
                "r_word_count",
                "r_mean_word_len",
                "r_symbol_ratio",
                "r_bullet_lines",
                "r_ellipsis_lines",
                "r_alpha_words",
                "r_required_words",
            )
        )
        assert r["pass_gopher"] == want, r
        # word-count rule consistent with the emitted count
        assert r["r_word_count"] == (r["n_words"] >= GOPHER_MIN_WORDS)
