"""Language-ID robustness: the char-n-gram profile must carry
classification where stopword voting degenerates (no function words at
all — the adversarial case), and plain stopword
text must still win on the stopword signal.
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
    _count_in,
    _lang_score,
)


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
