"""Multimodal-plumbing tests: the codec is a deterministic fake (the
real libraries are not in this environment), but everything
Spark-level is asserted for real: schemas, the mapInPandas batch
contract, flat-map fanout, and that the binary payload column is
pruned from scans that don't touch it.
"""

import pytest

from pyspark.sql import functions as F

from covid_engineering_spark.operators.multimodal import (
    extract_features,
    fake_decode,
    resize_images,
    sample_frames,
    with_media_columns,
)
from covid_engineering_spark.sources import read_table

from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def media(spark):
    return with_media_columns(read_table(spark, SF_SMOKE, "documents")).cache()


def test_feature_extract_matches_fake_decoder(spark, media):
    rows = extract_features(media).filter(F.col("doc_id") < 5).collect()
    raw = {r.doc_id: (bytes(r.payload), r.media_type) for r in media.filter(F.col("doc_id") < 5).collect()}
    assert len(rows) == len(raw)
    for r in rows:
        payload, mt = raw[r.doc_id]
        want = fake_decode(payload, mt)
        assert (r.n_bytes, r.checksum, r.width, r.height) == (
            want["n_bytes"],
            want["checksum"],
            want["width"],
            want["height"],
        )
        assert r.media_type == mt


def test_resize_respects_target_budget(spark, media):
    out = resize_images(media, width=32, height=32).collect()
    assert out  # images exist in the modality mix
    for r in out:
        assert (r.width, r.height) == (32, 32)
        assert 1 <= len(r.frame_payload if hasattr(r, "frame_payload") else r.payload) <= 32 * 32 // 8


def test_frame_sampling_fans_out(spark, media):
    vids = media.filter(F.col("media_type") == "video/mp4")
    frames = sample_frames(vids)
    per_doc = (
        frames.groupBy("doc_id").agg(F.count("*").alias("n"), F.max("frame_idx").alias("mx"))
    ).collect()
    assert per_doc
    for r in per_doc:
        assert 1 <= r.n <= 4
        assert r.mx == r.n - 1  # frame indices are dense from 0


def test_payload_pruned_when_untouched(spark):
    # The scale rule the data model exists for: metadata-only queries
    # must not decode the (huge) binary column. 'text' feeds payload,
    # so a meta-only projection reads neither payload's source nor the
    # binary itself.
    from covid_engineering_spark.plans import read_schemas

    # the cached fixture would substitute an InMemoryRelation for this
    # identical plan subtree, hiding the FileScan under audit
    spark.catalog.clearCache()
    media = with_media_columns(read_table(spark, SF_SMOKE, "documents"))
    meta_only = media.select("doc_id", "media_type", "meta.origin")
    schemas = read_schemas(meta_only)
    assert len(schemas) == 1
    assert "text" not in schemas[0]


def test_corpus_is_ascii_the_oracle_byte_equivalence_precondition(spark):
    # The mm_feature_extract oracle folds the checksum over CHARACTERS
    # (ascii codes); fake_decode folds over UTF-8 BYTES. These agree
    # exactly when the corpus is pure ASCII — assert it, so a future
    # non-ASCII corpus fails loudly here instead of hash-mismatching.
    from pyspark.sql import functions as F

    from covid_engineering_spark.sources import read_table
    from tests.conftest import SF_ORACLE

    docs = read_table(spark, SF_ORACLE, "documents")
    non_ascii = docs.filter(
        F.length(F.col("text")) != F.length(F.encode("text", "UTF-8"))
    ).count()
    assert non_ascii == 0


def test_corrupt_payload_yields_error_row_not_task_failure(spark):
    # A truncated payload through a validating codec must cost one
    # row (ids + error string, null features), never a task failure;
    # well-formed records in the SAME Arrow batch stay unaffected.
    from covid_engineering_spark.operators.multimodal import (
        strict_fake_decode,
    )

    rows = [
        (1, b"well-formed payload bytes", "image/png"),
        (2, b"xx", "audio/wav"),  # truncated: below the header check
        (3, b"another good payload!!", "video/mp4"),
    ]
    media = spark.createDataFrame(
        rows, "doc_id long, payload binary, media_type string"
    ).repartition(1)  # one batch: corrupt + good share a task
    got = {
        r.doc_id: r
        for r in extract_features(media, decoder=strict_fake_decode).collect()
    }
    assert len(got) == 3
    bad = got[2]
    assert bad.error is not None and "truncated" in bad.error
    assert bad.n_bytes is None and bad.checksum is None
    assert bad.feat0 is None and bad.width is None
    payloads = {d: p for d, p, _ in rows}
    for ok_id in (1, 3):
        ok = got[ok_id]
        assert ok.error is None
        want = fake_decode(payloads[ok_id], ok.media_type)
        assert (ok.n_bytes, ok.checksum) == (want["n_bytes"], want["checksum"])


def test_strict_decoder_on_wellformed_corpus_has_zero_errors(spark, media):
    # The synthetic corpus has no sub-header-length payloads, so the
    # strict codec and the plain fake agree — and the registered
    # aggregate's n_errors channel reads 0.
    from covid_engineering_spark.operators.multimodal import (
        strict_fake_decode,
    )

    feats = extract_features(media, decoder=strict_fake_decode)
    assert feats.filter(F.col("error").isNotNull()).count() == 0
