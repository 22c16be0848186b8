"""Multimodal-column tier (BASELINE.json north star): treat image/
audio/video payloads as opaque ``binary`` columns with typed metadata,
and run decode / feature-extraction / resize / frame-sampling as
Arrow-batched ``mapInPandas`` stages.

The decode libraries (PIL/ffmpeg/librosa) are not available in this
environment, so the *codec* step is a deterministic fake passed in
through ``extract_features``' ``decoder=`` parameter — but everything
Spark-level is real and tested: the binary+metadata schema, the
mapInPandas batch iteration (constant memory per batch), the UDF
signatures, and the partition-preserving plan shape.

At 100 TB the rules this module encodes: keep payloads in their own
column so column pruning skips them unless needed; never collect
binaries to the driver; size batches via spark.sql.execution.arrow.
maxRecordsPerBatch; do per-record work inside the iterator so one bad
record fails one task, not the stage.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from covid_engineering_spark.sources import read_table

FEATURE_SCHEMA = (
    "doc_id long, media_type string, n_bytes long, checksum long, "
    "width int, height int, feat0 double, feat1 double, error string"
)


#: Minimum payload a 'well-formed' fake media file needs — stands in
#: for a codec's magic-number/header check.
STRICT_MIN_BYTES = 8


def strict_fake_decode(payload: bytes, media_type: str) -> dict:
    """``fake_decode`` plus the header validation a real codec does:
    rejects truncated payloads, exercising the per-record error path
    in ``extract_features`` without any codec dependency.
    """
    if len(payload) < STRICT_MIN_BYTES:
        raise ValueError(
            f"truncated {media_type} payload: {len(payload)} bytes "
            f"< {STRICT_MIN_BYTES}-byte header"
        )
    return fake_decode(payload, media_type)


def fake_decode(payload: bytes, media_type: str) -> dict:
    """Deterministic stand-in for a decoder: derives pseudo
    dimensions/features purely from the bytes, so tests can assert
    end-to-end values without any codec dependency.
    """
    n = len(payload)
    checksum = 0
    for b in payload:
        checksum = (checksum * 131 + b) % 1000000007
    return {
        "n_bytes": n,
        "checksum": checksum,
        "width": 16 + checksum % 64,
        "height": 16 + (checksum // 64) % 64,
        "feat0": (checksum % 1000) / 1000.0,
        "feat1": (n % 997) / 997.0,
    }


def with_media_columns(docs: DataFrame) -> DataFrame:
    """Attach an opaque binary payload + typed metadata to a frame —
    the multimodal data model: payload isolated in one column (pruned
    away unless a stage needs it), metadata queryable relationally.
    """
    return docs.select(
        "doc_id",
        F.encode(F.col("text"), "UTF-8").alias("payload"),
        F.when(F.col("doc_id") % 3 == 0, "image/png")
        .when(F.col("doc_id") % 3 == 1, "audio/wav")
        .otherwise("video/mp4")
        .alias("media_type"),
        F.struct(
            F.col("source").alias("origin"),
            F.col("n_chars").alias("declared_size"),
        ).alias("meta"),
    )


#: Null feature dict emitted for a payload the decoder rejects — the
#: row survives with its ids plus an ``error`` string instead of
#: failing the task (one corrupt file out of a billion must cost one
#: row, not a stage retry).
_DECODE_FAILED = {
    "n_bytes": None, "checksum": None, "width": None,
    "height": None, "feat0": None, "feat1": None,
}


def extract_features(media: DataFrame, decoder=fake_decode) -> DataFrame:
    """mapInPandas feature extraction: iterate Arrow batches, decode
    each payload, emit a fixed-schema feature row. Batch-at-a-time
    keeps peak memory at one Arrow batch regardless of table size.

    ``decoder(payload, media_type)`` returns the ``fake_decode``-shaped
    dict and raises on undecodable bytes; a deployment with codec
    libraries passes its own.

    Per-record error isolation: a decoder exception becomes a null
    feature row with the exception text in ``error`` (null on
    success); successful records in the same batch are unaffected.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = []
            for payload, mt in zip(pdf["payload"], pdf["media_type"]):
                try:
                    feats.append({**decoder(payload, mt), "error": None})
                except Exception as ex:  # noqa: BLE001 - route to column
                    feats.append(
                        {**_DECODE_FAILED,
                         "error": f"{type(ex).__name__}: {ex}"}
                    )
            out = pd.DataFrame(feats)
            out.insert(0, "media_type", list(pdf["media_type"]))
            out.insert(0, "doc_id", list(pdf["doc_id"]))
            yield out

    return media.mapInPandas(run, FEATURE_SCHEMA)


RESIZE_SCHEMA = "doc_id long, payload binary, width int, height int"
FRAME_SCHEMA = "doc_id long, frame_idx int, frame_payload binary"
#: Frame sampling: the byte stride (and window) of each fake frame, and
#: the most frames one video yields.
FRAME_BYTES = 64
MAX_FRAMES = 4


#: The resize target the registered query AND its SQL twin agree on:
#: 32x32 -> a (32*32)//8 = 128-byte output budget in the fake codec.
RESIZE_TARGET = (32, 32)


def resize_images(media: DataFrame) -> DataFrame:
    """Resize stage: payload -> re-encoded payload at ``RESIZE_TARGET``.
    A real codec would decode and re-encode; this stage emits a
    deterministic byte slice so the Spark plumbing (binary in, binary
    out, constant-memory batches) is fully tested.

    NULL payloads are excluded scan-side: a missing image has no
    resized output row (the same no-rows semantics the explode-based
    text ops use for NULL text).
    """
    width, height = RESIZE_TARGET

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                # fake 'resample': proportional byte subsample, bounded
                # by the target pixel budget — stands in for a real
                # encoder's output buffer.
                n_out = max(1, min(len(payload), (width * height) // 8))
                rows.append((doc_id, bytes(payload[:n_out]), width, height))
            yield pd.DataFrame(
                rows, columns=["doc_id", "payload", "width", "height"]
            )

    return media.filter(
        (F.col("media_type") == "image/png")
        & F.col("payload").isNotNull()
    ).mapInPandas(run, RESIZE_SCHEMA)


def sample_frames(media: DataFrame) -> DataFrame:
    """Frame-sampling stage: one input video row fans out to N frame
    rows (mapInPandas as a flat-map). The fake 'frame' is a
    ``FRAME_BYTES`` window at that stride, at most ``MAX_FRAMES`` per
    video; a real decoder would seek keyframes.

    NULL payloads are excluded scan-side: a missing video has no
    frames to sample.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                n = len(payload)
                for i in range(min(MAX_FRAMES, max(1, n // FRAME_BYTES))):
                    start = i * FRAME_BYTES
                    rows.append(
                        (doc_id, i, bytes(payload[start : start + FRAME_BYTES]))
                    )
            yield pd.DataFrame(
                rows, columns=["doc_id", "frame_idx", "frame_payload"]
            )

    return media.filter(
        (F.col("media_type") == "video/mp4")
        & F.col("payload").isNotNull()
    ).mapInPandas(run, FRAME_SCHEMA)


def q_mm_feature_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal pipeline: attach payloads -> mapInPandas decode ->
    relational post-aggregation per media type. The decode runs in
    Python (the pandas-UDF plumbing under test), but the fake codec is
    arithmetic over the payload bytes, so the WHOLE pipeline has an
    exact SQL twin — the driver hash-checks the Python decode path
    end-to-end instead of settling for a rows-only count.

    ``avg_feat0`` is aggregated from the integer ``checksum`` column
    (one IEEE division at the end), not by averaging the per-row
    float ``feat0``: float summation is partition-order dependent,
    integer summation is not.
    """
    docs = read_table(spark, sf_dir, "documents")
    feats = extract_features(with_media_columns(docs))
    return feats.groupBy("media_type").agg(
        F.count("*").alias("n_items"),
        F.sum("n_bytes").alias("total_bytes"),
        F.round(
            F.sum(F.col("checksum") % 1000) / (F.count("*") * F.lit(1000.0)),
            6,
        ).alias("avg_feat0"),
        F.min("width").alias("min_width"),
        F.max("height").alias("max_height"),
        # Surface the per-record decode-failure channel in the driver-
        # checked output: the oracle pins this at 0, so a fake-codec
        # path that starts throwing (or an error-routing regression
        # that drops rows) flips the hash, not just a unit test.
        F.count("error").alias("n_errors"),
    )


def _summarize_payloads(
    frame: DataFrame,
    payload_col: str,
    id_cols: list[str],
    out_cols: tuple[str, str],
    out_schema: str,
) -> DataFrame:
    """Shared mapInPandas postprocess for the driver-checkable media
    queries: carry ``id_cols`` through and summarize ``payload_col``
    by (byte length, 131-base rolling checksum) via ``fake_decode`` —
    ONE implementation, so the checksum contract cannot drift between
    the frame-sampling and resize twins.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for tup in zip(*(pdf[c] for c in [*id_cols, payload_col])):
                *ids, payload = tup
                meta = fake_decode(payload, "application/octet-stream")
                rows.append(
                    (*(int(i) for i in ids), meta["n_bytes"], meta["checksum"])
                )
            yield pd.DataFrame(rows, columns=[*id_cols, *out_cols])

    return frame.mapInPandas(run, out_schema)


def q_mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling pipeline, driver-checkable: the video rows fan
    out to per-frame rows through the ``sample_frames`` mapInPandas
    flat-map, then each frame is summarized by length + the same
    131-base rolling checksum the decode stage uses — so the SQL twin
    replays the byte-window arithmetic (``substr`` at the frame
    stride) and hash-checks the Python fan-out end-to-end, frames and
    all, without comparing raw binary.
    """
    docs = read_table(spark, sf_dir, "documents")
    frames = sample_frames(with_media_columns(docs))
    return _summarize_payloads(
        frames,
        "frame_payload",
        ["doc_id", "frame_idx"],
        ("n_frame_bytes", "frame_checksum"),
        "doc_id long, frame_idx int, n_frame_bytes long, frame_checksum long",
    )


def q_mm_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize pipeline, driver-checkable: image rows pass through the
    ``resize_images`` mapInPandas stage (re-encode at the
    ``RESIZE_TARGET`` pixel budget, which the SQL twin hard-codes as
    the matching 32/32/128 bound), then each
    output payload is summarized by length + rolling checksum so the
    twin replays the proportional byte subsample and the driver
    hash-checks the resize plumbing end-to-end.
    """
    docs = read_table(spark, sf_dir, "documents")
    resized = resize_images(with_media_columns(docs))
    return _summarize_payloads(
        resized,
        "payload",
        ["doc_id", "width", "height"],
        ("n_out_bytes", "out_checksum"),
        "doc_id long, width int, height int, n_out_bytes long, out_checksum long",
    )


QUERIES = {
    "mm_feature_extract": q_mm_feature_extract,
    "mm_frame_sample": q_mm_frame_sample,
    "mm_resize": q_mm_resize,
}

def _checksum_sql(expr: str) -> str:
    """The SQL twin of fake_decode's 131-base rolling checksum over
    ``expr`` — defined ONCE so the three media oracles cannot drift
    from each other (or from the Python fake codec's constants)."""
    return (
        "list_reduce("
        "list_prepend(CAST(0 AS BIGINT), "
        f"list_transform(string_split({expr}, ''), "
        "ch -> CAST(ascii(ch) AS BIGINT))), "
        "(a, b) -> (a * 131 + b) % 1000000007)"
    )


# The SQL twin replays fake_decode's byte arithmetic (131-base rolling
# checksum mod 1e9+7 over the UTF-8 payload — the corpus is ASCII, so
# chars == bytes; asserted in tests) and the same media-type
# assignment, making the mapInPandas decode stage hash-checkable.
ORACLES: dict[str, str] = {
    "mm_feature_extract": f"""
        WITH c AS (
            SELECT doc_id,
                   CASE WHEN doc_id % 3 = 0 THEN 'image/png'
                        WHEN doc_id % 3 = 1 THEN 'audio/wav'
                        ELSE 'video/mp4' END AS media_type,
                   length(text) AS n_bytes,
                   {_checksum_sql('text')} AS checksum
            FROM documents
        )
        SELECT media_type,
               COUNT(*) AS n_items,
               CAST(SUM(n_bytes) AS BIGINT) AS total_bytes,
               ROUND(SUM(checksum % 1000) / (COUNT(*) * 1000.0), 6)
                   AS avg_feat0,
               CAST(MIN(16 + checksum % 64) AS INT) AS min_width,
               CAST(MAX(16 + (checksum // 64) % 64) AS INT) AS max_height,
               -- a NULL payload is the one decode the fake codec
               -- rejects: the engine routes it to the error column
               -- (per-record isolation), so the twin counts NULL
               -- texts as errors (n_bytes is NULL iff text is).
               CAST(COUNT(*) - COUNT(n_bytes) AS BIGINT) AS n_errors
        FROM c GROUP BY media_type
    """,
    "mm_frame_sample": f"""
        WITH v AS (
            SELECT doc_id, text, length(text) AS n
            FROM documents WHERE doc_id % 3 = 2 AND text IS NOT NULL
        ),
        idx AS (
            SELECT doc_id, text,
                   unnest(generate_series(0,
                       CAST(least(4, greatest(1, n // 64)) - 1 AS BIGINT)
                   )) AS i
            FROM v
        ),
        f AS (
            SELECT doc_id, i AS frame_idx,
                   substr(text, CAST(i * 64 + 1 AS INT), 64) AS frame
            FROM idx
        )
        SELECT doc_id, CAST(frame_idx AS INT) AS frame_idx,
               length(frame) AS n_frame_bytes,
               {_checksum_sql('frame')} AS frame_checksum
        FROM f
    """,
    "mm_resize": f"""
        WITH v AS (
            SELECT doc_id, text, length(text) AS n
            FROM documents WHERE doc_id % 3 = 0 AND text IS NOT NULL
        ),
        r AS (
            SELECT doc_id,
                   substr(text, 1,
                          CAST(greatest(1, least(n, 128)) AS INT)) AS out
            FROM v
        )
        SELECT doc_id, 32 AS width, 32 AS height,
               length(out) AS n_out_bytes,
               {_checksum_sql('out')} AS out_checksum
        FROM r
    """,
}
