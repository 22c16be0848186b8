"""Library operators: semantic pins beyond the oracle differential.

- dsir_gumbel_topk_exact — the paper's Gumbel-top-k resampling rule
  (Xie et al. 2023 §2.3) in integer micro-units: the whole selection,
  score column included, must hash-match its generated DuckDB twin
  (dsir_gumbel_sql) on the driver fixture AND on the NULL-payload
  adversarial corpus. Registered as ``pipe_dsir_gumbel``; these
  differentials prove the pairing on both inputs.
"""

import pyspark.sql.functions as F
import pytest

from conftest import SF_SMOKE

from tests.oracle_check import compare, duck_con


def _gumbel_frame(spark, sf_dir, seed=7):
    from covid_engineering_spark.operators.pipeline import (
        dsir_gumbel_topk_exact,
    )
    from covid_engineering_spark.sources import read_table

    return dsir_gumbel_topk_exact(
        read_table(spark, sf_dir, "documents"),
        F.col("lang").eqNullSafe(F.lit("en")),
        seed=seed,
    )


@pytest.fixture(scope="module")
def patho_dir(tmp_path_factory):
    # the same NULL-bearing adversarial corpus the oracle sweep uses
    from tests.test_adversarial_oracle import (
        _arrow_type,
        _pathological_rows,
    )

    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from covid_engineering_spark import schemas

    root = str(tmp_path_factory.mktemp("gumbel_star"))
    rows = _pathological_rows()
    for name, schema in schemas.STAR.items():
        arrays, fields = [], []
        for i, f in enumerate(schema.fields):
            at = _arrow_type(f.dataType)
            fields.append(pa.field(f.name, at))
            arrays.append(pa.array([r[i] for r in rows[name]], type=at))
        pq.write_table(
            pa.Table.from_arrays(arrays, schema=pa.schema(fields)),
            os.path.join(root, f"{name}.parquet"),
        )
    return root


def test_gumbel_exact_matches_duckdb_twin(spark):
    from covid_engineering_spark.operators.pipeline import dsir_gumbel_sql

    con = duck_con(SF_SMOKE)
    try:
        res = compare(_gumbel_frame(spark, SF_SMOKE), con, dsir_gumbel_sql())
        assert res["match"], res
    finally:
        con.close()


def test_gumbel_exact_matches_twin_on_null_payloads(spark, patho_dir):
    from covid_engineering_spark.operators.pipeline import dsir_gumbel_sql

    con = duck_con(patho_dir)
    try:
        res = compare(_gumbel_frame(spark, patho_dir), con, dsir_gumbel_sql())
        assert res["match"], res
    finally:
        con.close()


def test_gumbel_exact_selection_contract(spark):
    from covid_engineering_spark.operators.pipeline import DSIR_K

    out = _gumbel_frame(spark, SF_SMOKE).collect()
    sel = [r for r in out if r["selected"]]
    assert len(sel) == min(DSIR_K, len(out))
    # the score is the exact BIGINT sum of its two parts
    for r in out:
        assert r["score_micros"] == r["dsir_micros"] + r["gumbel_micros"]
    # every selected score >= every unselected score (ties broken by
    # doc_id, so equality across the cut is allowed)
    floor = min(r["score_micros"] for r in sel)
    assert all(
        r["score_micros"] <= floor
        for r in out
        if not r["selected"] and r["score_micros"] != floor
    )


def test_gumbel_exact_seed_redraws(spark):
    a = {
        r["doc_id"]
        for r in _gumbel_frame(spark, SF_SMOKE, seed=7)
        .filter("selected")
        .collect()
    }
    b7 = {
        r["doc_id"]
        for r in _gumbel_frame(spark, SF_SMOKE, seed=7)
        .filter("selected")
        .collect()
    }
    b11 = {
        r["doc_id"]
        for r in _gumbel_frame(spark, SF_SMOKE, seed=11)
        .filter("selected")
        .collect()
    }
    assert a == b7  # reproducible given (corpus, seed)
    assert a != b11  # a new seed redraws the sample


def test_gumbel_noise_bounds_and_saturation(spark):
    """The integer Gumbel draw's documented envelope, pinned: the
    1e-8 clamp saturates the u→1 tail at −ln(1e-8) ≈ 18.420681
    (18_420_681 micros, the exact 8dp-round-then-floor value), so no
    draw may exceed it; and the u→0 side is bounded below by
    −ln(−ln(u_min)) at the 60-bit grid's smallest u, far inside
    −5 ≥ gumbel_micros/1e6 territory. Both engines share these bounds
    by construction — this test keeps the ENGINE side honest if the
    clamp constant or the rounding convention ever drifts."""
    import math

    cap = math.floor(-round(math.log(1e-8), 8) * 1e6 + 0.5)
    assert cap == 18_420_681
    lo = math.floor(
        -round(
            math.log(-round(math.log(1.0 / float(2**60)), 8)), 8
        )
        * 1e6
        + 0.5
    )
    rows = _gumbel_frame(spark, SF_SMOKE).select("gumbel_micros").collect()
    vals = [r["gumbel_micros"] for r in rows]
    assert max(vals) <= cap
    assert min(vals) >= lo


# --- dedup_substring: ExactSubstr duplicated-span analysis ----------


def test_substring_dedup_matches_duckdb_twin(spark):
    from covid_engineering_spark.queries import oracles, registry

    con = duck_con(SF_SMOKE)
    try:
        res = compare(
            registry()["dedup_substring"](spark, SF_SMOKE),
            con,
            oracles()["dedup_substring"],
        )
        assert res["match"], res
    finally:
        con.close()


def test_substring_dedup_matches_twin_on_null_payloads(spark, patho_dir):
    from covid_engineering_spark.queries import oracles, registry

    con = duck_con(patho_dir)
    try:
        res = compare(
            registry()["dedup_substring"](spark, patho_dir),
            con,
            oracles()["dedup_substring"],
        )
        assert res["match"], res
    finally:
        con.close()


def test_substring_spans_hand_corpus(spark):
    """Span semantics pinned on a corpus built by hand: a 10-token run
    shared by two docs yields ONE merged span of exactly 10 tokens in
    each (7 overlapping duplicated 8-grams collapse); an in-document
    repeat of one 8-gram is flagged through two islands; a unique doc
    and a too-short doc stay clean with zero counters."""
    from covid_engineering_spark.operators.dedup import (
        substring_dup_spans,
    )

    shared = " ".join(f"s{i}" for i in range(10))  # 10-token shared run
    rep = " ".join(f"r{i}" for i in range(8))  # 8-gram repeated in-doc
    rows = [
        (1, f"{shared} a1 a2 a3 a4 a5"),
        (2, f"b1 b2 b3 {shared}"),
        (3, f"{rep} c1 c2 c3 {rep}"),
        (4, "u1 u2 u3 u4 u5 u6 u7 u8 u9 u10"),  # unique, no dup
        (5, "t1 t2 t3"),  # shorter than k: no grams at all
    ]
    out = {
        r["doc_id"]: r
        for r in substring_dup_spans(
            spark.createDataFrame(rows, "doc_id long, text string")
        ).collect()
    }
    for d in (1, 2):  # the shared run: one span, 10 tokens, 3 grams
        assert out[d]["n_dup_spans"] == 1, out[d]
        assert out[d]["dup_tokens"] == 10, out[d]
        assert out[d]["n_dup_grams"] == 3, out[d]
        assert out[d]["has_dup"]
    assert out[3]["n_dup_spans"] == 2  # the repeat: two 8-token islands
    assert out[3]["dup_tokens"] == 16
    for d in (4, 5):
        assert not out[d]["has_dup"]
        assert out[d]["dup_tokens"] == 0
        assert out[d]["n_dup_spans"] == 0
