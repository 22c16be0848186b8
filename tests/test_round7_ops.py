"""Local pins for these operators (beyond the sf0.001 DuckDB
differential every oracle gets in tests/test_oracle.py):

- a25_quantile_cuts — the one-pass approx cut-point audit must stay
  inside its exact rank band and expose the documented 12-row shape.
- emb_rp_recall — the JL projection must be deterministic, map-side
  (no shuffle in the projection plan), and its recall must be sane.
- pipe_k_anonymity — the gate must be non-degenerate on the fixture
  corpus (both released and suppressed rows), and suppression must be
  exactly the groups below K_ANON.
"""

from pyspark.sql import functions as F

from conftest import SF_SMOKE


def test_a25_cut_audit_shape_and_flags(spark):
    from covid_engineering_spark.operators.relational import (
        q_a25_quantile_cuts,
    )

    rows = q_a25_quantile_cuts(spark, SF_SMOKE).collect()
    assert len(rows) == 12  # 3 metrics x 4 quantiles
    assert all(r["within_rank_band"] for r in rows)
    by_metric = {}
    for r in rows:
        by_metric.setdefault(r["metric"], []).append(
            (r["quantile"], r["cut"])
        )
    assert set(by_metric) == {"recency", "frequency", "monetary"}
    for m, cuts in by_metric.items():
        qs = [q for q, _ in sorted(cuts)]
        vals = [c for _, c in sorted(cuts)]
        assert qs == [0.2, 0.4, 0.6, 0.8]
        # quantile cuts are monotone non-decreasing in q
        assert vals == sorted(vals), (m, vals)


def test_rp_projection_is_deterministic_and_map_side(spark):
    from covid_engineering_spark.operators.similarity import (
        RP_DIM,
        rp_project,
    )
    from covid_engineering_spark.sources import read_table

    emb = read_table(spark, SF_SMOKE, "embeddings")
    a = rp_project(emb).orderBy("vec_id").limit(5).collect()
    b = rp_project(emb).orderBy("vec_id").limit(5).collect()
    assert [r["embedding"] for r in a] == [r["embedding"] for r in b]
    assert all(len(r["embedding"]) == RP_DIM for r in a)
    # projection itself is one map-side projection over the scan: the
    # executed plan must contain no exchange below the orderBy-free form
    plan = (
        rp_project(emb)._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan, plan


def test_rp_recall_beats_zero_and_matches_hit_counts(spark):
    from covid_engineering_spark.operators.similarity import (
        TOP_K,
        q_emb_rp_recall,
    )

    rows = q_emb_rp_recall(spark, SF_SMOKE).collect()
    assert {r["q_id"] for r in rows} == set(range(8))
    for r in rows:
        assert 0 <= r["n_hits"] <= TOP_K
        assert abs(r["recall_at_k"] - r["n_hits"] / TOP_K) < 1e-9
    # On the near-uniform synthetic corpus a 16-dim JL sketch should
    # still recover SOME true neighbors across the 8 queries — a
    # broken projection (e.g. constant output) would recall ~0.
    assert sum(r["n_hits"] for r in rows) > 0


def test_weighted_sample_is_pps_exact(spark):
    from covid_engineering_spark.operators.pipeline import (
        PPS_SAMPLE_K,
        q_pipe_weighted_sample,
    )

    rows = q_pipe_weighted_sample(spark, SF_SMOKE).collect()
    total = sum(r["weight"] for r in rows)
    picked = [r for r in rows if r["sampled"]]
    # systematic PPS: number selected = floor(W*k/W) = k when no doc
    # carries more than W/k mass (true of the fixture corpus), and
    # never more than k in general
    assert len(picked) <= PPS_SAMPLE_K
    heavy = [r for r in rows if r["weight"] * PPS_SAMPLE_K >= total]
    assert all(r["sampled"] for r in heavy)
    # the selection rule is a pure function of (w_cum, weight, total):
    # recheck every verdict in python integers
    for r in rows:
        want = (r["w_cum"] * PPS_SAMPLE_K) // max(total, 1) > (
            (r["w_cum"] - r["weight"]) * PPS_SAMPLE_K
        ) // max(total, 1)
        assert r["sampled"] == want, r
    # cumulative mass is a permutation-consistent prefix sum
    assert max(r["w_cum"] for r in rows) == total


def test_weighted_sample_exact_past_int64_product(spark):
    """The crossing test widens w_cum to DECIMAL(38,0) before the
    multiply: with BIGINT arithmetic, w_cum * k wraps
    past 2^63 and the verdicts silently corrupt. Weights of ~4.6e17
    chars push w_cum * 100 to ~9.2e19 > 2^63 ≈ 9.2e18; the verdicts
    must still match exact Python big-int division.
    """
    from covid_engineering_spark.operators.pipeline import weighted_sample

    # total mass ~3.7e18 stays inside int64 (w_cum is a BIGINT prefix
    # sum) but w_cum * 100 ~ 3.7e20 overflows the old BIGINT multiply
    big = 2**62 // 25
    rows = [(i, "s", big + i) for i in range(20)]
    docs = spark.createDataFrame(
        rows, "doc_id BIGINT, source STRING, n_chars BIGINT"
    )
    out = weighted_sample(docs).collect()
    assert len(out) == 20
    total = sum(w for _, _, w in rows)
    assert max(r["w_cum"] for r in out) == total
    for r in out:
        want = (r["w_cum"] * 100) // total > (
            (r["w_cum"] - r["weight"]) * 100
        ) // total
        assert r["sampled"] == want, r
    # every pointer interval is wider than any doc: exactly k picks
    assert sum(r["sampled"] for r in out) == 20  # 20 docs < k pointers


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


def test_holt_equals_textbook_sequential_recursion(spark):
    # The engine evaluates Holt as integer-coefficient combinations of
    # the window inputs; the textbook form is a sequential fold. They
    # must agree bit-for-bit under exact rational arithmetic + floor.
    import math
    from fractions import Fraction as Fr

    from covid_engineering_spark.operators.timeseries import (
        EWMA_W,
        q_ts_holt,
    )

    rows = (
        q_ts_holt(spark, SF_SMOKE)
        .filter("event_type = 'click'")
        .orderBy("bucket")
        .collect()
    )
    assert rows
    xs = [r["x_cents"] for r in rows]
    for i, r in enumerate(rows):
        win = xs[max(0, i - EWMA_W + 1) : i + 1]
        level = trend = None
        for t, x in enumerate(win, start=1):
            if t == 1:
                level, trend = Fr(x), Fr(0)
            else:
                new_level = (Fr(x) + level + trend) / 2
                trend = (new_level - level + trend) / 2
                level = new_level
        assert r["holt_level_cents"] == math.floor(level), (i, r)
        assert r["holt_trend_cents"] == math.floor(trend), (i, r)
        assert r["holt_forecast_cents"] == math.floor(level + trend)


def test_k_anonymity_gate_is_exact_and_non_degenerate(spark):
    from covid_engineering_spark.operators.pipeline import (
        K_ANON,
        q_pipe_k_anonymity,
    )
    from covid_engineering_spark.sources import read_table

    out = q_pipe_k_anonymity(spark, SF_SMOKE)
    rows = out.collect()
    docs = read_table(spark, SF_SMOKE, "documents")
    assert len(rows) == docs.count()
    released = [r for r in rows if r["released"]]
    suppressed = [r for r in rows if not r["released"]]
    assert released and suppressed  # the fixture tail makes both real
    for r in rows:
        if r["released"]:
            assert r["qi_group_n"] >= K_ANON
            assert r["release_lang"] != "*"
        else:
            assert r["qi_group_n"] < K_ANON
            assert r["release_lang"] == "*"
            assert r["release_source"] == "*"
    # no released quasi-identifier combination is rarer than K_ANON
    small = (
        out.filter(F.col("released"))
        .groupBy("release_lang", "release_source")
        .count()
        .filter(F.col("count") < K_ANON)
        .count()
    )
    assert small == 0


def test_k_anonymity_counts_null_quasi_identifiers(spark):
    """NULL quasi-identifier values form a group, never a gap: the
    null-safe join must emit every document —
    NULL-metadata docs get counted, then suppressed or released like
    any other tuple, not silently dropped from the audit.
    """
    from covid_engineering_spark.operators.pipeline import k_anonymize

    rows = [
        # 5 docs sharing (NULL, 'web') -> released at k=5
        *[(i, None, "web") for i in range(5)],
        # 2 docs with both QI columns NULL -> suppressed, NOT dropped
        (10, None, None),
        (11, None, None),
        # 6 docs of a normal tuple -> released
        *[(20 + i, "en", "web") for i in range(6)],
        # 1 rare tuple -> suppressed
        (30, "fr", None),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id BIGINT, lang STRING, source STRING"
    )
    out = {r["doc_id"]: r for r in k_anonymize(docs).collect()}
    assert len(out) == len(rows)  # every document emitted, none vanish
    assert out[0]["released"] and out[0]["qi_group_n"] == 5
    assert out[0]["release_lang"] is None  # released keeps real (NULL) QI
    assert not out[10]["released"] and out[10]["qi_group_n"] == 2
    assert out[10]["release_lang"] == "*"
    assert out[20]["released"] and out[20]["qi_group_n"] == 6
    assert not out[30]["released"] and out[30]["qi_group_n"] == 1
