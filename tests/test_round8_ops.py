"""Semantic pins for these operators.

- a26_mg_heavy — distributed Misra-Gries summary: the theorem's two
  guarantees (underestimate within N/(k+1); every item over N/(k+1)
  present) must hold on the fixture AND on an adversarially skewed
  synthetic corpus, and the summary must stay inside its k-counter
  budget per group.
- pipe_dsir_select — DSIR importance weighting: raw documents written
  in the target's vocabulary must outscore documents written in a
  disjoint vocabulary (the selection signal), and every weight must
  replay exactly in Python big-int arithmetic from the corpus counts.
"""

import math

from pyspark.sql import functions as F

from conftest import SF_SMOKE


def _exact_counts(rows):
    out = {}
    for et, uid in rows:
        out[(et, uid)] = out.get((et, uid), 0) + 1
    return out


def test_mg_heavy_invariants_on_fixture(spark):
    from covid_engineering_spark.operators.relational import (
        MG_K,
        q_a26_mg_heavy,
    )
    from covid_engineering_spark.sources import read_table

    out = q_a26_mg_heavy(spark, SF_SMOKE).collect()
    assert out, "summary must be non-empty on the fixture"
    ev = read_table(spark, SF_SMOKE, "events")
    exact = {
        (r["event_type"], r["user_id"]): r["n"]
        for r in ev.groupBy("event_type", "user_id")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    totals = {}
    for (et, _), n in exact.items():
        totals[et] = totals.get(et, 0) + n
    per_type = {}
    for r in out:
        per_type[r["event_type"]] = per_type.get(r["event_type"], 0) + 1
        c = exact[(r["event_type"], r["user_id"])]
        assert r["cnt"] == c  # the emitted exact count is exact
        assert 1 <= r["mg_est"] <= c  # underestimate, never zero
        assert r["mg_err"] == c - r["mg_est"]
        assert r["err_within_bound"]
        # the emitted bound column is the real theorem bound
        assert (c - r["mg_est"]) * (MG_K + 1) <= totals[r["event_type"]]
    # counter budget: at most k survivors per group
    assert all(n <= MG_K for n in per_type.values())


def test_mg_heavy_guaranteed_coverage_on_skew(spark):
    """Every item with cnt*(k+1) > N must survive the distributed
    reduction — the Misra-Gries guarantee the Mergeable Summaries
    merge preserves. Build a corpus where three users dominate one
    event type and assert all three are retained with estimates
    inside the bound, while the long uniform tail is (correctly)
    summarized away.
    """
    from covid_engineering_spark.operators.relational import (
        MG_K,
        mg_summary,
    )

    raw = []
    for uid, n in [(1, 400), (2, 300), (3, 200)]:  # heavy heads
        raw += [("hot", uid)] * n
    for uid in range(100, 180):  # 80-user uniform tail
        raw += [("hot", uid)] * 5
    total = len([r for r in raw if r[0] == "hot"])
    ev = spark.createDataFrame(raw, "event_type STRING, user_id BIGINT")

    summary, _ = mg_summary(ev)
    got = {r["user_id"]: r for r in summary.collect()}
    exact = _exact_counts(raw)
    # guarantee 1: the three heads all clear cnt*(k+1) > N -> present
    for uid, n in [(1, 400), (2, 300), (3, 200)]:
        assert n * (MG_K + 1) > total  # test is non-vacuous
        assert uid in got, f"guaranteed heavy hitter {uid} missing"
        r = got[uid]
        assert r["cnt"] == exact[("hot", uid)] == n
        # guarantee 2: estimate within the theorem bound
        assert n - total / (MG_K + 1) <= r["mg_est"] <= n
    # budget: the tail cannot push the summary past k counters
    assert len(got) <= MG_K


def test_dsir_separates_target_like_from_alien_vocabulary(spark):
    """The whole point of DSIR: raw docs drawn from the TARGET's
    vocabulary must carry higher importance weights than raw docs
    from a disjoint vocabulary, and the deterministic top-k must pick
    exactly the target-like ones."""
    from covid_engineering_spark.operators.pipeline import (
        DSIR_K,
        dsir_select,
    )

    tgt_vocab = ["alpha", "beta", "gamma", "delta"]
    alien_vocab = ["omega", "sigma", "kappa", "lambda"]
    rows = []
    # 10 target docs (lang=en) over tgt_vocab
    for i in range(10):
        rows.append((i, " ".join(tgt_vocab * 5), "en", "s"))
    # DSIR_K raw docs in the target vocabulary, 5 in the alien one
    for i in range(DSIR_K):
        rows.append((100 + i, " ".join(tgt_vocab * 5), "de", "s"))
    for i in range(5):
        rows.append((1000 + i, " ".join(alien_vocab * 5), "de", "s"))
    docs = spark.createDataFrame(
        rows, "doc_id BIGINT, text STRING, lang STRING, source STRING"
    )
    out = {
        r["doc_id"]: r
        for r in dsir_select(docs, F.col("lang") == "en").collect()
    }
    assert len(out) == DSIR_K + 5  # only raw docs are scored
    like = [out[100 + i] for i in range(DSIR_K)]
    alien = [out[1000 + i] for i in range(5)]
    assert min(r["dsir_micros"] for r in like) > max(
        r["dsir_micros"] for r in alien
    )
    assert all(r["selected"] for r in like)
    assert not any(r["selected"] for r in alien)


def test_dsir_weights_replay_exactly_from_counts(spark):
    """Determinism contract: every emitted weight equals the Python
    big-int dot product of the doc's bucket counts against per-bucket
    log-ratio micros recomputed from scratch (same Laplace smoothing,
    same 8dp rounding, same hash)."""
    from covid_engineering_spark.operators.dedup import portable_hash64
    from covid_engineering_spark.operators.pipeline import (
        DSIR_BUCKETS,
        DSIR_HASH_SEED,
        q_pipe_dsir_select,
    )
    from covid_engineering_spark.sources import read_table

    docs = read_table(spark, SF_SMOKE, "documents")
    # bucket every token the same way the operator does (reuse the
    # engine hash so the test pins the arithmetic, not the hash)
    toks = (
        docs.select(
            "doc_id",
            (F.col("lang") == "en").alias("is_t"),
            F.explode(F.split("text", " ")).alias("tok"),
        )
        .select(
            "doc_id",
            "is_t",
            F.pmod(
                portable_hash64(F.col("tok"), DSIR_HASH_SEED),
                F.lit(DSIR_BUCKETS),
            ).alias("feat"),
        )
        .collect()
    )
    ct: dict = {}
    cr: dict = {}
    per_doc: dict = {}
    for r in toks:
        if r["is_t"]:
            ct[r["feat"]] = ct.get(r["feat"], 0) + 1
        else:
            cr[r["feat"]] = cr.get(r["feat"], 0) + 1
            d = per_doc.setdefault(r["doc_id"], {})
            d[r["feat"]] = d.get(r["feat"], 0) + 1
    nt, nr = sum(ct.values()), sum(cr.values())
    b = DSIR_BUCKETS

    def lr_micros(f):
        x = ((ct.get(f, 0) + 1.0) / (nt + float(b))) / (
            (cr.get(f, 0) + 1.0) / (nr + float(b))
        )
        return math.floor(round(math.log(x), 8) * 1e6 + 0.5)

    out = q_pipe_dsir_select(spark, SF_SMOKE).collect()
    assert len(out) == len(per_doc)
    for r in out:
        want = sum(
            c * lr_micros(f) for f, c in per_doc[r["doc_id"]].items()
        )
        assert r["dsir_micros"] == want, r
        assert r["n_feat_tokens"] == sum(per_doc[r["doc_id"]].values())


from hypothesis import given, settings, strategies as st  # noqa: E402


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.sampled_from(["a", "b"]),  # group
            st.integers(0, 30),  # key — small domain forces collisions
        ),
        min_size=1,
        max_size=300,
    )
)
def test_mg_summary_guarantees_on_random_streams(spark, raw):
    """Misra-Gries on ANY stream: for every group, (1) each summary
    row underestimates by at most N_group/(k+1); (2) every key with
    cnt*(k+1) > N_group appears; (3) at most k rows survive per
    group; (4) emitted counts are exact."""
    from covid_engineering_spark.operators.relational import (
        MG_K,
        mg_summary,
    )

    ev = spark.createDataFrame(raw, "event_type STRING, user_id BIGINT")
    summary, _ = mg_summary(ev)
    got = [tuple(r) for r in summary.collect()]
    exact = _exact_counts(raw)
    totals: dict = {}
    for (g, _), n in exact.items():
        totals[g] = totals.get(g, 0) + n
    per_group: dict = {}
    present = set()
    for g, key, cnt, est in got:
        per_group[g] = per_group.get(g, 0) + 1
        present.add((g, key))
        assert cnt == exact[(g, key)]  # (4) exact counts
        assert 1 <= est <= cnt  # underestimate, positive
        assert (cnt - est) * (MG_K + 1) <= totals[g]  # (1) bound
    assert all(n <= MG_K for n in per_group.values())  # (3) budget
    for (g, key), n in exact.items():  # (2) guaranteed coverage
        if n * (MG_K + 1) > totals[g]:
            assert (g, key) in present, (g, key, n, totals[g])


def test_dsir_gumbel_topk_exact_is_seeded_and_weight_biased(spark):
    """The Gumbel resampler: (a) reproducible given (corpus, seed) and
    redrawn under a different seed; (b) the draw is weight-biased
    (selected mean weight above unselected mean)."""
    from covid_engineering_spark.operators.pipeline import (
        dsir_gumbel_topk_exact,
    )
    from covid_engineering_spark.sources import read_table

    docs = read_table(spark, SF_SMOKE, "documents")
    tgt = F.col("lang") == "en"

    def draw(**kw):
        return {
            r["doc_id"]: r
            for r in dsir_gumbel_topk_exact(docs, tgt, **kw).collect()
        }

    g1 = draw()
    assert g1 == draw()  # (a) same seed -> bit-identical draw
    g3 = draw(seed=99)
    assert {d for d, r in g3.items() if r["selected"]} != {
        d for d, r in g1.items() if r["selected"]
    }  # different seed -> different sample (50 of ~280: collision ~0)

    # (b) biased toward heavy weights
    sel = [r["dsir_micros"] for r in g1.values() if r["selected"]]
    uns = [r["dsir_micros"] for r in g1.values() if not r["selected"]]
    assert sum(sel) / len(sel) > sum(uns) / len(uns)


def test_rank_pipelines_invariant_to_shuffle_partition_count(spark):
    """The README's 'determinism at any partitioning' claim, tested
    head-on for the operators whose correctness leans on total orders
    across range/hash exchanges: the same query under 5 shuffle
    partitions must return the exact row set it returns under the
    session default (32). A partition-count-sensitive rank or prefix
    sum would silently corrupt on any cluster resize."""
    from covid_engineering_spark.queries import registry

    reg = registry()
    names = ["rfm_segments", "pipe_weighted_sample", "a26_mg_heavy"]
    default = spark.conf.get("spark.sql.shuffle.partitions")
    base = {}
    for n in names:
        base[n] = sorted(map(tuple, reg[n](spark, SF_SMOKE).collect()))
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "5")
        for n in names:
            got = sorted(map(tuple, reg[n](spark, SF_SMOKE).collect()))
            assert got == base[n], f"{n} changed under 5 partitions"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", default)


def test_dsir_counts_null_lang_docs_as_raw(spark):
    """NULL target-predicate inputs must behave as raw-side docs, not
    vanish: a NULL-lang doc is scored, and its tokens count into the
    raw model the same way in both engines (the nullable-predicate
    divergence the registered query's <=> closes)."""
    from covid_engineering_spark.operators.pipeline import (
        DSIR_K,
        dsir_select,
    )

    rows = [
        (1, "alpha beta alpha beta", "en", "s"),  # target
        (2, "alpha beta gamma delta", "de", "s"),  # raw
        (3, "omega sigma kappa tau", None, "s"),  # NULL lang -> raw
    ]
    # DSIR_K - 1 one-token raw fillers fill the top-k beside doc 2: a
    # raw-only token weighs log((nr + B) / (2 (nt + B))) in any doc,
    # negative while the raw side holds fewer than B = DSIR_BUCKETS
    # tokens, so a filler's one token outweighs doc 3's four
    fillers = {100 + i for i in range(DSIR_K - 1)}
    rows += [(d, f"filler{d}", "de", "s") for d in fillers]
    docs = spark.createDataFrame(
        rows, "doc_id BIGINT, text STRING, lang STRING, source STRING"
    )
    out = {
        r["doc_id"]: r
        for r in dsir_select(
            docs, F.col("lang").eqNullSafe(F.lit("en"))
        ).collect()
    }
    # the NULL-lang doc is scored, not lost
    assert set(out) == {2, 3} | fillers
    assert out[3]["n_feat_tokens"] == 4
    # and raw doc 2 (target-vocabulary) outranks the alien doc 3
    assert out[2]["dsir_micros"] > out[3]["dsir_micros"]
    assert out[2]["selected"] and not out[3]["selected"]
