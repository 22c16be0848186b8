"""Property tests (SURVEY.md §5.3): structural invariants that hold
for ANY data — top-k is a sort prefix, running totals are monotone for
non-negative inputs — plus a hypothesis differential for the as-of
join against a brute-force model on adversarial generated inputs.
"""

from datetime import datetime, timedelta

import pytest
from hypothesis import given, settings, strategies as st

from pyspark.sql import Window
from pyspark.sql import functions as F

from covid_engineering_spark.operators.relational import asof_join
from covid_engineering_spark.queries import registry
from covid_engineering_spark.sources import read_table

from tests.conftest import SF_SMOKE

REG = registry()


def test_topk_is_sorted_prefix(spark):
    # O2 top-k must equal the first k rows of the full sort under the
    # query's own (deterministic, tie-broken) ordering.
    got = [tuple(r) for r in REG["o2_topk"](spark, SF_SMOKE).collect()]
    from covid_engineering_spark.functions import dsum

    full = (
        read_table(spark, SF_SMOKE, "orders")
        .groupBy("o_custkey")
        .agg(dsum("o_totalprice").alias("total_spend"))
        .orderBy(F.desc("total_spend"), "o_custkey")
    )
    want = [tuple(r) for r in full.limit(len(got)).collect()]
    assert len(got) == 5
    assert got == want


def test_cumsum_monotone_for_nonneg_inputs(spark):
    # W1 running totals over non-negative order totals must be
    # non-decreasing within every partition key.
    out = REG["w1_cumsum"](spark, SF_SMOKE)
    w = Window.partitionBy("o_custkey").orderBy("o_orderkey")
    bad = (
        out.withColumn("_prev", F.lag("running_spend").over(w))
        .filter(F.col("_prev").isNotNull() & (F.col("running_spend") < F.col("_prev")))
        .count()
    )
    # note: w1 orders by (o_orderdate, o_orderkey); o_orderkey alone is
    # a refinement only if keys follow dates — so re-derive the exact
    # window instead of assuming:
    w_exact = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    joined = (
        out.join(
            read_table(spark, SF_SMOKE, "orders").select("o_orderkey", "o_orderdate"),
            "o_orderkey",
        )
        .withColumn("_prev", F.lag("running_spend").over(w_exact))
        .filter(F.col("_prev").isNotNull() & (F.col("running_spend") < F.col("_prev")))
    )
    assert joined.count() == 0
    del bad


@st.composite
def asof_case(draw):
    ls = draw(
        st.lists(
            st.tuples(st.integers(0, 2), st.integers(0, 50)),
            min_size=1,
            max_size=12,
        )
    )
    rs = draw(
        st.lists(
            st.tuples(st.integers(0, 2), st.integers(0, 50), st.integers(0, 999)),
            min_size=0,
            max_size=8,
            unique_by=lambda t: (t[0], t[1]),  # unique (key, ts): dedup contract
        )
    )
    return ls, rs


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 15), st.integers(0, 15)).filter(
            lambda e: e[0] != e[1]
        ),
        min_size=1,
        max_size=20,
    )
)
def test_connected_components_matches_union_find_on_random_graphs(spark, raw):
    from covid_engineering_spark.operators.pipeline import connected_components

    edges = [(min(a, b), max(a, b)) for a, b in raw]
    pairs = spark.createDataFrame(edges, "d1 long, d2 long")
    got = {
        r["doc_id"]: r["cluster_id"] for r in connected_components(pairs).collect()
    }
    parent: dict = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {v: find(v) for v in parent}
    assert got == want


@settings(max_examples=8, deadline=None)
@given(
    st.lists(st.integers(1, 700), min_size=1, max_size=25),
    st.integers(100, 600),
)
def test_pack_chunks_prefix_formula_on_random_token_counts(spark, tokens, budget):
    # pack_chunks on synthetic one-source docs: chunk boundaries must
    # follow the exclusive-prefix formula exactly, chunk ids must be
    # contiguous from 0, and no chunk may exceed budget + its last
    # document's tokens.
    from covid_engineering_spark.operators.pipeline import pack_chunks

    docs = spark.createDataFrame(
        [(i, " ".join(["w"] * n), "s0") for i, n in enumerate(tokens)],
        "doc_id long, text string, source string",
    )
    rows = sorted(
        pack_chunks(docs, budget=budget)
        .select("doc_id", "n_tokens", "chunk_id")
        .collect(),
        key=lambda r: r["doc_id"],
    )
    prefix = 0
    seen = []
    for r in rows:
        assert r["chunk_id"] == prefix // budget, (prefix, budget, r)
        prefix += r["n_tokens"]
        seen.append(r["chunk_id"])
    assert seen == sorted(seen)
    assert seen[0] == 0


@settings(max_examples=12, deadline=None)
@given(asof_case())
def test_asof_join_matches_bruteforce(spark, case):
    ls, rs = case
    t0 = datetime(2021, 1, 1)
    left = spark.createDataFrame(
        [(k, t0 + timedelta(minutes=m), i) for i, (k, m) in enumerate(ls)],
        "k long, ts timestamp_ntz, lid long",
    )
    right = spark.createDataFrame(
        [(k, t0 + timedelta(minutes=m), float(v)) for (k, m, v) in rs],
        "k long, ts timestamp_ntz, v double",
    )

    got = {
        r.lid: r.asof_value
        for r in asof_join(left, right, key="k", value_col="v").collect()
    }
    assert set(got) == set(range(len(ls)))
    # brute force: the right row with max ts <= left ts for the key
    for i, (k, m) in enumerate(ls):
        cands = [(rm, v) for (rk, rm, v) in rs if rk == k and rm <= m]
        want = float(max(cands)[1]) if cands else None
        assert got[i] == want, (i, k, m, got[i], want)


# ---------------------------------------------------------------------------
# Funnel differential: the one-shuffle fold must agree with a plain
# model of the chained rule on ANY event log — hypothesis drives
# adversarial orderings (pre-step events, repeats, missing steps,
# interleaved users) through the plan and compares exact rows.
# ---------------------------------------------------------------------------

_FUNNEL_EVENT = st.tuples(
    st.integers(min_value=1, max_value=4),        # user_id
    st.integers(min_value=0, max_value=40),       # minute offset (may tie)
    st.sampled_from(["view", "click", "purchase"]),
)


@settings(max_examples=12, deadline=None)
@given(st.lists(_FUNNEL_EVENT, min_size=0, max_size=24))
def test_funnel_forms_agree_on_generated_logs(spark, events):
    from covid_engineering_spark.operators.timeseries import funnel

    steps = ["view", "click", "purchase"]
    # unique timestamps per user (the documented determinism contract:
    # the funnel assumes a total order of ts within a user)
    seen = set()
    rows = []
    for i, (uid, minute, etype) in enumerate(events):
        while (uid, minute) in seen:
            minute += 41  # keep collisions deterministic but distinct
        seen.add((uid, minute))
        rows.append((i, datetime(2024, 1, 1) + timedelta(minutes=minute), uid, etype))
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp_ntz, user_id long, event_type string"
    )
    # the chained rule: t0 is the user's first steps[0] event, and t_i
    # the first steps[i] event strictly after t_{i-1}
    want = set()
    for uid in {r[2] for r in rows}:
        mine = [(ts, e) for _, ts, u, e in rows if u == uid]
        ts_by_step, prev = [], None
        for i, step in enumerate(steps):
            hits = [
                ts for ts, e in mine
                if e == step and (i == 0 or (prev is not None and ts > prev))
            ]
            prev = min(hits) if hits else None
            ts_by_step.append(prev)
        if ts_by_step[0] is not None:
            depth = sum(t is not None for t in ts_by_step)
            want.add((uid, *ts_by_step, depth))
    got = {tuple(r) for r in funnel(ev, steps).collect()}
    assert got == want


@settings(max_examples=200, deadline=None)
@given(
    hist=st.lists(st.integers(min_value=0, max_value=10**6), min_size=8, max_size=24),
    x=st.integers(min_value=0, max_value=10**6),
)
def test_anomaly_integer_algebra_equals_float_zscore(hist, x):
    # The cross-multiplied flag (n·x − S)² > z²·(n·Q − S²) must agree
    # with the naive float z-score test (x − mean)² > z²·var_pop
    # whenever the float form is numerically unambiguous.
    import math

    n = len(hist)
    s = sum(hist)
    q = sum(v * v for v in hist)
    lhs_int = (n * x - s) ** 2
    rhs_int = 9 * (n * q - s * s)
    mean = s / n
    var = q / n - mean * mean
    lhs_f = (x - mean) ** 2
    rhs_f = 9 * var
    if not math.isclose(lhs_f, rhs_f, rel_tol=1e-9, abs_tol=1e-9):
        assert (lhs_int > rhs_int) == (lhs_f > rhs_f)


@settings(max_examples=25, deadline=None)
@given(
    old_ids=st.sets(st.integers(min_value=0, max_value=30), max_size=20),
    new_ids=st.sets(st.integers(min_value=0, max_value=30), max_size=20),
    edited=st.sets(st.integers(min_value=0, max_value=30), max_size=20),
)
def test_snapshot_diff_partitions_the_id_union(spark, old_ids, new_ids, edited):
    from covid_engineering_spark.operators.pipeline import snapshot_diff

    schema = "doc_id long, text string"
    old = spark.createDataFrame([(i, f"doc {i}") for i in old_ids] or [], schema)
    new = spark.createDataFrame(
        [(i, f"doc {i} v2" if i in edited else f"doc {i}") for i in new_ids] or [],
        schema,
    )
    rows = snapshot_diff(old, new).collect()
    got = {r["doc_id"]: r["status"] for r in rows}
    assert set(got) == old_ids | new_ids  # every id classified once
    assert len(rows) == len(got)
    for i, status in got.items():
        if i in old_ids and i not in new_ids:
            assert status == "removed"
        elif i in new_ids and i not in old_ids:
            assert status == "added"
        elif i in edited:
            assert status == "changed"
        else:
            assert status == "unchanged"


@settings(max_examples=25, deadline=None)
@given(
    corpus=st.lists(st.sampled_from("abcdef"), min_size=0, max_size=12),
    batch=st.lists(st.sampled_from("abcdef"), min_size=1, max_size=12),
)
def test_dedup_incremental_matches_set_model(spark, corpus, batch):
    from covid_engineering_spark.operators.pipeline import dedup_incremental

    schema = "doc_id long, text string"
    c = spark.createDataFrame(
        [(i, t) for i, t in enumerate(corpus)] or [], schema
    )
    b = spark.createDataFrame(
        [(100 + i, t) for i, t in enumerate(batch)], schema
    )
    got = {
        r["doc_id"]: r["status"]
        for r in dedup_incremental(c, b).collect()
    }
    assert set(got) == {100 + i for i in range(len(batch))}
    corpus_set = set(corpus)
    first_seen: dict[str, int] = {}
    for i, t in enumerate(batch):
        first_seen.setdefault(t, 100 + i)
    for i, t in enumerate(batch):
        doc = 100 + i
        if t in corpus_set:
            assert got[doc] == "dup_of_corpus"
        elif first_seen[t] != doc:
            assert got[doc] == "dup_in_batch"
        else:
            assert got[doc] == "new"


@settings(max_examples=20, deadline=None)
@given(
    rows=st.lists(
        st.tuples(
            st.integers(1995, 2001),
            st.sampled_from(["F", "O", "P"]),
            st.integers(1, 10_000),
        ),
        min_size=1,
        max_size=30,
    )
)
def test_pivot_cells_match_filtered_sums(spark, rows):
    """A16 property: every pivot cell equals the plain filtered sum
    for its (year, status) pair, and empty cells are null."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(y, s, float(v)) for y, s, v in rows],
        "yr int, status string, price double",
    )
    wide = (
        df.groupBy("yr")
        .pivot("status", ["F", "O", "P"])
        .agg(F.round(F.sum(F.col("price").cast("decimal(18,6)")).cast("double"), 2))
        .collect()
    )
    want: dict[tuple[int, str], float] = {}
    for y, s, v in rows:
        want[(y, s)] = round(want.get((y, s), 0.0) + v, 2)
    for r in wide:
        for s in ("F", "O", "P"):
            assert r[s] == want.get((r["yr"], s)), (r["yr"], s)


@settings(max_examples=20, deadline=None)
@given(
    vals=st.lists(
        st.tuples(st.sampled_from("AB"), st.integers(0, 100), st.integers(0, 100)),
        min_size=1,
        max_size=20,
    )
)
def test_unpivot_is_lossless_melt(spark, vals):
    """A17 property: unpivot emits exactly one (measure, value) row per
    id x value-column, and re-pivoting recovers the wide frame."""
    df = spark.createDataFrame(vals, "k string, m1 long, m2 long")
    import pyspark.sql.functions as F

    wide = df.groupBy("k").agg(
        F.sum("m1").alias("m1"), F.sum("m2").alias("m2")
    )
    long = wide.unpivot(["k"], ["m1", "m2"], "measure", "value")
    n_keys = wide.count()
    assert long.count() == 2 * n_keys
    back = (
        long.groupBy("k").pivot("measure", ["m1", "m2"]).agg(F.first("value"))
    )
    a = {r["k"]: (r["m1"], r["m2"]) for r in wide.collect()}
    b = {r["k"]: (r["m1"], r["m2"]) for r in back.collect()}
    assert a == b


def test_assign_nearest_is_argmax_of_scored_centroids(spark):
    """ANN-ASSIGN property: on a corpus small enough to brute-force,
    the assignment equals the python argmax over (cosine to every
    centroid), with the lowest label winning exact ties."""
    import math

    from covid_engineering_spark.operators.similarity import (
        assign_nearest_centroid,
    )
    from covid_engineering_spark.sources import read_table
    from tests.conftest import SF_SMOKE

    emb = read_table(spark, SF_SMOKE, "embeddings").limit(60).cache()
    got = {
        r["vec_id"]: (r["assigned_label"], r["cosine"])
        for r in assign_nearest_centroid(emb).collect()
    }
    rows = emb.collect()
    by_label: dict[int, list] = {}
    for r in rows:
        by_label.setdefault(r["label"], []).append(r["embedding"])
    cents = {}
    for lbl, vecs in by_label.items():
        dim = len(vecs[0])
        # mirror the engine's decimal-exact 6dp-rounded mean
        cents[lbl] = [
            round(sum(float(v[i]) for v in vecs) / len(vecs), 6)
            for i in range(dim)
        ]
    for r in rows:
        best = None
        for lbl in sorted(cents):
            c = cents[lbl]
            dot = 0.0
            for x, y in zip(r["embedding"], c):
                dot += float(x) * y
            nrm = math.sqrt(sum(y * y for y in c))
            cos = round(dot / nrm, 6)
            if best is None or cos > best[1]:
                best = (lbl, cos)
        assert got[r["vec_id"]][0] == best[0], r["vec_id"]
        assert abs(got[r["vec_id"]][1] - best[1]) < 1e-9
    emb.unpersist()


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.lists(
            st.sampled_from("abcdefgh"), min_size=3, max_size=12
        ).map(" ".join),
        min_size=2,
        max_size=8,
    )
)
def test_containment_dominates_jaccard_on_random_docs(spark, texts):
    # For any pair: J = c/(na+nb-c) <= c/min(na,nb) = max containment,
    # and both lie in [0, 1]. Run both measures unguarded at threshold
    # 0 over random word soups and check the dominance per pair.
    from covid_engineering_spark.operators.dedup import (
        containment_pairs,
        ngram_jaccard_pairs,
    )

    docs = spark.createDataFrame(
        [(i, t, "en", "s", len(t)) for i, t in enumerate(texts)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    jac = {
        (r.d1, r.d2): r.jaccard
        for r in ngram_jaccard_pairs(docs, threshold=0.0, max_df=None).collect()
    }
    cont = {
        (r.d1, r.d2): max(r.cont_1_in_2, r.cont_2_in_1)
        for r in containment_pairs(docs, threshold=0.0, max_df=None).collect()
    }
    assert set(jac) == set(cont)  # same candidate pairs (same plan)
    for pair, j in jac.items():
        c = cont[pair]
        assert 0.0 <= j <= c <= 1.0, (pair, j, c)


@settings(max_examples=200, deadline=None)
@given(
    st.lists(st.integers(min_value=0, max_value=10**7), min_size=4,
             max_size=30),
    st.integers(min_value=0, max_value=10**7),
)
def test_seasonal_leave_one_out_algebra_equals_float_zscore(cell, x):
    # The seasonal flag uses leave-one-out stats (n'=n−1, S'=S−x,
    # Q'=Q−x²) in the same cross-multiplied integer form; it must
    # agree with the float z-score of x against the OTHER members
    # whenever the float form is numerically unambiguous.
    import math

    others = cell  # the judged point is x, appended below
    full = [*others, x]
    n = len(full)
    s = sum(full)
    q = sum(v * v for v in full)
    n1, s1, q1 = n - 1, s - x, q - x * x
    lhs_int = (n1 * x - s1) ** 2
    rhs_int = 9 * (n1 * q1 - s1 * s1)
    mean = s1 / n1
    var = q1 / n1 - mean * mean
    lhs_f = (x - mean) ** 2
    rhs_f = 9 * var
    if not math.isclose(lhs_f, rhs_f, rel_tol=1e-9, abs_tol=1e-9):
        assert (lhs_int > rhs_int) == (lhs_f > rhs_f)
    # and the leave-one-out identities themselves
    assert s1 == sum(others) and q1 == sum(v * v for v in others)


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 40), st.integers(0, 1000)),
        min_size=1,
        max_size=60,
    ),
    st.integers(1, 9),
)
def test_global_prefix_and_ntile_match_window_forms_on_random_frames(
    spark, rows, k
):
    # global_prefix_sum / global_ntile (the distributed no-single-sort
    # forms) must equal the plain Window forms on ANY frame — random
    # weights (zeros included), heavy ties in the sort key, any k.
    from covid_engineering_spark.operators.relational import (
        global_ntile,
        global_prefix_sum,
    )

    data = [(i, m, w) for i, (m, w) in enumerate(rows)]
    df = spark.createDataFrame(data, "id long, m long, w long")
    exprs = [F.asc("m"), F.asc("id")]

    got_p = {
        r["id"]: r["cum"]
        for r in global_prefix_sum(
            df, exprs, F.col("w"), "cum"
        ).collect()
    }
    w_win = (
        Window.orderBy(*exprs)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    want_p = {
        r["id"]: r["cum"]
        for r in df.withColumn("cum", F.sum("w").over(w_win)).collect()
    }
    assert got_p == want_p

    got_n = {
        r["id"]: r["b"]
        for r in global_ntile(df, exprs, k, "b").collect()
    }
    want_n = {
        r["id"]: r["b"]
        for r in df.withColumn(
            "b", F.ntile(k).over(Window.orderBy(*exprs))
        ).collect()
    }
    assert got_n == want_n


# --- a27 quantile sketch: end-to-end rank accuracy on random streams --


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        # 2dp values incl. heavy-tie regimes (small value range)
        st.integers(0, 40).map(lambda c: c / 4.0),
        min_size=5,
        max_size=120,
    )
)
def test_quantile_sketch_rank_error_on_random_streams(spark, vals):
    """Independent accuracy property (not the emitted check): for
    every percentile, the estimate's TRUE rank interval must land
    within target ± (err_bound + max_stride) — err_bound covers the
    merged-rank error, max_stride the pick's overshoot past the
    target inside one sample gap. Ties (heavy by construction) widen
    the interval, never the guarantee."""
    import datetime
    import math

    from covid_engineering_spark.operators.relational import (
        quantile_sketch,
    )

    rows = [
        (i, datetime.datetime(2024, 1, 1), 1, "t", v, "{}")
        for i, v in enumerate(vals)
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    out = quantile_sketch(ev, b=4).collect()
    cents = sorted(int(math.floor(v * 100 + 0.5)) for v in vals)
    n = len(cents)
    # max stride over the 4 shards cannot exceed ceil(n/4) at B=4
    max_stride = (n + 3) // 4
    for r in out:
        assert r.n_total == n
        target = math.ceil(r.pct * n / 100)
        lo = sum(1 for c in cents if c < r.est_cents) + 1
        hi = sum(1 for c in cents if c <= r.est_cents)
        slack = r.err_bound + max_stride
        assert lo <= target + slack and hi >= target - slack, (
            r.pct, r.est_cents, target, lo, hi, r.err_bound, max_stride,
        )
        assert r.err_within_bound


# --- LPA: communities never cross connected components ----------------


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 15), st.integers(0, 15)).filter(
            lambda e: e[0] != e[1]
        ),
        min_size=1,
        max_size=20,
    )
)
def test_lpa_communities_stay_inside_connected_components(spark, raw):
    """Structural invariants on random graphs: every node gets exactly
    one community, the community label is itself a node in the SAME
    connected component (labels propagate along edges, so they cannot
    cross components), and community sizes are consistent."""
    from covid_engineering_spark.operators.similarity import (
        label_propagation,
    )

    edges = spark.createDataFrame(raw, "src_id long, n_id long")
    rows = label_propagation(edges).collect()
    nodes = {a for a, b in raw} | {b for a, b in raw}
    assert {r.node for r in rows} == nodes

    parent: dict = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in raw:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    sizes: dict = {}
    for r in rows:
        sizes[r.community] = sizes.get(r.community, 0) + 1
    for r in rows:
        assert find(r.node) == find(r.community), (r.node, r.community)
        assert r.community_size == sizes[r.community]
