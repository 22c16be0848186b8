"""Training-data pipeline tier: deterministic split, per-source
quota, decontamination, duplicate-cluster resolution, sampling and
selection gates. The oracle twins run in test_oracle.py; these tests
pin the properties the SQL comparison cannot see (partition
independence, convergence, planted adversarial fixtures, exact
big-int replays).
"""

import math
import os

from pyspark.sql import functions as F

from covid_engineering_spark.operators.dedup import ngram_jaccard_pairs
from covid_engineering_spark.operators.pipeline import (
    QUOTA_PER_SOURCE,
    connected_components,
    dataset_card,
    decontaminate,
    quota_per_group,
    split_assign,
)
from covid_engineering_spark.sources import read_table
from tests.conftest import SF_SMOKE
from tests.oracle_check import compare, duck_con


def test_split_is_partition_independent(spark):
    """The firewall property: a repartition (any physical layout
    change) must not move a single document across splits."""
    docs = read_table(spark, SF_SMOKE, "documents")
    base = {
        r["doc_id"]: r["split"]
        for r in split_assign(docs).select("doc_id", "split").collect()
    }
    shuffled = {
        r["doc_id"]: r["split"]
        for r in split_assign(docs.repartition(7, "source"))
        .select("doc_id", "split")
        .collect()
    }
    assert base == shuffled


def test_split_is_total_and_roughly_proportioned(spark):
    docs = read_table(spark, SF_SMOKE, "documents")
    counts = {
        r["split"]: r["n"]
        for r in split_assign(docs).groupBy("split").agg(F.count("*").alias("n")).collect()
    }
    total = sum(counts.values())
    assert total == docs.count()
    assert set(counts) == {"train", "val", "test"}
    # 79.7/10.2/10.2 nominal; wide tolerance at 50 docs.
    assert counts["train"] / total > 0.6
    assert counts["val"] / total < 0.3
    assert counts["test"] / total < 0.3


def test_quota_caps_every_group_and_keeps_the_best(spark):
    docs = read_table(spark, SF_SMOKE, "documents")
    kept = quota_per_group(
        docs, [F.col("n_chars").desc(), F.col("doc_id")], n=2
    )
    rows = kept.select("doc_id", "source", "n_chars").collect()
    by_src = {}
    for r in rows:
        by_src.setdefault(r["source"], []).append(r)
    full = docs.select("doc_id", "source", "n_chars").collect()
    for src, members in by_src.items():
        assert len(members) <= 2
        kept_ids = {m["doc_id"] for m in members}
        expected = sorted(
            (r for r in full if r["source"] == src),
            key=lambda r: (-r["n_chars"], r["doc_id"]),
        )[:2]
        assert kept_ids == {r["doc_id"] for r in expected}, src


def test_decontaminate_counts_planted_overlap(spark):
    # shingle frames are (doc_id, s); docs 1 and 2 share eval n-grams
    corpus = spark.createDataFrame(
        [
            (1, "alpha beta"),
            (2, "alpha beta"),
            (2, "gamma delta"),
            (2, "unshared gram"),
            (3, "clean gram"),
        ],
        "doc_id long, s string",
    )
    eval_sh = spark.createDataFrame(
        [(100, "alpha beta"), (100, "gamma delta")], "doc_id long, s string"
    )
    out = {
        r["doc_id"]: r["n_shared"]
        for r in decontaminate(corpus, eval_sh).collect()
    }
    assert out == {1: 1, 2: 2}


def test_connected_components_matches_union_find(spark):
    docs = read_table(spark, SF_SMOKE, "documents")
    pairs = ngram_jaccard_pairs(docs).select("d1", "d2")
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in connected_components(pairs).collect()
    }
    # plain-Python union-find over the same collected pair list
    parent: dict = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    edges = pairs.collect()
    for r in edges:
        a, b = find(r["d1"]), find(r["d2"])
        if a != b:
            parent[max(a, b)] = min(a, b)
    want = {v: find(v) for v in parent}
    assert got == want
    assert got  # non-degenerate: the synthetic corpus has near-dups
    # canonical survivor is the cluster minimum
    assert all(cl <= d for d, cl in got.items())


def test_connected_components_closes_a_long_chain(spark):
    # a path graph is the worst case for diameter; 9 edges -> 1 cluster
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(9)], "d1 long, d2 long"
    )
    got = connected_components(pairs).collect()
    assert {r["cluster_id"] for r in got} == {0}
    assert {r["doc_id"] for r in got} == set(range(10))


def test_pack_chunks_respects_the_token_budget(spark):
    from covid_engineering_spark.operators.pipeline import (
        PACK_BUDGET,
        pack_chunks,
    )

    docs = read_table(spark, SF_SMOKE, "documents")
    packed = pack_chunks(docs).select(
        "source", "doc_id", "n_tokens", "chunk_id"
    )
    totals = (
        packed.groupBy("source", "chunk_id")
        .agg(
            F.sum("n_tokens").alias("tot"),
            # the exclusive-prefix formula guarantees the chunk was
            # under budget BEFORE its final (greedy-boundary) doc —
            # that last doc is the only permitted overflow
            F.max_by("n_tokens", "doc_id").alias("last_tokens"),
        )
        .collect()
    )
    assert totals
    for r in totals:
        assert r["tot"] - r["last_tokens"] < PACK_BUDGET, r
    # chunk ids start at 0 in every group
    firsts = packed.groupBy("source").agg(F.min("chunk_id").alias("m")).collect()
    assert all(r["m"] == 0 for r in firsts)


def test_pack_chunks_is_deterministic_across_partitionings(spark):
    from covid_engineering_spark.operators.pipeline import pack_chunks

    docs = read_table(spark, SF_SMOKE, "documents")
    a = {
        (r["doc_id"]): r["chunk_id"]
        for r in pack_chunks(docs).select("doc_id", "chunk_id").collect()
    }
    b = {
        (r["doc_id"]): r["chunk_id"]
        for r in pack_chunks(docs.repartition(5))
        .select("doc_id", "chunk_id")
        .collect()
    }
    assert a == b


def test_mixture_sample_keeps_full_rate_sources_whole(spark):
    from covid_engineering_spark.operators.pipeline import (
        q_pipe_mixture_sample,
    )

    docs = read_table(spark, SF_SMOKE, "documents")
    kept = q_pipe_mixture_sample(spark, SF_SMOKE)
    src_num = F.regexp_extract(F.col("source"), r"src(\d+)", 1).cast("int")
    full_rate = docs.filter(src_num % 4 == 3)
    # threshold 'g0' sorts above every hex pair -> nothing dropped
    assert kept.filter(src_num % 4 == 3).count() == full_rate.count()
    # the 25% class must actually drop documents
    quarter_all = docs.filter(src_num % 4 == 0).count()
    quarter_kept = kept.filter(src_num % 4 == 0).count()
    assert 0 < quarter_kept < quarter_all


def test_compact_parquet_bounds_file_count(spark, tmp_path):
    import glob

    from covid_engineering_spark import schemas
    from covid_engineering_spark.sources import compact_parquet

    small = str(tmp_path / "small")
    out = str(tmp_path / "compact")
    part = read_table(spark, SF_SMOKE, "part")
    part.repartition(32).write.parquet(small)
    assert len(glob.glob(os.path.join(small, "*.parquet"))) == 32
    compact_parquet(spark, small, out)
    assert len(glob.glob(os.path.join(out, "*.parquet"))) <= 4
    back = spark.read.schema(schemas.STAR["part"]).parquet(out)
    assert back.count() == part.count()
    assert sorted(r["p_partkey"] for r in back.select("p_partkey").collect()) == sorted(
        r["p_partkey"] for r in part.select("p_partkey").collect()
    )


def test_quota_default_matches_constant(spark):
    docs = read_table(spark, SF_SMOKE, "documents")
    kept = quota_per_group(docs, [F.col("doc_id")])
    mx = kept.groupBy("source").agg(F.count("*").alias("n")).agg(
        F.max("n").alias("m")
    ).collect()[0]["m"]
    assert mx <= QUOTA_PER_SOURCE


def test_connected_components_closes_a_very_long_chain_in_log_rounds(spark):
    # 79 edges -> diameter 79; neighbor-min alone would need 79 rounds,
    # pointer jumping must close it inside the default budget.
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(79)], "d1 long, d2 long"
    )
    got = connected_components(pairs).collect()
    assert {r["cluster_id"] for r in got} == {0}
    assert len(got) == 80


def test_connected_components_raises_instead_of_returning_partial_labels(spark):
    import pytest

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(30)], "d1 long, d2 long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(pairs, max_rounds=2)


def test_keep_best_picks_highest_quality_and_keeps_singletons(spark):
    from covid_engineering_spark.operators.pipeline import keep_best

    docs = spark.createDataFrame(
        [(i,) for i in range(6)], "doc_id long"
    )
    # {0,1,2} one cluster, {3,4} another, 5 a singleton
    clusters = spark.createDataFrame(
        [(0, 0), (1, 0), (2, 0), (3, 3), (4, 3)],
        "doc_id long, cluster_id long",
    )
    quality = spark.createDataFrame(
        # doc 1 beats doc 0 in its cluster; docs 3 and 4 tie -> lower id
        [(0, 0.5), (1, 0.9), (2, 0.1), (3, 0.7), (4, 0.7), (5, 0.2)],
        "doc_id long, quality_score double",
    )
    got = {
        r["cluster_id"]: (r["kept_doc_id"], r["n_docs"], r["quality_score"])
        for r in keep_best(docs, clusters, quality).collect()
    }
    assert got == {0: (1, 3, 0.9), 3: (3, 2, 0.7), 5: (5, 1, 0.2)}


def test_keep_best_output_is_one_row_per_cluster_on_the_corpus(spark):
    from covid_engineering_spark.queries import registry

    rows = registry()["pipe_keep_best"](spark, SF_SMOKE).collect()
    n_docs_total = read_table(spark, SF_SMOKE, "documents").count()
    # every document lands in exactly one cluster; the keep-list is one
    # survivor per cluster and cluster sizes sum back to the corpus
    assert len({r["cluster_id"] for r in rows}) == len(rows)
    assert sum(r["n_docs"] for r in rows) == n_docs_total
    assert any(r["n_docs"] > 1 for r in rows)  # real dup clusters exist


def test_length_hist_partitions_the_corpus(spark):
    from covid_engineering_spark.operators.pipeline import HIST_BUCKET_CHARS
    from covid_engineering_spark.queries import registry

    rows = registry()["pipe_length_hist"](spark, SF_SMOKE).collect()
    docs = read_table(spark, SF_SMOKE, "documents")
    assert sum(r["n_docs"] for r in rows) == docs.count()
    agg = docs.agg(F.sum("n_chars").alias("s")).collect()[0]["s"]
    assert sum(r["sum_chars"] for r in rows) == agg
    for r in rows:
        assert r["lo_chars"] == r["bucket"] * HIST_BUCKET_CHARS
        assert r["lo_chars"] <= r["min_chars"] <= r["max_chars"]
        assert r["max_chars"] < r["lo_chars"] + HIST_BUCKET_CHARS


def test_cdc_upsert_latest_wins_and_partition_invariant(spark):
    from covid_engineering_spark.operators.pipeline import cdc_upsert

    log = spark.createDataFrame(
        [
            (1, "a", "2024-01-01 00:00:00", 10.0),
            (1, "a", "2024-01-03 00:00:00", 30.0),  # latest for (1, a)
            (1, "a", "2024-01-02 00:00:00", 20.0),
            (2, "a", "2024-01-01 00:00:00", 5.0),
        ],
        "user_id long, event_type string, ts string, value double",
    ).withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    got = {
        (r["user_id"], r["event_type"]): r["value"]
        for r in cdc_upsert(log).collect()
    }
    assert got == {(1, "a"): 30.0, (2, "a"): 5.0}
    reshuffled = {
        (r["user_id"], r["event_type"]): r["value"]
        for r in cdc_upsert(log.repartition(7)).collect()
    }
    assert reshuffled == got


def test_pii_scrub_counts_and_redacts_every_match(spark):
    from covid_engineering_spark.operators.pipeline import pii_scrub

    df = spark.createDataFrame(
        [
            (1, "call 555 1234 or mail a@b.com"),
            (2, "no secrets here"),
            (3, None),
        ],
        "id long, s string",
    )
    rows = {r["id"]: r for r in pii_scrub(df, "s").collect()}
    assert rows[1]["s_scrubbed"] == "call <NUM> <NUM> or mail a@b.com"
    assert rows[1]["n_redactions"] == 2
    assert rows[2]["s_scrubbed"] == "no secrets here"
    assert rows[2]["n_redactions"] == 0
    assert rows[3]["s_scrubbed"] is None


def test_dup_rate_flags_global_duplicates_across_sources(spark):
    from covid_engineering_spark.operators.pipeline import dup_rate

    # one text duplicated ACROSS sources: both copies must count as
    # dups in their own source's rate
    docs = spark.createDataFrame(
        [
            (1, "same text", "srcA"),
            (2, "same text", "srcB"),
            (3, "unique one", "srcA"),
        ],
        "doc_id long, text string, source string",
    )
    got = {
        r["source"]: (r["n_docs"], r["n_dup_docs"])
        for r in dup_rate(docs).collect()
    }
    assert got == {"srcA": (2, 1), "srcB": (1, 1)}


def test_normalize_collapses_case_punct_and_whitespace(spark):
    from covid_engineering_spark.operators.text import normalize

    docs = spark.createDataFrame(
        [
            (1, "Hello,   WORLD!!"),
            (2, "hello world"),
            (3, "  hello   world  "),
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in normalize(docs).collect()}
    # all three are the same content after normalization -> same hash
    assert rows[1]["norm_text"] == "hello world"
    assert len({rows[i]["content_hash"] for i in (1, 2, 3)}) == 1
    assert rows[1]["norm_tokens"] == 2


def test_curate_corpus_collapses_rewrites_then_clusters_then_splits(spark):
    from covid_engineering_spark.operators.pipeline import curate_corpus

    base = "the quick brown fox jumps over the lazy dog again and again"
    docs = spark.createDataFrame(
        [
            # 1 and 2 normalize to the SAME bytes (case/punct rewrite):
            # exact-dedup must collapse them to doc 1 before clustering
            (1, base, "srcA"),
            (2, "The quick, brown FOX jumps over the lazy dog... again and again!!", "srcB"),
            # 3 is a near-dup of 1 (high shingle overlap, not identical):
            # the cluster stage must group it with 1; retention keeps one
            (3, base + " tonight", "srcA"),
            # 4 is unrelated — survives as its own singleton
            (4, "completely different content about spark physical plans here", "srcC"),
        ],
        "doc_id long, text string, source string",
    )
    out = {r["doc_id"]: r for r in curate_corpus(docs).collect()}
    # doc 2 died in exact dedup; docs 1/3 formed one cluster with one
    # survivor; doc 4 survived alone
    assert 2 not in out
    assert len({r["cluster_id"] for r in out.values()}) == len(out)
    clustered = [r for r in out.values() if r["n_docs"] == 2]
    assert len(clustered) == 1 and clustered[0]["cluster_id"] == 1
    assert out[4]["n_docs"] == 1
    for r in out.values():
        assert r["split"] in {"train", "val", "test"}


def test_snapshot_diff_classifies_all_four_statuses(spark):
    from covid_engineering_spark.operators.pipeline import snapshot_diff

    old = spark.createDataFrame(
        [(1, "same"), (2, "was this"), (3, "gone soon")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(1, "same"), (2, "now this"), (4, "brand new")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["status"] for r in snapshot_diff(old, new).collect()}
    assert out == {1: "unchanged", 2: "changed", 3: "removed", 4: "added"}


def test_snapshot_diff_statuses_all_live_on_the_corpus(spark):
    from covid_engineering_spark.operators.pipeline import q_pipe_snapshot_diff

    got = {
        r["status"]
        for r in q_pipe_snapshot_diff(spark, SF_SMOKE).collect()
    }
    assert got == {"added", "removed", "changed", "unchanged"}


def test_quality_filter_every_rule_has_live_pass_and_fail(spark):
    from covid_engineering_spark.operators.pipeline import q_pipe_quality_filter

    rows = q_pipe_quality_filter(spark, SF_SMOKE).collect()
    for flag in ("len_ok", "wlen_ok", "stop_ok", "uniq_ok", "keep"):
        vals = {r[flag] for r in rows}
        assert vals == {True, False}, f"{flag} is vacuous: {vals}"
    for r in rows:
        assert r["keep"] == (
            r["len_ok"] and r["wlen_ok"] and r["stop_ok"] and r["uniq_ok"]
        )


def test_dedup_incremental_priority_and_statuses(spark):
    from covid_engineering_spark.operators.pipeline import dedup_incremental

    corpus = spark.createDataFrame(
        [(1, "alpha"), (2, "beta")], "doc_id long, text string"
    )
    batch = spark.createDataFrame(
        [
            (10, "alpha"),   # in corpus -> dup_of_corpus
            (11, "gamma"),   # first of its hash in batch -> new
            (12, "gamma"),   # later copy in batch -> dup_in_batch
            (13, "ALPHA"),   # case-folded corpus dup -> dup_of_corpus
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["status"] for r in dedup_incremental(corpus, batch).collect()}
    assert out == {
        10: "dup_of_corpus",
        11: "new",
        12: "dup_in_batch",
        13: "dup_of_corpus",
    }


def test_dedup_incremental_registry_form_covers_all_statuses(spark):
    from covid_engineering_spark.operators.pipeline import (
        q_pipe_dedup_incremental,
    )

    rows = q_pipe_dedup_incremental(spark, SF_SMOKE).collect()
    assert {r["status"] for r in rows} == {"new", "dup_of_corpus", "dup_in_batch"}


def test_near_dup_incremental_crosses_sides_only(spark):
    from covid_engineering_spark.operators.pipeline import (
        q_pipe_near_dup_incremental,
    )

    rows = q_pipe_near_dup_incremental(spark, SF_SMOKE).collect()
    assert rows  # cross-split near-dups exist in the synthetic corpus
    for r in rows:
        assert r["d_batch"] % 5 == 0
        assert r["d_corpus"] % 5 != 0
        assert 0.5 <= r["jaccard"] <= 1.0


def test_mixture_plan_shares_and_rates_are_consistent(spark):
    from covid_engineering_spark.operators.pipeline import (
        MIX_TARGETS,
        q_pipe_mixture_plan,
    )

    rows = q_pipe_mixture_plan(spark, SF_SMOKE).collect()
    assert rows
    assert abs(sum(r["token_share"] for r in rows) - 1.0) < 1e-4
    # each class's per-source targets sum back to the class weight
    by_cls: dict[int, float] = {}
    for r in rows:
        by_cls[r["cls"]] = by_cls.get(r["cls"], 0.0) + r["target_share"]
        assert 0.0 < r["sampling_rate"] <= 1.0
    for cls, total in by_cls.items():
        assert abs(total - MIX_TARGETS[cls]) < 1e-4


def test_scd2_history_intervals_tile_each_key_stream(spark):
    from covid_engineering_spark.queries import registry

    rows = registry()["pipe_scd2_history"](spark, SF_SMOKE).collect()
    ev = read_table(spark, SF_SMOKE, "events")
    assert len(rows) == ev.count()  # every version kept, none invented
    by_key = {}
    for r in rows:
        by_key.setdefault((r["user_id"], r["event_type"]), []).append(r)
    assert any(len(v) > 1 for v in by_key.values())  # real multi-version keys
    for vers in by_key.values():
        vers.sort(key=lambda r: r["version"])
        # ordinals are 1..n and exactly the last version is current
        assert [r["version"] for r in vers] == list(range(1, len(vers) + 1))
        assert [r["is_current"] for r in vers] == [False] * (len(vers) - 1) + [True]
        # intervals tile: each version closes at the next one's start
        for a, b in zip(vers, vers[1:]):
            assert a["valid_to"] == b["valid_from"]
            assert a["valid_from"] <= a["valid_to"]
        assert vers[-1]["valid_to"] is None


def test_scd2_current_rows_equal_cdc_upsert_state(spark):
    # The upsert keeps exactly the rows SCD2 flags current — the two
    # faces of the same changelog must agree.
    from covid_engineering_spark.queries import registry

    cur = {
        (r["user_id"], r["event_type"], r["ts"], r["value"])
        for r in registry()["pipe_scd2_history"](spark, SF_SMOKE)
        .filter("is_current")
        .collect()
    }
    upsert = {
        (r["user_id"], r["event_type"], r["ts"], r["value"])
        for r in registry()["pipe_cdc_upsert"](spark, SF_SMOKE).collect()
    }
    assert cur == upsert


def test_dataset_card_grand_total_equals_leaf_sum(spark):
    docs = read_table(spark, SF_SMOKE, "documents")
    rows = dataset_card(docs).collect()
    leaves = [r for r in rows if r.grp_level == 0]
    per_source = [r for r in rows if r.grp_level == 1]
    total = [r for r in rows if r.grp_level == 3]
    assert len(total) == 1
    assert total[0].n_docs == docs.count()
    assert sum(r.n_docs for r in leaves) == total[0].n_docs
    assert sum(r.n_tokens for r in per_source) == total[0].n_tokens
    assert total[0].source is None and total[0].lang is None


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
