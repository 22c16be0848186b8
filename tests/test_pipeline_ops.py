"""Training-data pipeline tier: deterministic split, per-source
quota, decontamination, and duplicate-cluster resolution. The oracle
twins run in test_oracle.py; these tests pin the properties the SQL
comparison cannot see (partition independence, convergence, planted
adversarial fixtures).
"""

import os

from pyspark.sql import functions as F

from covid_engineering_spark.operators.dedup import ngram_jaccard_pairs
from covid_engineering_spark.operators.pipeline import (
    QUOTA_PER_SOURCE,
    connected_components,
    decontaminate,
    quota_per_group,
    split_assign,
)
from covid_engineering_spark.sources import read_table
from tests.conftest import SF_SMOKE


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
    compact_parquet(spark, small, out, schemas.STAR["part"])
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
