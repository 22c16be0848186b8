#!/usr/bin/env python
"""End-to-end training-corpus curation: the LLM-data-pipeline tier as
one engine script.

    python examples/corpus_curation.py [sf_dir] [out_dir]

Starting from the raw ``documents`` table, this runs the full curation
funnel a pretraining pipeline applies before tokenization:

1. exact dedup        — collapse byte-identical copies;
2. near-dup clusters  — guarded n-gram Jaccard pairs resolved to
                        connected components, keep the highest-quality
                        doc per cluster (``keep_best``);
3. decontamination    — drop documents sharing word-4-grams with the
                        eval suite;
4. source quota       — cap each source at its N longest survivors;
5. mixture sampling   — per-source keep-rates via salted md5 buckets;
6. split + packing    — deterministic train/val/test assignment, then
                        token-budget chunk ids for sequence packing;
7. sink               — hive-partitioned by split, so training readers
                        scan only their split's files.

Every stage is lazy DataFrame composition except the cluster
resolution (iterative, materialized per round) — the funnel from raw
to written corpus is a handful of Spark jobs regardless of scale.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from covid_engineering_spark.operators.dedup import ngram_jaccard_pairs, shingles_of
from covid_engineering_spark.operators.pipeline import (
    DECON_NGRAM,
    connected_components,
    decontaminate,
    keep_best,
    pack_chunks,
    quota_per_group,
    split_assign,
)
from covid_engineering_spark.operators.text import quality_frame
from covid_engineering_spark.session import get_spark
from covid_engineering_spark.sources import read_table, write_partitioned


def main(
    sf_dir: str = "/root/testdata/sf0.001",
    out_dir: str = "/tmp/covid_engine_corpus",
    quota: int = 15,
) -> None:
    spark = get_spark(app_name="corpus-curation")
    spark.sparkContext.setLogLevel("ERROR")

    docs = read_table(spark, sf_dir, "documents")
    n_raw = docs.count()

    # 0. the map-side gates run FIRST (cheapest per byte, no shuffle):
    # the Gopher rule suite + the blocklist density gate, both as
    # PREDICATE columns evaluated inside the scan — joining the audit
    # frames back on doc_id would cost two extra scans + shuffle
    # joins that erase the gate's downstream saving (measured at
    # sf0.1). The per-rule audit report (gopher_rules) remains the
    # tool for REASONS; the funnel wants only the verdict.
    from covid_engineering_spark.operators.pipeline import blocklist_col
    from covid_engineering_spark.operators.text import gopher_gate_col

    gated = docs.filter(gopher_gate_col() & ~blocklist_col())
    n_gated = gated.count()
    print(f"map-side gates: {n_raw} raw -> {n_gated} past gopher+blocklist")
    docs = gated

    # 1. exact dedup: keep the smallest doc_id per normalized hash
    keep_exact = (
        docs.groupBy(F.md5(F.lower(F.col("text"))).alias("h"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    docs = docs.join(keep_exact, "doc_id")

    # 1b. exact-substring span REMOVAL (Lee et al. 2022's ExactSubstr,
    # the strip form): literal copied TEXT remaining after the
    # whole-document dedup is excised from every doc rather than
    # dropping docs — the report rides along from the same frame
    from covid_engineering_spark.operators.dedup import substring_strip

    stripped = substring_strip(docs)
    sub = stripped.agg(
        F.sum((F.col("removed_tokens") > 0).cast("int")).alias("n_docs"),
        F.sum("removed_tokens").alias("toks"),
    ).first()
    print(
        f"exact-substring strip: excised {sub['toks']} duplicated span "
        f"tokens from {sub['n_docs']} docs"
    )
    docs = docs.drop("text").join(
        stripped.select("doc_id", F.col("stripped_text").alias("text")),
        "doc_id",
    )

    # 2. near-dup cluster resolution: keep the highest-quality member
    # of every cluster (singletons keep themselves), not just the
    # lowest id — the retention policy a production pipeline ships
    clusters = connected_components(ngram_jaccard_pairs(docs))
    kept = keep_best(docs, clusters, quality_frame(docs)).select(
        F.col("kept_doc_id").alias("doc_id")
    )
    docs = docs.join(kept, "doc_id")

    # 3. decontamination against a held-out eval suite (here: every
    # 13th doc stands in for the benchmark corpus); shingles cached —
    # both join sides derive from the same frame
    sh = shingles_of(docs, DECON_NGRAM).cache()
    is_eval = F.col("doc_id") % 13 == 0
    tainted = decontaminate(sh.filter(~is_eval), sh.filter(is_eval)).select(
        "doc_id"
    )
    docs = docs.filter(~is_eval).join(tainted, "doc_id", "left_anti")

    # 4. per-source quota: longest survivors first, deterministic tiebreak
    docs = quota_per_group(
        docs, [F.col("n_chars").desc(), F.col("doc_id")], n=quota
    ).drop("rk")

    # 5. + 6. split assignment, then token-budget packing WITHIN
    # (split, source): a chunk must never straddle the train/eval
    # firewall the split just drew
    curated = pack_chunks(split_assign(docs), group=["split", "source"])

    # 7. hive-partitioned sink: a training reader scans only its split
    write_partitioned(
        curated.select(
            "doc_id", "text", "lang", "source", "n_tokens", "chunk_id", "split"
        ),
        f"{out_dir}/curated",
        "split",
    )
    back = spark.read.parquet(f"{out_dir}/curated")
    n_out = back.count()
    by_split = {
        r["split"]: r["n"]
        for r in back.groupBy("split").agg(F.count("*").alias("n")).collect()
    }
    n_chunks = back.select("split", "source", "chunk_id").distinct().count()
    print(f"curated {n_raw} raw documents -> {n_out} kept")
    print(f"split sizes: {dict(sorted(by_split.items()))}")
    print(f"packed into {n_chunks} chunks")

    # 7b. target-distribution selection: DSIR importance weights
    # against the English slice as the target — the report a curator
    # reads to see WHICH raw documents a target-matched mixture would
    # pull in, before committing the mixture weights
    from covid_engineering_spark.operators.pipeline import dsir_select

    # eqNullSafe, matching the registered q_pipe_dsir_select: a plain
    # == predicate is NULL for NULL-lang docs and filter(~NULL) would
    # silently drop them from the raw side of the report.
    dsir = dsir_select(
        read_table(spark, sf_dir, "documents"),
        F.col("lang").eqNullSafe(F.lit("en")),
    )
    picked = dsir.filter("selected").agg(
        F.count("*").alias("n"),
        F.min("dsir_micros").alias("floor_micros"),
    ).first()
    print(
        f"dsir selection vs the en target: top {picked['n']} raw docs, "
        f"weight floor {picked['floor_micros']} micros"
    )

    # 7c. the paper's actual resampling rule: Gumbel-top-k over the
    # same weights — a weighted sample WITHOUT replacement in one
    # pass, so rare-but-relevant documents get a seed-controlled
    # chance instead of a hard weight cutoff. The overlap with the
    # deterministic top-k shows how much the noise actually moves
    # the selection at this corpus size.
    from covid_engineering_spark.operators.pipeline import (
        dsir_gumbel_topk_exact,
    )

    gumbel = dsir_gumbel_topk_exact(
        read_table(spark, sf_dir, "documents"),
        F.col("lang").eqNullSafe(F.lit("en")),
    )
    overlap = (
        gumbel.filter("selected")
        .select("doc_id")
        .join(dsir.filter("selected").select("doc_id"), "doc_id", "inner")
        .count()
    )
    print(
        f"gumbel-top-k resample: {overlap}/{picked['n']} picks shared "
        f"with the deterministic top-k"
    )

    # 8. the crawl-level gate a refresh would run BEFORE this funnel:
    # per-source dup rate + above-corpus-mean quality, as one report
    from covid_engineering_spark.operators.pipeline import source_gate

    gate = source_gate(read_table(spark, sf_dir, "documents")).collect()
    admitted = [r for r in gate if r["admitted"]]
    print(
        f"source gate: {len(admitted)}/{len(gate)} sources admitted "
        f"({sum(r['retained_docs'] for r in admitted)} docs retained)"
    )

    # 9. lexical retrieval over the raw corpus: BM25 against a fixed
    # query — the audit query a curator runs to eyeball what the
    # corpus says about a topic before and after a filter change
    from covid_engineering_spark.operators.text import BM25_TERMS, bm25_rank

    hits = bm25_rank(read_table(spark, sf_dir, "documents")).collect()
    print(
        f"bm25 top-{len(hits)} for {' '.join(BM25_TERMS)!r}: "
        f"best doc {hits[0]['doc_id']} at {hits[0]['bm25_micros']} micros"
    )

    # 10. release checks on the curated corpus: k-anonymity over the
    # metadata a release ships, and a PPS draw (weight = length) for
    # the human-review sample — both auditable per document
    from covid_engineering_spark.operators.pipeline import (
        k_anonymize,
        weighted_sample,
    )

    raw = read_table(spark, sf_dir, "documents")
    anon = k_anonymize(raw)
    n_supp = anon.filter(~F.col("released")).count()
    print(f"k-anonymity: {n_supp}/{n_raw} docs metadata-suppressed")
    draw = weighted_sample(raw)
    n_draw = draw.filter("sampled").count()
    mass = draw.agg(
        (
            F.sum(F.when(F.col("sampled"), F.col("weight"))) * 100
            / F.sum("weight")
        ).alias("pct")
    ).first()["pct"]
    print(
        f"pps review sample: {n_draw} docs carrying {mass:.1f}% of "
        f"corpus mass (uniform draw would carry ~{100 * n_draw / n_raw:.1f}%)"
    )

    # 10. LM-quality gate: per-doc cross-entropy under the corpus
    # unigram model — the CCNet-style perplexity bucketing signal
    from covid_engineering_spark.operators.text import perplexity

    ppl = perplexity(read_table(spark, sf_dir, "documents"))
    stats = ppl.agg(
        F.min("mean_nll_micros").alias("lo"),
        F.expr("percentile(mean_nll_micros, 0.5)").alias("med"),
        F.max("mean_nll_micros").alias("hi"),
    ).first()
    print(
        f"perplexity gate: mean-NLL micros min/med/max = "
        f"{stats['lo']}/{int(stats['med'])}/{stats['hi']}"
    )

    # 11. Learned quality gate: the broadcast linear model — swap the
    # deterministic stub table for exported fastText/LR weights and
    # the plan is unchanged
    from covid_engineering_spark.operators.pipeline import (
        quality_classifier,
    )

    qc = quality_classifier(read_table(spark, sf_dir, "documents"))
    n_keep = qc.filter("keep").count()
    print(f"linear quality model: {n_keep}/{n_raw} docs past the gate")

    # 12. Mixture audit: which sources read like the blend, which
    # need their own component
    from covid_engineering_spark.operators.text import js_divergence

    js = js_divergence(read_table(spark, sf_dir, "documents"))
    far = js.orderBy(F.desc("js_micros")).first()
    print(
        f"mixture audit: most divergent source = {far['source']} "
        f"(JS {far['js_micros']} micros over {js.count()} sources)"
    )

    # 13. Training order: stage by length, shuffle within stage,
    # emit the global serving position (write_range_sorted on
    # global_pos materializes the curriculum as the file layout)
    from covid_engineering_spark.operators.pipeline import (
        curriculum_order,
    )

    curr = curriculum_order(read_table(spark, sf_dir, "documents"))
    by_stage = {
        r["stage"]: r["n"]
        for r in curr.groupBy("stage").agg(F.count("*").alias("n")).collect()
    }
    print(f"curriculum stages: {dict(sorted(by_stage.items()))}")


if __name__ == "__main__":
    main(*sys.argv[1:3])
