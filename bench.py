#!/usr/bin/env python
"""Benchmark harness (driver contract).

Runs the headline queries from ``covid_engineering_spark`` at
``$SPARK_GRAFT_SF_DIR`` (default ``/root/testdata/sf0.1``) on the
engine's ``get_spark()`` session — ``local[$SPARK_GRAFT_CPUS]``, or one
thread per usable CPU when that is unset — and prints ONE JSON line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query is materialized with the ``noop`` sink so the full plan
executes (scan → shuffle → agg) without driver-side collect cost.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time


HEADLINE = [
    # Relational spine: scan → join → agg → top-k.
    "q1_pricing_summary",
    "q3_top_orders",
    "q5_region_revenue",
    "q6_forecast_revenue",
    # Window tier.
    "w1_cumsum",
    "w6_interpolate",
    # Wrangling + simulation (pandas-kernel paths).
    "wrangle_clean_complete",
    "x1_sird_sim",
    # Joins.
    "j1_broadcast_lookup",
    "j6_asof_join",
    # Grouping-set + skew-salted aggregation.
    "a12_cube",
    "a13_salted_agg",
    # Streaming-shape (batch flavor of the session-window agg).
    "stream_session",
    # LLM-data extension tier.
    "dedup_exact",
    "dedup_minhash_lsh",
    "ann_cosine_topk",
    "text_token_stats",
    # Append-only from here (so the entries above stay comparable
    # across artifacts): the flagship LLM-tier composites, the
    # one-shuffle funnel fold, and the blocked kNN graph.
    "pipe_curate_corpus",
    "pipe_dedup_incremental",
    "ts_funnel_steps",
    "emb_knn_graph",
    # Semantic dedup over embeddings; in-batch
    # hard-negative mining (the linear N x batch_cap pair pipeline).
    "emb_semdedup",
    "emb_hard_negatives",
    # The widest new TPC-H shapes (double nation
    # join; outer-join histogram), the integer EWMA window, and the
    # map-side int8 quantization encode.
    "q7_nation_volume",
    "q13_cust_distribution",
    "ts_ewma",
    "emb_sq8",
    # The heaviest of the TPC-H completion
    # batch — Q9's five-table profit rollup and Q21's distinct-heavy
    # per-order EXISTS/NOT-EXISTS collapse.
    "q9_product_profit",
    "q21_suppliers_waiting",
    # The corpus-scan-heavy LM
    # quality gate and the CMS sketch build + point-query pass.
    "text_perplexity",
    "a24_cms_heavy",
    # The rewritten distributed-ntile segmentation
    # (global_ntile: range-exchange + pid-window + broadcast offsets),
    # its one-pass approx cut-point audit, the JL projection recall
    # eval (two brute-force passes), and the k-anonymity release gate.
    "rfm_segments",
    "a25_quantile_cuts",
    "emb_rp_recall",
    "pipe_k_anonymity",
    "pipe_weighted_sample",
    "text_gopher_rules",
    "ts_holt",
    # The Misra-Gries bounded-state frequency
    # summary (two WindowGroupLimit-pruned window stages) and DSIR
    # importance-weighted data selection (corpus-wide token explode
    # collapsed to a 512-bucket broadcast model).
    "a26_mg_heavy",
    "pipe_dsir_select",
    # The paper's Gumbel-top-k DSIR resampling rule
    # (same weight plan as pipe_dsir_select + one map-side hash+libm
    # noise expression) and the ExactSubstr duplicated-span analysis
    # (positional k-grams -> map-side-combined dup set -> semi-join ->
    # gaps-and-islands merge).
    "pipe_dsir_gumbel",
    "dedup_substring",
    # The ExactSubstr span-REMOVAL form (span frame
    # + per-doc span collapse + corpus join + map-side token excision)
    # and the standing-index incremental near-dup (batch signatures
    # probe the corpus band buckets; candidates <= |batch|*bands*cap).
    "dedup_substring_strip",
    "pipe_near_dup_incremental_lsh",
    # and the iterated Lloyd k-means (3 unrolled broadcast-assign +
    # cell-mean rounds over the cached vector frame) plus the IVF
    # index trained on its codebook.
    "emb_kmeans_lloyd",
    "ann_ivf_kmeans_topk",
    # The Bloom-prescreened decontamination
    # (bit-set build + k broadcast probes + exact verify on survivors),
    # the degree-ordered triangle census over the kNN graph (the
    # O(m^1.5)-bounded wedge join), the char-entropy quality gate
    # (corpus-bytes explode collapsed at the first partial agg), and
    # the power-iteration PCA (3 broadcast-fold rounds + Rayleigh tail).
    "pipe_bloom_decontaminate",
    "graph_triangle_count",
    "text_entropy",
    "emb_pca_power",
    # and the PMI collocation miner (map-side bigram algebra into
    # vocabulary-sized joins, TakeOrderedAndProject top-k).
    "text_collocations",
    # and the binned big-big interval join (intervals explode into
    # covered hour bins, points bin once, equi-join + exact filter).
    "j9_binned_interval_join",
    # and the navigable-graph beam ANN (kNN graph + hub layer build,
    # 4 unrolled broadcast beam hops, brute-force judge).
    "ann_graph_greedy",
    # and the per-lang fertility audit (one lang-keyed partial agg)
    # plus the windowed top-k (counts agg + hour-cardinality rank).
    # graph_kcore stays OFF the headline by design: its convergence
    # loop runs ~10 checkpointed rounds at sf0.1 (an iterative
    # algorithm, like dedup_clusters' CC which is also unbenched).
    "pipe_tokenizer_fertility",
    "stream_topk",
    # The two-stage retrieval rerank (ADC
    # shortlist + exact re-rank of |Q|·25 candidates), the 4-round
    # synchronous LPA communities over the symmetrized kNN graph,
    # the per-source JS mixture audit (vocabulary-bounded after one
    # partial agg), the additive series decomposition, the broadcast
    # linear quality model, the two-primitive curriculum ordering
    # (global_ntile + global_prefix_sum), and the per-label outlier
    # z-gate (zero corpus shuffles).
    "ann_rerank_topk",
    "graph_label_propagation",
    "text_js_divergence",
    "ts_decompose",
    "pipe_quality_classifier",
    "pipe_curriculum_order",
    "emb_outliers",
    # and the mergeable rank-stride quantile summary (per-shard local
    # sorts + bounded merge + one verification scan), plus its
    # bounded-domain exact sibling (one partial-agg histogram collapse).
    "a27_quantile_sketch",
    "a28_quantile_hist",
]


def _materialize(df) -> int:
    """Execute the full plan; return row count cheaply via noop write +
    a count on the already-warm plan would double-execute, so we use
    write(noop) alone (rows are irrelevant to timing)."""
    df.write.mode("overwrite").format("noop").save()
    return 0


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    # Parse sf out of the dir name, e.g. .../sf0.1 -> 0.1
    base = os.path.basename(sf_dir.rstrip("/"))
    try:
        sf = float(base[2:]) if base.startswith("sf") else None
    except ValueError:
        sf = None

    from covid_engineering_spark.session import get_spark
    from covid_engineering_spark.queries import registry

    # Machine-state stamp: a load-contaminated bench is otherwise
    # impossible to tell from a clean one by its artifact. loadavg
    # before/after makes contamination visible IN the JSON — a
    # 1-minute loadavg near/above the CPU
    # count at start means other work shared the box and the wall
    # numbers measure contention, not plans.
    def _loadavg() -> list[float]:
        try:
            return [round(x, 2) for x in os.getloadavg()]
        except OSError:  # pragma: no cover - non-POSIX fallback
            return []

    def _cpu_ticks() -> dict[str, int]:
        """user/steal ticks from /proc/stat: a shared host can steal
        2-3x of the CPU in bad windows, and loadavg cannot see
        steal — a run whose steal delta is a large
        fraction of its user delta measured host weather, not plans.
        Recorded before/after so contamination is provable IN the
        artifact."""
        try:
            f = open("/proc/stat").readline().split()
            return {"user": int(f[1]), "steal": int(f[8])}
        except Exception:  # pragma: no cover - non-Linux fallback
            return {}

    load_before = _loadavg()
    ticks_before = _cpu_ticks()

    spark = get_spark(app_name="bench")

    # Keep the artifact tail readable:
    # nine registered plans contain Window specs with no partitionBy,
    # every one over a frame bounded by construction (<=P partition
    # totals, <=K codebook seeds, one date spine) — the allowlist test
    # tests/test_plans.py::test_every_unpartitioned_window_is_on_the_
    # bounded_allowlist re-proves that against the full registry, and
    # a constant partition key cannot silence the log (Spark's
    # EliminateWindowPartitions folds it away). So scope ONLY
    # WindowExec's logger down for this bench process; the warning
    # stays on everywhere else.
    try:
        jvm = spark._jvm
        jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
            "org.apache.spark.sql.execution.window.WindowExec",
            jvm.org.apache.logging.log4j.Level.ERROR,
        )
    except Exception:  # pragma: no cover - log4j internals shifted
        pass

    reg = registry()

    # Warm-up: JVM/codegen warm on a small full pass.
    try:
        _materialize(reg["q1_pricing_summary"](spark, sf_dir))
    except Exception:
        pass

    # Methodology: one untimed warmup execution per query (JVM codegen,
    # classloading, Python-worker launch), then the MEDIAN of n timed
    # executions (default 3, $SPARK_GRAFT_BENCH_RUNS) — steady-state
    # throughput with single-run jitter squeezed out; min/max spread is
    # reported per query so an unstable timing is visible, not hidden.
    runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3")))
    # Measurement-bug guard: evicting_cache keeps a
    # sameResult fast path that let every TIMED run reuse the frame the
    # UNTIMED warmup materialized — so cache-bearing queries were timing
    # cache reads, not per-execution cost. caching.reset() (unpersist +
    # forget, blocking) runs before every timed run so each run
    # re-materializes its own caches from the parquet inputs; the
    # within-execution sharing (one build, several consumers) is still
    # measured. The reset itself runs OUTSIDE the timed region.
    from covid_engineering_spark.functions import caching as _caching

    timings: dict[str, float | None] = {}
    spread: dict[str, list[float]] = {}
    failed: list[str] = []
    total = 0.0
    for name in HEADLINE:
        fn = reg.get(name)
        if fn is None:
            continue
        try:
            _materialize(fn(spark, sf_dir))  # warmup
            samples = []
            for _ in range(runs):
                _caching.reset()
                t0 = time.perf_counter()
                _materialize(fn(spark, sf_dir))
                samples.append(time.perf_counter() - t0)
            med = statistics.median(samples)
            timings[name] = round(med, 3)
            spread[name] = [round(min(samples), 3), round(max(samples), 3)]
            total += med
        except Exception as exc:
            # Failed queries record null and stay OUT of the total so
            # the emitted line remains strict JSON (json.dumps would
            # happily print a bare NaN, which is not JSON).
            timings[name] = None
            failed.append(name)
            print(f"bench: {name} FAILED: {exc}", file=sys.stderr)

    # LSH bucket pre-flight rides along in every bench artifact: a
    # nonzero capped-bucket count on this data means the band-cap
    # chain-edge approximation (SKETCH_BUCKET_CAP) is ACTIVE for
    # dedup_minhash_lsh, which a reader of the timing should know —
    # surfaced automatically rather than opt-in.
    try:
        from covid_engineering_spark.operators.dedup import lsh_bucket_stats
        from covid_engineering_spark.sources import read_table

        st = lsh_bucket_stats(
            read_table(spark, sf_dir, "documents")
        ).head()
        preflight = {
            "n_buckets": st["n_buckets"],
            "max_bucket": st["max_bucket"],
            "capped_buckets": st["capped_buckets"],
        }
    except Exception as exc:  # pragma: no cover - diagnostic only
        preflight = {"error": repr(exc)[:200]}

    out = {
        "metric": "headline_query_wall_time",
        "value": round(total, 3),
        "unit": "sec",
        "queries": timings,
        "spread": spread,
        "failed": failed,
        "lsh_bucket_preflight": preflight,
        "runs": runs,
        "sf": sf,
        "loadavg_before": load_before,
        "loadavg_after": _loadavg(),
        "cpu_ticks_before": ticks_before,
        "cpu_ticks_after": _cpu_ticks(),
        "n_cpus": os.cpu_count(),
        "suppressed_warnings": {
            "WindowExec_no_partition": (
                "expected from 9 allowlisted bounded-frame global "
                "windows (<=P totals / <=K seeds / date spine); "
                "audited registry-wide by tests/test_plans.py::"
                "test_every_unpartitioned_window_is_on_the_bounded_"
                "allowlist"
            )
        },
        "methodology": (
            "steady-state: 1 warmup + median of "
            f"{runs} timed runs per query, noop sink; failures excluded from total"
        ),
    }
    # The driver keeps only the TAIL of bench stdout, so the artifact
    # contract is: full record (with per-query spread + preflight) goes
    # to BENCH_LOCAL.json next to this script, and the LAST stdout line
    # is the compact headline (total + per-query medians only, ~1 KB) —
    # the number can no longer be truncated away.
    try:
        local_path = os.path.join(
            os.path.dirname(os.path.abspath(__file__)), "BENCH_LOCAL.json"
        )
        with open(local_path, "w") as f:
            json.dump(out, f, indent=1)
            f.write("\n")
    except OSError as exc:  # pragma: no cover - diagnostic only
        print(f"bench: BENCH_LOCAL.json write failed: {exc}", file=sys.stderr)
    compact = {
        "metric": out["metric"],
        "value": out["value"],
        "unit": "sec",
        "queries": timings,
        "failed": failed,
        "runs": runs,
        "sf": sf,
        "loadavg_before": load_before,
        "loadavg_after": out["loadavg_after"],
        "n_cpus": out["n_cpus"],
    }
    print(json.dumps(compact))
    spark.stop()


if __name__ == "__main__":
    main()
