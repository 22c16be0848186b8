"""Building a registered query runs no Spark job.

A query's DataFrame is a lazy plan: every job it needs belongs to the
action that executes it, where it is scheduled, traced and cancelled
with the request. A job run while the frame is still being built is
paid again on every build and blocks the caller before any result.
Each registered query is built on its own job group with empty caches;
only the queries named below may run a job then, each for its reason,
and each must still run one, so the list can only shrink."""

from covid_engineering_spark.functions import caching
from covid_engineering_spark.queries import SIDE_EFFECTING, registry
from tests.conftest import SF_ORACLE

_CC = (
    "connected components: each label-propagation round is checked for "
    "convergence with an action"
)
_KMEANS = (
    "k-means: each Lloyd round's codebook is checkpointed eagerly, so the "
    "next round's plan stays one round deep"
)
_PREFIX = (
    "global_prefix_sum: the range repartition samples its bounds and the "
    "per-partition totals are planned behind a lazy checkpoint"
)
_PQ_SEEDS = (
    "the md5 seed draw is checkpointed eagerly, so the PQ encoder and the "
    "ADC lookup table read one draw"
)
#: Queries that may run a Spark job while they are built, with why.
BUILD_JOBS = {
    **{name: "stages its data when built (queries.SIDE_EFFECTING)"
       for name in SIDE_EFFECTING},
    "dedup_clusters": _CC,
    "pipe_keep_best": _CC,
    "pipe_curate_corpus": _CC,
    "emb_kmeans_lloyd": _KMEANS,
    "ann_ivf_kmeans_topk": _KMEANS,
    "graph_kcore": (
        "k-core: each peeling round is checkpointed and the loop stops on "
        "an action that counts the dropped vertices"
    ),
    "ann_graph_greedy": (
        "greedy graph walk: each hop's state is checkpointed, which plans "
        "the hop's broadcast joins"
    ),
    "pipe_bloom_decontaminate": (
        "bloom filter: the set-bit frame is checkpointed eagerly, so the "
        "k probe joins read one copy"
    ),
    "rfm_segments": _PREFIX,
    "pipe_curriculum_order": _PREFIX,
    "pipe_weighted_sample": _PREFIX,
    "ann_pq_adc_topk": _PQ_SEEDS,
    "ann_rerank_topk": _PQ_SEEDS,
}


def _build_jobs(spark, name):
    sc = spark.sparkContext
    group = f"test_build_jobs:{name}"
    caching.reset()
    sc.setJobGroup(group, group)
    try:
        registry()[name](spark, SF_ORACLE)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return list(sc.statusTracker().getJobIdsForGroup(group))


def test_registered_queries_build_without_a_spark_job(spark):
    try:
        ran = {name for name in registry() if _build_jobs(spark, name)}
    finally:
        caching.reset()
    assert sorted(ran - BUILD_JOBS.keys()) == [], "built with a Spark job"
    assert sorted(BUILD_JOBS.keys() - ran) == [], (
        "allowlisted but built without a job: drop them from BUILD_JOBS"
    )
