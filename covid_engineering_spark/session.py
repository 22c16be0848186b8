"""SparkSession factory with scale-oriented defaults.

The reference (main.py:222-243) has no notion of a session: every
entry point eagerly re-reads CSVs/SQLite into process-local pandas.
Here one SparkSession owns all table state; configs are chosen for a
multi-executor cluster and merely *tested* on local[N].
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Configs that are safe (and wanted) on both local[N] and a 1000-executor
# cluster. Session-level (mutable at runtime) vs builder-only is respected:
# everything here is fine to pass at build time.
_DEFAULTS: dict[str, str] = {
    # Adaptive execution: runtime shuffle-partition coalescing, skew-join
    # splitting, and dynamic join-strategy switching. At 100 TB this is the
    # difference between hand-tuning spark.sql.shuffle.partitions per query
    # and letting the engine right-size each exchange.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # AQE coalescing floor. With parallelismFirst (default true)
    # AQE targets max(stage bytes / defaultParallelism,
    # minPartitionSize); the stock 1 MB floor collapses any post-
    # shuffle stage under ~2 MB to 1-2 tasks. For relational stages
    # that is right — but the engine's compute-dense small-byte stages
    # (shingle self-joins, md5 signature builds, per-token metrics
    # downstream of an exchange) then run serially while every other
    # core idles, at ANY scale where a stage's bytes are small but its
    # CPU is not (measured: the whole minhash pipeline ran 1 task per
    # stage at bench SF on the stock floor). 64 KB keeps bytes-based
    # coalescing for real data (a stage only fragments once its total
    # bytes are already tiny) and never raises task counts above
    # defaultParallelism (the parallelismFirst target).
    "spark.sql.adaptive.coalescePartitions.minPartitionSize": "64k",
    # NOTE on coalescePartitions.parallelismFirst: deliberately LEFT at
    # its default (true). Measured by bisection: false collapses
    # compute-dense, small-byte stages (bloom md5 shingles, substring
    # token filters) to 1 task — a wall-clock loss that the advisory-
    # size savings don't repay at any SF where compute >> shuffle bytes.
    # Let AQE re-plan (and coalesce) the exchanges that materialize
    # cached plans. Off, every evicting_cache build in the engine runs
    # its aggregation at the static spark.sql.shuffle.partitions count
    # regardless of data size — measured as walls of near-empty tasks
    # in the similarity/dedup tier, at any scale. The cost (cache
    # partitioning may differ from the static layout) is irrelevant
    # here: no engine op depends on a cached frame's partitioning.
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
    # Arrow for every JVM<->Python crossing (pandas UDFs, toPandas).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # PySpark 4 wraps EVERY DataFrame/Column API call with a call-site
    # capture (inspect.stack + conf.get + set/clear of the JVM-side
    # PySparkCurrentOrigin = 3 py4j round-trips per call) so that error
    # messages can cite the user's Python line. The engine builds
    # plans with tens of thousands of API calls per bench pass, and
    # the capture tripled plan-CONSTRUCTION time on the driver
    # (measured: q1 build 0.18s -> 0.11s, clean_complete 1.52s ->
    # 0.60s with it off, interleaved A/B). Queries are oracle-checked,
    # so the lost error context costs nothing here. The config is
    # static: a debugging session turns it back on at build time
    # (``extra_conf``), and configure_existing cannot set it.
    "spark.python.sql.dataFrameDebugging.enabled": "false",
    # Deterministic timestamp semantics regardless of host timezone —
    # required for the DuckDB differential oracle to hash-match.
    "spark.sql.session.timeZone": "UTC",
    # Spark 4 defaults to ANSI mode (x/0 errors, overflow errors). The
    # engine keeps permissive Spark-3-style semantics: x/0 -> null matches
    # the reference's NaN-tolerant pandas pipeline (SURVEY.md §7.4).
    "spark.sql.ansi.enabled": "false",
    # The driver-generated events table stores TIMESTAMP(NANOS) parquet,
    # which vanilla Spark refuses; read as long and convert (sources/io.py).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # RocksDB state store for stateful streaming: state spills to local
    # disk instead of living on the executor heap, so watermark-bounded
    # session/window state survives key cardinalities the default
    # HDFS-backed in-memory provider OOMs on. With a watermark, state
    # size is bounded by (keys active inside the watermark horizon) ×
    # (row size) — RocksDB makes the bound a disk number, not a heap
    # number. Applied only to engine-owned sessions (a foreign
    # driver's session keeps its own provider, see _FOREIGN_KEEPS;
    # semantics identical).
    "spark.sql.streaming.stateStore.providerClass": (
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    ),
    # Local-mode quality of life; harmless on a cluster.
    "spark.ui.showConsoleProgress": "false",
    # Builder-only (static) config: local-mode driver hosts every
    # executor thread plus all broadcast builds, so the 1g default is
    # the first thing to fall over in a scale probe. Ignored when a
    # cluster submit sets its own; configure_existing skips it
    # (runtime-immutable).
    "spark.driver.memory": "8g",
}
#: Runtime-modifiable defaults a session the engine did not build keeps.
_FOREIGN_KEEPS = frozenset({"spark.sql.streaming.stateStore.providerClass"})


def default_master() -> str:
    """``$SPARK_MASTER`` when set (``yarn``, ``k8s://...``,
    ``local[2]``), else ``local[N]`` with N = ``$SPARK_GRAFT_CPUS`` or
    one thread per CPU this process may run on."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))
    return os.environ.get("SPARK_MASTER") or f"local[{cpus}]"


def get_spark(
    app_name: str = "covid-engineering-spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    ``master`` defaults to :func:`default_master`: on a real cluster
    set ``SPARK_MASTER`` (e.g. ``yarn``) and the session runs there.
    ``spark.sql.shuffle.partitions`` is ``$SPARK_SHUFFLE_PARTITIONS``
    (default 32); ``extra_conf`` overrides any key.
    """
    builder = SparkSession.builder.appName(app_name).master(
        master or default_master()
    )
    conf = dict(_DEFAULTS)
    conf["spark.sql.shuffle.partitions"] = str(
        int(os.environ.get("SPARK_SHUFFLE_PARTITIONS", "32"))
    )
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    configure_existing(spark)
    return spark


def configure_existing(spark: SparkSession) -> SparkSession:
    """Apply the engine's *runtime-mutable* configs to a session we did
    not create (e.g. the verification driver's): every ``_DEFAULTS``
    key the session reports modifiable, except ``_FOREIGN_KEEPS``.
    Static settings (master, memory, dataFrameDebugging) are left
    alone; everything the oracle comparison depends on (timezone,
    ANSI, nanos handling, AQE) is session-scoped and settable here.
    """
    for k, v in _DEFAULTS.items():
        if k in _FOREIGN_KEEPS or not spark.conf.isModifiable(k):
            continue
        try:
            spark.conf.set(k, v)
        except Exception:
            # A config may be marked static in some deployments; the
            # engine degrades gracefully (io.py has a pyarrow fallback
            # for nanos parquet, queries avoid ANSI-divergent exprs).
            pass
    return spark
