"""Schema-evolution reads: the operational checks a long-lived 100 TB
dataset actually needs."""

from covid_engineering_spark.sources import read_table
from tests.conftest import SF_SMOKE


def test_merge_schema_reads_evolved_parquet(spark, tmp_path):
    """Schema evolution: files written before a column existed must
    read alongside new files, old rows null-filled — the contract that
    lets a 100 TB dataset add columns without a full rewrite."""
    data = str(tmp_path / "data")
    spark.createDataFrame(
        [(1, "a"), (2, "b")], "id long, txt string"
    ).write.parquet(data)
    # later writer appends files carrying the evolved schema
    spark.createDataFrame(
        [(3, "c", 0.9)], "id long, txt string, quality double"
    ).write.mode("append").parquet(data)
    df = spark.read.option("mergeSchema", True).parquet(data).orderBy("id")
    assert set(df.columns) == {"id", "txt", "quality"}
    rows = df.collect()
    assert [r["quality"] for r in rows] == [None, None, 0.9]


def test_evicting_cache_holds_one_copy_per_key(spark):
    # Re-invoking a query that caches an internal frame must not stack
    # cached copies in a long-lived session: the helper evicts the
    # previous holder of the same key, leaves other keys alone.
    from covid_engineering_spark.functions import evicting_cache

    a = evicting_cache(spark.range(10), "k1")
    a.count()
    assert a.storageLevel.useMemory
    b = evicting_cache(spark.range(20), "k1")
    b.count()
    other = evicting_cache(spark.range(5), "k2")
    other.count()
    assert not a.storageLevel.useMemory  # evicted by b
    assert b.storageLevel.useMemory
    assert other.storageLevel.useMemory


def test_evicting_cache_reuses_warm_cache_on_same_plan(spark):
    # Same key + same logical result => the warm cached frame comes
    # back untouched (a bench's timed runs must hit the warmup's
    # cache, not rebuild it); a different plan still evicts.
    from covid_engineering_spark.functions import evicting_cache

    a = evicting_cache(spark.range(30), "k3")
    a.count()
    b = evicting_cache(spark.range(30), "k3")
    assert b is a  # reused, not re-cached
    assert a.storageLevel.useMemory
    c = evicting_cache(spark.range(31), "k3")
    c.count()
    assert not a.storageLevel.useMemory  # genuinely different => evicted
    assert c.storageLevel.useMemory


def test_caching_reset_unpersists_and_forgets(spark):
    # bench.py calls reset() before every timed run: every registered
    # frame must be unpersisted and the registry emptied, so the next
    # invocation re-materializes from source — cross-run warm-cache
    # reuse can never reach a timed region.
    from covid_engineering_spark.functions import evicting_cache
    from covid_engineering_spark.functions.caching import _LAST, reset

    a = evicting_cache(spark.range(40), "k_reset")
    a.count()
    assert a.storageLevel.useMemory
    reset()
    assert not a.storageLevel.useMemory
    assert "k_reset" not in _LAST
    # the next call re-caches fresh rather than reusing the dead frame
    b = evicting_cache(spark.range(40), "k_reset")
    b.count()
    assert b is not a and b.storageLevel.useMemory
    reset()


def test_caching_reset_survives_a_concurrent_eviction():
    # reset() blocks in unpersist while another client's evicting_cache
    # can pop a different key: each fake frame's unpersist evicts the
    # other's key, so a reset that snapshots the keys hits a KeyError.
    from covid_engineering_spark.functions.caching import _LAST, reset

    class _Frame:
        def __init__(self, other):
            self.other, self.unpersisted = other, False

        def unpersist(self, blocking=False):
            self.unpersisted = True
            _LAST.pop(self.other, None)

    a, b = _Frame("k_race_b"), _Frame("k_race_a")
    _LAST.update(k_race_a=a, k_race_b=b)
    reset()
    assert not _LAST
    # reset unpersisted one; the concurrent evictor owns the other
    assert a.unpersisted != b.unpersisted


def test_evicting_cache_first_callers_orphan_no_frame():
    # Two first callers for one key: the first is still inside cache()
    # when the second arrives. Unguarded, both see no previous holder,
    # both cache, and the later write to _LAST drops a frame that is
    # then never unpersisted.
    import threading

    from covid_engineering_spark.functions import evicting_cache
    from covid_engineering_spark.functions.caching import reset

    entered, second_cached = threading.Event(), threading.Event()

    class _Frame:
        def __init__(self, first):
            self.first, self.cached, self.unpersisted = first, False, False

        def cache(self):
            self.cached = True
            if self.first:
                entered.set()
                # bounded, so a serialised run cannot hang here
                second_cached.wait(timeout=0.5)
            else:
                second_cached.set()
            return self

        def unpersist(self, blocking=False):
            self.unpersisted = True

    a, b = _Frame(first=True), _Frame(first=False)
    t = threading.Thread(target=evicting_cache, args=(a, "k_first_race"))
    t.start()
    assert entered.wait(timeout=5)
    evicting_cache(b, "k_first_race")
    t.join(timeout=5)
    reset()
    assert a.cached and b.cached
    # every frame that was cached was unpersisted, by eviction or reset
    assert a.unpersisted and b.unpersisted


def test_read_table_fan_out(spark):
    # A tiny single-row-group file scans as fewer splits than cores;
    # fan=True spreads it to the default parallelism, fan=False keeps
    # the scan's own layout.
    want = spark.sparkContext.defaultParallelism
    raw = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    plain = read_table(spark, SF_SMOKE, "documents")
    fanned = read_table(spark, SF_SMOKE, "documents", fan=True)
    assert plain.rdd.getNumPartitions() == raw.rdd.getNumPartitions() < want
    assert fanned.rdd.getNumPartitions() == want
    assert fanned.count() == plain.count()


def test_evicting_cache_storage_level_override(spark):
    # The O(corpus) gram cache persists SERIALIZED with disk spill
    # (MEMORY_AND_DISK) instead of the default deserialized level.
    from pyspark import StorageLevel

    from covid_engineering_spark.functions import evicting_cache
    from covid_engineering_spark.functions.caching import reset

    d = evicting_cache(
        spark.range(25), "k_sl", storage_level=StorageLevel.MEMORY_AND_DISK
    )
    d.count()
    assert d.storageLevel.useMemory and d.storageLevel.useDisk
    assert not d.storageLevel.deserialized
    reset()


def test_every_registered_query_survives_an_empty_star(spark, tmp_path):
    """Robustness net: all registered operators must RUN against a
    fully EMPTY star schema — the short-input/empty-partition class of
    bug the trigram-slice crash belonged to. Global aggregates
    correctly return one all-null row on empty input, so the assertion
    is execution, not emptiness. Any operator that needs
    special-casing for empty input (the IVF codebook fit, the
    partitioned-sink read-back) must carry that handling itself."""
    import os

    from covid_engineering_spark import schemas
    from covid_engineering_spark.queries import registry

    empty = str(tmp_path / "empty_star")
    for name, schema in schemas.STAR.items():
        spark.createDataFrame([], schema).write.mode("overwrite").parquet(
            os.path.join(empty, f"{name}.parquet")
        )
    reg = registry()
    from tests.conftest import parallel_sweep

    failures = parallel_sweep(
        reg, lambda name: reg[name](spark, empty).count()
    )
    assert not failures, failures


def test_every_registered_query_survives_nulls_and_empty_strings(spark, tmp_path):
    """Second robustness net: single-row tables where every non-key
    column is NULL (and text is the empty string) — the null-handling
    class of bug, distinct from the empty-table class above. All 128
    operators must execute."""
    import datetime
    import os

    from covid_engineering_spark import schemas
    from covid_engineering_spark.queries import registry

    def val_for(f):
        n = f.name
        if n.endswith("key") or n in ("doc_id", "vec_id", "event_id", "user_id"):
            return 1
        if n == "text":
            return ""
        if n == "embedding":
            return [0.0] * 64
        if n == "label":
            return 0
        if n in ("ts", "o_orderdate", "l_shipdate"):
            return datetime.datetime(2024, 1, 1)
        return None

    root = str(tmp_path / "null_star")
    for name, schema in schemas.STAR.items():
        row = tuple(val_for(f) for f in schema.fields)
        spark.createDataFrame([row], schema).write.mode("overwrite").parquet(
            os.path.join(root, f"{name}.parquet")
        )
    reg = registry()
    from tests.conftest import parallel_sweep

    failures = parallel_sweep(
        reg, lambda name: reg[name](spark, root).count()
    )
    assert not failures, failures


def test_non_finite_counts_flags_nan_inf_null(spark):
    from covid_engineering_spark.functions.diagnostics import (
        non_finite_counts,
    )

    df = spark.createDataFrame(
        [(1.0,), (float("nan"),), (float("inf",),), (float("-inf"),), (None,),
         (1e13,), (-2e12,)],
        "v double",
    )
    row = non_finite_counts(df, "v").first()
    assert (row["v_nan"], row["v_inf"], row["v_null"], row["v_oob"]) == (
        1, 2, 1, 2,
    )
    # the hazard this guards, pinned: NaN, +-Inf, AND out-of-decimal-
    # range magnitudes cast to DECIMAL as NULL under non-ANSI Spark, so
    # they silently leave the sum — only the finite in-range 1.0
    # survives
    from covid_engineering_spark.functions import dsum

    assert df.agg(dsum("v").alias("s")).first()["s"] == 1.0
