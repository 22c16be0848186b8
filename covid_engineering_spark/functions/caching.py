"""Session-scoped evicting cache for query-internal reuse frames.

Several queries cache an intermediate frame that multiple plan
branches read (shingle tables, daily series): the returned DataFrame
still reads from the cached blocks lazily, so the query itself cannot
unpersist. But a long-lived session re-invoking the same query (the
bench's warmup + timed runs, a notebook, the driver loop) must not
accumulate one cached copy per invocation. ``evicting_cache`` keeps
exactly ONE live cached frame per key: each call unpersists the
previous holder before caching the new one.

Every client of a session shares ``_LAST``; ``_LOCK`` makes each
check-and-replace atomic, so two first callers for one key cannot both
cache a frame and orphan one of them.
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame

_LAST: dict[str, DataFrame] = {}
_LOCK = threading.Lock()


def reset() -> None:
    """Unpersist every registered frame and forget it — the bench's
    per-timed-run hook. The ``sameResult`` fast path
    below deliberately lets a long-lived session REUSE a warm cache
    across invocations of the same query; that is correct for a
    notebook or the driver's correctness loop, but it means a bench
    that warms up untimed and then times the next invocation measures
    cache reads, not per-execution cost. bench.py calls ``reset()``
    before every timed run so each run re-materializes its own caches
    from the parquet inputs (the WITHIN-execution sharing — one build
    feeding several consumers — is unaffected and still measured).

    ``blocking=True`` so the eviction completes before the timed
    region starts instead of overlapping it.
    """
    # One entry at a time, popped under the lock and unpersisted outside
    # it: another client's evicting_cache may pop a key while unpersist
    # blocks.
    while True:
        with _LOCK:
            if not _LAST:
                break
            _, df = _LAST.popitem()
        try:
            df.unpersist(blocking=True)
        except Exception:
            pass


def evicting_cache(
    df: DataFrame, key: str, storage_level=None
) -> DataFrame:
    """Cache ``df``, evicting whatever frame this ``key`` cached last —
    UNLESS the new frame computes the same result, in which case the
    already-cached frame is returned as-is. Re-invoking the same query
    with the same inputs (a notebook, the driver's correctness loop)
    reuses the warm cache; the BENCH calls :func:`reset` before every
    timed run so that reuse never crosses into a timed region.

    ``sameResult`` on the analyzed plans is the exact equivalence
    CacheManager itself uses.

    ``storage_level``: optional ``pyspark.StorageLevel`` for frames
    whose size is O(corpus) rather than bounded-by-construction (the
    ExactSubstr positional gram stream): ``MEMORY_AND_DISK``
    (serialized) halves the memory footprint vs the default
    deserialized cache and spills the remainder to disk — the
    shuffle-file treatment, routine at scale. Keys should include the
    variant parameters (e.g. gram length) so distinct variants
    hold distinct slots instead of thrashing one.
    """
    with _LOCK:
        prev = _LAST.get(key)
        if prev is not None:
            try:
                # Same LIVE session only: a stopped-and-replaced
                # session's frame can still answer sameResult/
                # storageLevel from memoized state, then blow up at
                # first action — so the reuse path requires session
                # identity, not just plan equality.
                same = (
                    df.sparkSession is prev.sparkSession
                    and not df.sparkSession._sc._jsc.sc().isStopped()
                    and df._jdf.queryExecution()
                    .analyzed()
                    .sameResult(prev._jdf.queryExecution().analyzed())
                )
            except Exception:
                same = False  # old frame's session may already be stopped
            if same and prev.storageLevel.useMemory:
                return prev
        out = (
            df.cache() if storage_level is None else df.persist(storage_level)
        )
        _LAST[key] = out
    if prev is not None:
        try:
            prev.unpersist()
        except Exception:
            pass
    return out
