"""Session-scoped evicting cache for query-internal reuse frames.

Several queries cache an intermediate frame that multiple plan
branches read (shingle tables, daily series, the cleaned COVID
series): the returned DataFrame still reads from the cached blocks
lazily, so the query itself cannot unpersist. But a long-lived session
re-invoking the same query (the bench's warmup + timed runs, a
notebook, a dashboard, the driver loop) must not accumulate one cached
copy per invocation. ``evicting_cache`` keeps exactly ONE live cached
frame per key: each call unpersists the previous holder before caching
the new one.

Reusing a cached frame across calls holds only while its inputs are
unchanged. Each frame is stored with its input identity: the
``(path, size, mtime_ns)`` of every file under the root paths of the
plan's file relations. A file rewritten, added or removed under a root
makes the frame stale. ``sameResult`` alone cannot see that:
``InMemoryFileIndex`` equality compares paths only, so it would serve
rows cached from the old files. :func:`reset` drops every frame.

Every client of a session shares ``_LAST``; ``_LOCK`` makes each
check-and-replace atomic, so two first callers for one key cannot both
cache a frame and orphan one of them.
"""

from __future__ import annotations

import os
import threading
from collections.abc import Iterable
from dataclasses import dataclass

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame

_LOCK = threading.Lock()


@dataclass(frozen=True)
class _Inputs:
    """Input identity: root paths, and every file under them."""

    roots: tuple[str, ...]
    files: tuple[tuple[str, int, int], ...]

    def unchanged(self) -> bool:
        return _files_under(self.roots) == self.files


_LAST: dict[str, DataFrame] = {}
#: The input identity each ``_LAST`` frame was cached under; None when
#: it could not be taken (the frame is then never reused).
_LAST_INPUTS: dict[str, _Inputs | None] = {}


def _files_under(roots: Iterable[str]) -> tuple | None:
    """``(path, size, mtime_ns)`` of every file under ``roots``; None
    when a root is missing."""
    out = []
    try:
        for root in roots:
            if not os.path.isdir(root):
                st = os.stat(root)
                out.append((root, st.st_size, st.st_mtime_ns))
                continue
            for d, dirs, names in os.walk(root):
                dirs.sort()
                for name in sorted(names):
                    path = os.path.join(d, name)
                    st = os.stat(path)
                    out.append((path, st.st_size, st.st_mtime_ns))
    except OSError:
        return None
    return tuple(out)


def _frame_inputs(df: DataFrame) -> _Inputs | None:
    """The input identity of ``df``: the files under the local root
    paths of the file relations among the leaves of its analyzed plan,
    subquery plans included, nested roots folded into the outermost.
    None when a file relation is not on the local filesystem, or its
    roots cannot be read or are missing."""
    try:
        plan = df._jdf.queryExecution().analyzed()
        subs = plan.subqueriesAll()
        roots = []
        for p in [plan, *(subs.apply(i) for i in range(subs.size()))]:
            leaves = p.collectLeaves()
            for i in range(leaves.size()):
                leaf = leaves.apply(i)
                if leaf.nodeName() != "LogicalRelation":
                    continue
                try:
                    uris = leaf.relation().location().rootPaths().mkString("\n")
                except Py4JError:
                    return None  # not a file relation
                for uri in uris.split("\n"):
                    if not uri.startswith("file:"):
                        return None
                    roots.append("/" + uri[len("file:"):].lstrip("/"))
    except (Py4JError, AttributeError):
        return None  # a stopped session, or not a Spark frame
    paths = {os.path.abspath(r) for r in roots}
    outer = tuple(
        sorted(p for p in paths if not any(p.startswith(o + os.sep) for o in paths))
    )
    files = _files_under(outer)
    return None if files is None else _Inputs(outer, files)


def reset() -> None:
    """Unpersist every registered frame and forget it — the bench's
    per-timed-run hook. The ``sameResult`` fast path below deliberately
    lets a long-lived session REUSE a warm cache across invocations of
    the same query; that is correct for a notebook, a dashboard or the
    driver's correctness loop, but it means a bench that warms up
    untimed and then times the next invocation measures cache reads,
    not per-execution cost. bench.py calls ``reset()`` before every
    timed run so each run re-materializes its own caches from the
    parquet inputs (the WITHIN-execution sharing — one build feeding
    several consumers — is unaffected and still measured).

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
            key, df = _LAST.popitem()
            _LAST_INPUTS.pop(key, None)
        try:
            df.unpersist(blocking=True)
        except Exception:
            pass


def evicting_cache(
    df: DataFrame, key: str, storage_level=None
) -> DataFrame:
    """Cache ``df``, evicting whatever frame this ``key`` cached last —
    UNLESS the new frame computes the same result from unchanged
    inputs, in which case the already-cached frame is returned as-is.
    Re-invoking the same query with the same inputs (a notebook, the
    driver's correctness loop) reuses the warm cache; the BENCH calls
    :func:`reset` before every timed run so that reuse never crosses
    into a timed region.

    ``sameResult`` on the analyzed plans is the exact equivalence
    CacheManager itself uses. It compares file relations by path, so
    reuse also needs the input identity stored with the cached frame
    (see the module docstring) to match the files on disk. On a
    mismatch the old frame is evicted first: CacheManager would
    otherwise answer the new frame's plan with the old frame's rows.

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
            inputs = _LAST_INPUTS.get(key)
            if (
                same
                and prev.storageLevel.useMemory
                and inputs is not None
                and inputs.unchanged()
            ):
                return prev
            try:
                prev.unpersist()
            except Exception:
                pass
        out = (
            df.cache() if storage_level is None else df.persist(storage_level)
        )
        _LAST[key] = out
        _LAST_INPUTS[key] = _frame_inputs(out)
    return out
