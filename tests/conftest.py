import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from covid_engineering_spark import get_spark

    spark = get_spark(app_name="covid-engineering-tests",
                      extra_conf={"spark.sql.shuffle.partitions": "8"})
    spark.sparkContext.setLogLevel("ERROR")
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def patho_dir(tmp_path_factory):
    """The NULL-bearing pathological star the adversarial oracle sweep
    runs on, written once per session."""
    from tests.test_adversarial_oracle import _pathological_rows, _write_star

    return _write_star(
        str(tmp_path_factory.mktemp("patho_star")), _pathological_rows()
    )


def _docs(spark, rows):
    """A documents frame from ``(doc_id, text)`` pairs."""
    return spark.createDataFrame(
        [(i, t, "en", "srcT", len(t)) for i, t in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    )


def parallel_sweep(names, check, workers=8):
    """Run independent per-query checks concurrently and collect
    failures — the registry-wide robustness sweeps are hundreds of
    tiny independent Spark jobs whose cost is plan-build + scheduling,
    not compute, so overlapping them in a small driver thread pool
    (optimization guide §2.6: Spark's scheduler happily runs several
    jobs at once; actions are only sequential because the driver calls
    them sequentially) cuts the sweep wall time ~4x without changing
    what is asserted. A worker that trips another worker's
    evicting-cache slot only forces a lazy recompute — results are
    unaffected.

    ``check(name)`` raises on failure; returns {name: reason} for
    every failure (empty dict = sweep green).
    """
    from concurrent.futures import ThreadPoolExecutor

    failures = {}

    def _one(name):
        try:
            check(name)
        except Exception as ex:  # noqa: BLE001 - collecting all failures
            failures[name] = repr(ex)[:160]

    with ThreadPoolExecutor(max_workers=workers) as pool:
        list(pool.map(_one, list(names)))
    return failures
