"""A resident session reuses the frames queries cache for internal
reuse, and never serves rows from inputs that changed.

``functions.caching.evicting_cache`` keeps one cached frame per key and
hands it back to a later call only while the session is the same live
one and the input files are unchanged; ``caching.reset()`` drops every
frame."""

import os
import subprocess
import sys
import threading

import pyarrow.parquet as pq
import pytest

from covid_engineering_spark.functions import caching
from covid_engineering_spark.queries import oracles, registry
from tests.conftest import SF_ORACLE, SF_SMOKE
from tests.oracle_check import compare, duck_con

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture(scope="module")
def seeded_tables():
    """Two relabelled copies of the perfbench base tables: same files,
    same row counts, other keys."""
    from perfbench import inputs

    return {seed: inputs.transform(seed) for seed in (1, 2)}


def _write(tables, out):
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out, f"{name}.parquet"))


def _oracle_rows(spark, name, sf_dir):
    con = duck_con(sf_dir)
    try:
        res = compare(registry()[name](spark, sf_dir), con, oracles()[name])
    finally:
        con.close()
    assert res["match"], {k: v for k, v in res.items() if k != "match"}
    return sorted(map(repr, registry()[name](spark, sf_dir).collect()))


@pytest.mark.parametrize("name", ["x3_sird_mse", "covid_wave_peaks", "p2_filter_eq"])
def test_inputs_rewritten_in_place_are_never_served_stale(
    spark, seeded_tables, tmp_path, name
):
    # x3 caches its daily series and covid_wave_peaks its cleaned
    # series; p2_filter_eq caches nothing. Each is built and executed
    # on seed 1's files, which are then overwritten with seed 2's under
    # the same paths.
    sf_dir = str(tmp_path)
    _write(seeded_tables[1], sf_dir)
    before = _oracle_rows(spark, name, sf_dir)
    _write(seeded_tables[2], sf_dir)
    after = _oracle_rows(spark, name, sf_dir)
    assert before != after  # the seeds really differ on this query


@pytest.mark.parametrize("name", ["x3_sird_mse", "covid_wave_peaks", "text_perplexity"])
def test_an_evicted_slot_only_forces_a_recompute(spark, name):
    # A frame keeps reading its cached slots lazily after it is built.
    # Running the query on other inputs evicts those slots; collecting
    # the first frame again must recompute them from its own plan.
    q = registry()[name]
    caching.reset()
    storage = spark.sparkContext._jsc.sc().getRDDStorageInfo
    before = {info.id() for info in storage()}
    df = q(spark, SF_SMOKE)
    want = sorted(map(repr, df.collect()))
    slots = dict(caching._LAST)
    assert slots, "the query caches no frame"
    q(spark, SF_ORACLE).collect()
    assert not any(f.storageLevel.useMemory for f in slots.values())
    assert sorted(map(repr, df.collect())) == want
    con = duck_con(SF_SMOKE)
    try:
        res = compare(df, con, oracles()[name])
    finally:
        con.close()
    assert res["match"], {k: v for k, v in res.items() if k != "match"}
    caching.reset()
    # RDDs an earlier test on the shared session left stored are not
    # this query's
    left = [info.name() for info in storage() if info.id() not in before]
    assert not left, left


def test_reset_drops_the_cleaned_series(spark):
    registry()["covid_wave_peaks"](spark, SF_SMOKE)
    cleaned = caching._LAST["cleaned_complete"]
    assert cleaned.storageLevel.useMemory
    caching.reset()
    assert not caching._LAST and not caching._LAST_INPUTS
    assert not cleaned.storageLevel.useMemory


def test_two_threads_executing_one_cached_series_match_the_oracle(spark):
    name = "covid_wave_peaks"
    q = registry()[name]
    q(spark, SF_SMOKE)
    cleaned = caching._LAST["cleaned_complete"]
    df = q(spark, SF_SMOKE)  # reads the cleaned series cached above
    assert caching._LAST["cleaned_complete"] is cleaned
    con = duck_con(SF_SMOKE)
    results = [None, None]

    def run(i):
        cur = con.cursor()
        try:
            results[i] = compare(df, cur, oracles()[name])
        finally:
            cur.close()

    try:
        threads = [threading.Thread(target=run, args=(i,)) for i in range(2)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
    finally:
        con.close()
    assert all(r is not None and r["match"] for r in results), results


def test_x2_and_x3_cache_their_daily_series_in_separate_slots(spark):
    # x2 reads every event, x3 drops NULL users: two plans, two keys,
    # so neither call evicts the other's frame.
    reg = registry()
    reg["x2_sird_transfer"](spark, SF_SMOKE)
    reg["x3_sird_mse"](spark, SF_SMOKE)
    x2 = caching._LAST["daily_series"]
    x3 = caching._LAST["daily_series:drop_null_entity"]
    assert x2.storageLevel.useMemory and x3.storageLevel.useMemory


def test_events_build_runs_no_spark_job(spark):
    from covid_engineering_spark.sources import read_table

    sc = spark.sparkContext
    group = "test_events_build_runs_no_spark_job"
    sc.setJobGroup(group, group)
    try:
        df = read_table(spark, SF_SMOKE, "events")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    assert df.schema["ts"].dataType.simpleString() == "timestamp_ntz"


def test_events_nanos_footer_reads_like_micros(spark, tmp_path):
    # INT64 TIMESTAMP(NANOS) arrives as long nanos and is rebuilt as
    # the same timestamp_ntz values the micros file holds.
    import pyarrow as pa

    from covid_engineering_spark.sources import read_table

    t = pq.read_table(f"{SF_SMOKE}/events.parquet")
    i = t.schema.get_field_index("ts")
    t = t.set_column(i, "ts", t["ts"].cast(pa.timestamp("ns")))
    pq.write_table(t, str(tmp_path / "events.parquet"), version="2.6")
    got = read_table(spark, str(tmp_path), "events")
    want = read_table(spark, SF_SMOKE, "events")
    assert got.schema == want.schema
    assert sorted(got.collect()) == sorted(want.collect())


_RESTART = """
import sys
sys.path.insert(0, {repo!r})
from covid_engineering_spark import get_spark
from covid_engineering_spark.functions import caching
from covid_engineering_spark.queries import registry

def start():
    s = get_spark(master="local[2]",
                  extra_conf={{"spark.sql.shuffle.partitions": "2",
                               "spark.driver.memory": "1g", "spark.ui.enabled": "false"}})
    s.sparkContext.setLogLevel("ERROR")
    return s

q = registry()["covid_wave_peaks"]
old = start()
want = sorted(q(old, {sf!r}).collect())
old.stop()
new = start()
got = sorted(q(new, {sf!r}).collect())
assert got == want, "rows differ after a restart"
cleaned = caching._LAST["cleaned_complete"]
assert cleaned.sparkSession is new, "old session's frame reused"
assert cleaned.storageLevel.useMemory
new.stop()
print("restart ok")
"""


def test_restarted_session_recaches_instead_of_reusing(tmp_path):
    # A stopped-and-replaced session must not be handed frames cached
    # on the old one; its own JVM, since tier-1 shares one live session.
    env = dict(os.environ, PYTHONPATH=REPO)
    out = subprocess.run(
        [sys.executable, "-c", _RESTART.format(repo=REPO, sf=SF_SMOKE)],
        cwd=str(tmp_path),
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0 and "restart ok" in out.stdout, out.stderr[-3000:]
