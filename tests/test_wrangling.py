"""Golden + property tests for the wrangling tier: the Spark window
re-expression of the reference's interpolation/imputation/cleaning must
match an independent plain-Python model of the reference semantics
(tests/reference_semantics.py) on adversarial fixtures.
"""

import datetime as dt
import math

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from covid_engineering_spark.operators.wrangling import (
    clean_complete,
    fill_single_missing,
    with_interpolated,
)
from tests.reference_semantics import clean_country, interpolate_series

# --- interpolation fixtures: every boundary rule from main.py:392-419 ---
SERIES_CASES = [
    [None, None, None],                     # all null -> all 0
    [None, 10.0],                           # first-cell-zero + ramp target
    [None, None, None, 9.0],                # leading run -> ramp 0..9
    [1.0, None, 4.0],                       # single interior gap
    [1.0, None, None, None, 9.0],           # wide interior gap
    [5.0, None, None],                      # trailing LOCF
    [None, 4.0, None, None, 8.0, None],     # mixed: lead, interior, trail
    [2.0, 3.0, 4.0],                        # nothing to do
    [0.0, None, 0.0],                       # zeros are values, not nulls
    [None, 5.0, None, 1.0, None, None, 7.0, None, None, None],
]


def _spark_interpolate(spark, series):
    rows = [(1, i, v) for i, v in enumerate(series)]
    df = spark.createDataFrame(rows, "grp int, pos int, val double")
    out = with_interpolated(df, ["val"], ["grp"], ["pos"])
    got = {
        r["pos"]: r["val_interp"]
        for r in out.select("pos", "val_interp").collect()
    }
    return [got[i] for i in range(len(series))]


@pytest.mark.parametrize("series", SERIES_CASES)
def test_interpolate_matches_reference_model(spark, series):
    expected = interpolate_series(series)
    got = _spark_interpolate(spark, series)
    assert len(got) == len(expected)
    for g, e in zip(got, expected):
        assert g is not None and not math.isnan(g), (series, got)
        assert g == pytest.approx(e, rel=1e-9, abs=1e-9), (series, got, expected)


@settings(max_examples=25, deadline=None)
@given(
    st.lists(
        st.one_of(st.none(), st.floats(0, 1e6, allow_nan=False)),
        min_size=1,
        max_size=12,
    )
)
def test_interpolate_property(spark_global, series):
    got = _spark_interpolate(spark_global, series)
    expected = interpolate_series(series)
    # never leaves a null; matches the model everywhere
    assert all(g is not None and not math.isnan(g) for g in got)
    for g, e in zip(got, expected):
        assert g == pytest.approx(e, rel=1e-9, abs=1e-9)


@pytest.fixture(scope="session")
def spark_global(spark):
    return spark


def test_fill_single_missing(spark):
    rows = [
        # exactly one missing -> solved from invariant
        ("a", 100, None, 10, 20),   # active := 70
        ("b", 100, 70, None, 20),   # deaths := 10
        ("c", 100, 70, 10, None),   # recovered := 20
        ("d", None, 70, 10, 20),    # confirmed := 100
        # zero or 2+ missing -> untouched
        ("e", 100, 70, 10, 20),
        ("f", 100, None, None, 20),
    ]
    df = spark.createDataFrame(
        rows, "k string, confirmed long, active long, deaths long, recovered long"
    )
    got = {r["k"]: r for r in fill_single_missing(df).collect()}
    assert got["a"]["active"] == 70
    assert got["b"]["deaths"] == 10
    assert got["c"]["recovered"] == 20
    assert got["d"]["confirmed"] == 100
    assert got["e"]["confirmed"] == 100 and got["e"]["active"] == 70
    assert got["f"]["active"] is None and got["f"]["deaths"] is None


def _covid_fixture():
    """One frame exercising every FIXTURES.md A5 pathology: duplicate
    (country,date) province rows, leading all-null runs, exactly-one
    missing, >=2 missing with interior/trailing gaps, confirmed==active
    special case.
    """
    d = dt.date
    rows = []
    # country X: duplicate dates (provinces) + leading null run + gaps
    rows += [
        ("X", d(2020, 1, 1), None, None, None, None),   # all-null lead (trim)
        ("X", d(2020, 1, 2), None, None, None, None),   # all-null lead (trim)
        ("X", d(2020, 1, 3), 10, 10, None, None),       # confirmed==active special
        ("X", d(2020, 1, 3), 7, 5, None, None),         # province dup (max -> 10)
        ("X", d(2020, 1, 4), 20, None, 2, 3),           # one missing -> active=15
        ("X", d(2020, 1, 5), None, None, None, 5),      # >=2 missing (interp c,d)
        ("X", d(2020, 1, 6), 40, 30, 4, 6),             # complete
        ("X", d(2020, 1, 7), None, None, None, None),   # trailing all-null (interp)
    ]
    # country Y: clean series, nothing to repair
    rows += [
        ("Y", d(2020, 1, 1), 5, 3, 1, 1),
        ("Y", d(2020, 1, 2), 8, 4, 2, 2),
    ]
    # country Z: never has any observation -> dropped whole
    rows += [
        ("Z", d(2020, 1, 1), None, None, None, None),
    ]
    return rows


def test_clean_complete_matches_reference_model(spark):
    rows = _covid_fixture()
    df = spark.createDataFrame(
        rows,
        "country_region string, date date, confirmed long, active long, "
        "deaths long, recovered long",
    )
    got = clean_complete(df).collect()
    got_by_key = {
        (r["country_region"], r["date"]): (
            float(r["confirmed"]),
            float(r["active"]),
            float(r["deaths"]),
            float(r["recovered"]),
        )
        for r in got
    }
    expected_by_key = {}
    for country in ("X", "Y", "Z"):
        sub = [
            {
                "date": r[1],
                "confirmed": r[2],
                "active": r[3],
                "deaths": r[4],
                "recovered": r[5],
            }
            for r in rows
            if r[0] == country
        ]
        for rec in clean_country(sub):
            expected_by_key[(country, rec["date"])] = (
                float(rec["confirmed"]),
                float(rec["active"]),
                float(rec["deaths"]),
                float(rec["recovered"]),
            )
    assert set(got_by_key) == set(expected_by_key)
    for k in expected_by_key:
        assert got_by_key[k] == pytest.approx(expected_by_key[k], rel=1e-9), (
            k,
            got_by_key[k],
            expected_by_key[k],
        )


def test_clean_complete_single_country_filter(spark):
    df = spark.createDataFrame(
        _covid_fixture(),
        "country_region string, date date, confirmed long, active long, "
        "deaths long, recovered long",
    )
    is_y = F.col("country_region") == "Y"
    only_y = clean_complete(df.filter(is_y)).collect()
    assert {r["country_region"] for r in only_y} == {"Y"}
    assert len(only_y) == 2
    # cleaning is per-country: filtering the input equals filtering
    # the output
    assert sorted(map(tuple, only_y)) == sorted(
        map(tuple, clean_complete(df).filter(is_y).collect())
    )
