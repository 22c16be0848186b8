"""Integration tests on the REAL reference CSVs (/root/reference/*,
read-only): the engine's ingest + wrangling pipeline must reproduce the
reference's documented data facts and, for a full country, the golden
Python model of process_country_complete (main.py:449-498) value for
value. This is the parity evidence the synthetic star schema can't
give: same bytes in, same numbers out.
"""

import os

import pytest

from pyspark.sql import functions as F

from covid_engineering_spark import schemas
from covid_engineering_spark.operators.wrangling import clean_complete
from covid_engineering_spark.sources import read_covid_csv

from tests.reference_semantics import clean_country

REF = "/root/reference"

pytestmark = pytest.mark.skipif(
    not os.path.exists(f"{REF}/day_wise.csv"),
    reason="reference snapshot not mounted",
)


@pytest.fixture(scope="module")
def day_wise(spark):
    return read_covid_csv(
        spark, f"{REF}/day_wise.csv", schemas.DAY_WISE, schemas.DAY_WISE_RENAMES
    ).cache()


@pytest.fixture(scope="module")
def complete(spark):
    return read_covid_csv(
        spark, f"{REF}/complete.csv", schemas.COMPLETE, schemas.COMPLETE_RENAMES
    ).cache()


def test_day_wise_facts(day_wise):
    # 188 daily rows spanning 2020-01-22..2020-07-27 (SURVEY.md §1.1).
    assert day_wise.count() == 188
    lo, hi = day_wise.agg(F.min("date"), F.max("date")).first()
    assert str(lo) == "2020-01-22" and str(hi) == "2020-07-27"
    assert day_wise.filter(F.col("date").isNull()).count() == 0


def test_complete_null_pathology(complete):
    # The exact NA counts the wrangling tier exists to repair
    # (SURVEY.md §1.1): proof the 'NA' nullValue + schema ingest sees
    # the same nulls pandas does.
    assert complete.count() == 49256
    counts = complete.select(
        *[
            F.sum(F.col(c).isNull().cast("long")).alias(c)
            for c in ("confirmed", "deaths", "recovered", "active")
        ]
    ).first()
    assert (counts.confirmed, counts.deaths, counts.recovered, counts.active) == (
        10093,
        20224,
        16710,
        14185,
    )


def test_clean_complete_real_data_all_countries(complete):
    out = clean_complete(complete).cache()
    # Every surviving row is fully repaired.
    nulls = out.select(
        *[
            F.sum(F.col(c).isNull().cast("long")).alias(c)
            for c in ("confirmed", "deaths", "recovered", "active")
        ]
    ).first()
    assert tuple(nulls) == (0, 0, 0, 0)
    # All 187 countries survive the pipeline.
    assert out.select("country_region").distinct().count() == 187
    out.unpersist()


def test_clean_complete_netherlands_matches_golden(complete):
    """Differential test on real bytes: Spark pipeline vs the pure-
    Python golden model of process_country_complete, row for row.
    """
    spark_rows = {
        str(r.date): (
            float(r.confirmed),
            float(r.active),
            float(r.deaths),
            float(r.recovered),
        )
        for r in clean_complete(
            complete.filter(F.col("country_region") == "Netherlands")
        ).collect()
    }
    raw = (
        complete.filter(F.col("country_region") == "Netherlands")
        .select("date", "confirmed", "active", "deaths", "recovered")
        .collect()
    )
    golden = clean_country(
        [
            {
                "date": str(r.date),
                "confirmed": r.confirmed,
                "active": r.active,
                "deaths": r.deaths,
                "recovered": r.recovered,
            }
            for r in raw
        ]
    )
    golden_rows = {
        g["date"]: (g["confirmed"], g["active"], g["deaths"], g["recovered"])
        for g in golden
    }
    assert set(spark_rows) == set(golden_rows)
    for d, vals in golden_rows.items():
        got = spark_rows[d]
        for a, b in zip(got, vals):
            assert abs(a - b) <= 1e-6 * max(1.0, abs(b)), (d, got, vals)
