"""Real-data differential test of the SIRD parameter estimators: the
engine's all-countries window pipeline vs a pure-Python golden model of
estimates_country_complete (main.py:536-556), on the actual cleaned
Netherlands series from the reference's complete.csv.
"""

import math
import os

import pytest

from pyspark.sql import functions as F

from covid_engineering_spark import schemas
from covid_engineering_spark.operators.covid import EPS, GAMMA, estimate_params
from covid_engineering_spark.operators.wrangling import clean_complete
from covid_engineering_spark.sources import read_covid_csv

REF = "/root/reference"
N_NL = 17134872.0  # Netherlands population (worldometer is an LFS
# pointer in the snapshot; the dimension is supplied as a literal)

pytestmark = pytest.mark.skipif(
    not os.path.exists(f"{REF}/complete.csv"),
    reason="reference snapshot not mounted",
)


def golden_estimates(rows, n_pop, gamma=GAMMA, eps=EPS):
    """Pure-Python reimplementation of main.py:536-556 over a cleaned
    (date-sorted) series of dicts."""
    out = []
    prev = None
    for r in rows:
        if prev is not None:
            dD = r["deaths"] - prev["deaths"]
            dR = r["recovered"] - prev["recovered"]
            dA = r["active"] - prev["active"]
            s_t = n_pop - (r["active"] + r["recovered"] + r["deaths"])
            mu = dD / max(r["active"], eps)
            alpha = (gamma * r["active"] - dR) / max(dR, eps)
            beta = (dA / max(r["active"], 1.0) + mu + gamma) / max(s_t, eps)
            out.append(
                {
                    "date": r["date"],
                    "mu_t": mu,
                    "alpha_t": alpha,
                    "beta_t": beta,
                    "r0_t": beta / gamma,
                }
            )
        prev = r
    return out


def test_transfer_simulation_matches_golden(spark):
    """X2 on real data: Netherlands-estimated daily params drive a
    Belgium simulation (the reference's test_SIR_Model headline run,
    main.py:723 / README.md:117-140), checked against a pure-Python
    replay of the same recurrence.
    """
    from covid_engineering_spark.operators.covid import transfer_simulation
    from covid_engineering_spark.operators.simulation import euler_sird

    n_be = 11589623.0
    complete = read_covid_csv(
        spark, f"{REF}/complete.csv", schemas.COMPLETE, schemas.COMPLETE_RENAMES
    )
    cleaned = clean_complete(complete).cache()
    pop = spark.createDataFrame(
        [("Netherlands", N_NL), ("Belgium", n_be)],
        "country_region string, population double",
    )
    got = {
        r.t: (r.s, r.i, r.r, r.d)
        for r in transfer_simulation(cleaned, pop, "Netherlands", "Belgium").collect()
    }

    # golden: params from the NL golden estimator, Euler replay.
    nl = sorted(
        (
            {
                "date": str(r.date),
                "confirmed": float(r.confirmed),
                "active": float(r.active),
                "deaths": float(r.deaths),
                "recovered": float(r.recovered),
            }
            for r in cleaned.filter("country_region = 'Netherlands'").collect()
        ),
        key=lambda d: d["date"],
    )
    params = golden_estimates(nl, N_NL)
    be = sorted(
        (
            {
                "date": str(r.date),
                "active": float(r.active),
                "deaths": float(r.deaths),
                "recovered": float(r.recovered),
            }
            for r in cleaned.filter("country_region = 'Belgium'").collect()
        ),
        key=lambda d: d["date"],
    )
    n_steps = min(len(params), len(be) - 1)
    sl = be[-(n_steps + 1) :]
    rows = euler_sird(
        sl[0]["active"],
        sl[0]["recovered"],
        sl[0]["deaths"],
        n_be,
        n_steps,
        [p["alpha_t"] for p in params[:n_steps]],
        [p["beta_t"] for p in params[:n_steps]],
        [p["mu_t"] for p in params[:n_steps]],
        GAMMA,
    )
    assert len(got) == n_steps + 1
    # The reference's own estimator blows up mid-series (documented:
    # README.md:134 — eps-guarded ratios explode when daily deltas hit
    # zero); the golden replay goes inf/NaN at the same step, which
    # Arrow transports as null. Parity therefore means: identical
    # values on the finite prefix, non-finite at the same steps after.
    n_finite = 0
    for (t, s, i, r, d) in rows:
        gvals, wvals = got[t], (s, i, r, d)
        if all(math.isfinite(v) for v in wvals):
            n_finite += 1
            for a, b in zip(gvals, wvals):
                assert a is not None and (
                    a == b or abs(a - b) <= 1e-9 * max(1.0, abs(b))
                ), (t, a, b)
        else:
            for a, b in zip(gvals, wvals):
                assert a is None or not math.isfinite(a) or math.isfinite(b) is False or a == b, (t, a, b)
    assert n_finite >= 10  # a real finite prefix exists before blowup


def test_country_fractions_on_real_day_wise(spark):
    """plot_totals_for_country data pipeline on the real day_wise.csv:
    fractions equal the hand-computed cumulative / population, cumsum
    anchored INSIDE the date window exactly like the reference.
    """
    from covid_engineering_spark.operators.covid import country_fractions

    dw = read_covid_csv(
        spark, f"{REF}/day_wise.csv", schemas.DAY_WISE, schemas.DAY_WISE_RENAMES
    )
    pop = spark.createDataFrame(
        [("Netherlands", N_NL)], "country_region string, population double"
    )
    out = {
        str(r.date): (r.active_fraction, r.deaths_fraction, r.recovered_fraction)
        for r in country_fractions(dw, pop, "2020-03-01", "2020-03-31").collect()
    }
    rows = sorted(
        (str(r.date), r.active, r.deaths, r.recovered)
        for r in dw.filter(F.col("date").between("2020-03-01", "2020-03-31")).collect()
    )
    assert len(out) == len(rows) == 31
    ca = cd = cr = 0
    for d, a, dth, rec in rows:
        ca, cd, cr = ca + a, cd + dth, cr + rec
        fa, fd, fr = out[d]
        assert abs(fa - ca / N_NL) < 1e-12
        assert abs(fd - cd / N_NL) < 1e-12
        assert abs(fr - cr / N_NL) < 1e-12


def test_estimators_match_golden_on_real_netherlands(spark):
    complete = read_covid_csv(
        spark, f"{REF}/complete.csv", schemas.COMPLETE, schemas.COMPLETE_RENAMES
    )
    cleaned = clean_complete(complete, "Netherlands")
    pop = spark.createDataFrame(
        [("Netherlands", N_NL)], "country_region string, population double"
    )
    got = {
        str(r.date): (r.mu_t, r.alpha_t, r.beta_t, r.r0_t)
        for r in estimate_params(cleaned, pop).collect()
    }

    raw = sorted(
        (
            {
                "date": str(r.date),
                "confirmed": float(r.confirmed),
                "active": float(r.active),
                "deaths": float(r.deaths),
                "recovered": float(r.recovered),
            }
            for r in cleaned.collect()
        ),
        key=lambda d: d["date"],
    )
    want = golden_estimates(raw, N_NL)

    assert len(got) == len(want) > 100
    for g in want:
        m = got[g["date"]]
        for i, k in enumerate(("mu_t", "alpha_t", "beta_t", "r0_t")):
            assert math.isfinite(m[i])
            assert abs(m[i] - g[k]) <= 1e-9 * max(1.0, abs(g[k])), (g["date"], k)


def test_transfer_simulation_missing_country_returns_empty(spark):
    # ADVICE guard: an absent country must yield an empty frame, not a
    # driver TypeError (head() on nothing) or an executor IndexError.
    from covid_engineering_spark.operators.covid import (
        synthetic_population,
        transfer_simulation,
    )
    from covid_engineering_spark.operators.wrangling import (
        _synthetic_complete,
        clean_complete,
    )
    from tests.conftest import SF_SMOKE

    cleaned = clean_complete(_synthetic_complete(spark, SF_SMOKE))
    pop = synthetic_population(spark)
    assert transfer_simulation(cleaned, pop, "Nowhere", "C1").count() == 0
    assert transfer_simulation(cleaned, pop, "C0", "Nowhere").count() == 0
