"""Simulation tier (SURVEY.md §2.10): the SIRD epidemic Euler
integration — the reference's only genuinely sequential computation
(day t+1 depends on day t; main.py:108-147, 180-215, 629-726), and
therefore the engine's one sanctioned use of ``applyInPandas``.

Scale model: the recurrence is sequential **in time**, not across
keys. Partitioning by country runs every country's integration in
parallel (Arrow-batched, one tight Python loop per group of ~hundreds
of rows); a 1000-executor cluster integrates a million keys
concurrently. The reference runs one country in one interpreter.

Update equations, Euler step Δt = 1 day (main.py:121-129 / 736-744):

    ΔS = α·R − β·S·I/N        ΔI = β·S·I/N − (μ+γ)·I
    ΔR = γ·I − α·R            ΔD = μ·I

The constant-parameter variant (X1) also gets a *DuckDB oracle*: the
same recurrence as a recursive CTE with all literals cast to double so
both engines execute the identical IEEE expression tree step by step.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from covid_engineering_spark.functions import dsum
from covid_engineering_spark.operators.covid import sird_estimators
from covid_engineering_spark.sources import read_table

#: X1 constant parameter set — the reference's CDC-derived params1
#: (main.py:55-60).
ALPHA, BETA, GAMMA, MU = 0.0111, 0.25, 0.1, 0.002
N_POP = 10000000.0

SIM_SCHEMA = "country long, t int, s double, i double, r double, d double"


def euler_sird(
    i0: float,
    r0: float,
    d0: float,
    n: float,
    steps: int,
    alpha,
    beta,
    mu,
    gamma: float,
) -> list[tuple[int, float, float, float, float]]:
    """One SIRD integration; ``alpha``/``beta``/``mu`` may be floats
    (X1) or sequences indexed by step (X2, main.py:735-744). Plain
    Python floats keep the arithmetic bit-identical to the SQL oracle.
    """

    def at(p, t):
        return p[t] if isinstance(p, (list, tuple)) else p

    s = n - i0 - r0 - d0
    out = [(0, s, i0, r0, d0)]
    st, it, rt, dt = s, i0, r0, d0
    for t in range(steps):
        a, b, m = at(alpha, t), at(beta, t), at(mu, t)
        ds = a * rt - b * st * it / n
        di = b * st * it / n - (m + gamma) * it
        dr = gamma * it - a * rt
        dd = m * it
        st, it, rt, dt = st + ds, it + di, rt + dr, dt + dd
        out.append((t + 1, st, it, rt, dt))
    return out


def _daily_series(
    spark: SparkSession, sf_dir: str, drop_null_entity: bool = False
) -> DataFrame:
    """Deterministic per-(country,day) series from events: 7 synthetic
    countries, exact decimal-summed daily values (shared by the Spark
    side and, expression-for-expression, the SQL oracle).

    ``drop_null_entity=True`` excludes events whose ``user_id`` is
    NULL — an unattributable event belongs to no country, and a NULL
    entity group reaching the grouped-map SIRD kernel is a NaN key the
    recurrence cannot integrate (found by the adversarial NULL-key
    sweep). x1/x3 pass True (their oracles carry the matching WHERE);
    x2 keeps the unfiltered frame — its parameter/simulation countries
    are pinned to 0 and 1, so a NULL group can never reach its kernel
    and its registered plan stays byte-identical.
    """
    ev = read_table(spark, sf_dir, "events")
    if drop_null_entity:
        ev = ev.filter(F.col("user_id").isNotNull())
    return ev.groupBy(
        (F.col("user_id") % 7).alias("country"), F.to_date("ts").alias("day")
    ).agg(dsum("value").alias("val"))


def q_x1_sird_sim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1 — constant-parameter SIRD integration per country
    (main.py:108-147): initial infected = first day's value, R0=D0=0,
    steps = n_days − 1. Grouped-map pandas kernel, one group per
    country; oracle = recursive CTE running the identical recurrence.
    """
    return _x1_from_daily(_daily_series(spark, sf_dir, drop_null_entity=True))


def _x1_from_daily(daily: DataFrame) -> DataFrame:
    """X1 kernel over an already-built daily series — lets composites
    (x3) reuse one aggregation instead of re-scanning events."""

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("day")
        country = int(pdf["country"].iloc[0])
        i0 = float(pdf["val"].iloc[0])
        rows = euler_sird(
            i0, 0.0, 0.0, N_POP, len(pdf) - 1, ALPHA, BETA, MU, GAMMA
        )
        return pd.DataFrame(
            [(country, t, s, i, r, d) for (t, s, i, r, d) in rows],
            columns=["country", "t", "s", "i", "r", "d"],
        )

    return daily.groupBy("country").applyInPandas(kernel, SIM_SCHEMA)


def q_x2_sird_transfer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2 — time-varying-parameter simulation with cross-key transfer
    (test_SIR_Model, main.py:629-726): parameters estimated from
    country 0's series drive a simulation of country 1, eps-guarded
    exactly like estimates_country_complete (main.py:536-556).

    The param series and the sim spine are joined by step index before
    a single grouped kernel runs the recurrence — the reference's
    "params from A, initial conditions from B" as a join + grouped map.
    """
    from covid_engineering_spark.functions import evicting_cache

    daily = evicting_cache(_daily_series(spark, sf_dir), "daily_series")

    # Parameter country: *cumulative* (i, r, d) proxies — the
    # reference's series are cumulative counts, and cumulative input
    # keeps the daily-rate estimators finite (the reference itself
    # documents parameter blow-ups on noisy input, README.md:134).
    from pyspark.sql import Window

    w = Window.orderBy("day")
    wc = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum = F.sum(F.col("val").cast("decimal(18,6)")).over(wc).cast("double")
    a = daily.filter(F.col("country") == 0).select(
        "day",
        cum.alias("i"),
        (cum / 3.0).alias("r"),
        (cum / 10.0).alias("d"),
    )
    a = a.select(
        "day",
        "i",
        (F.col("d") - F.lag("d").over(w)).alias("dd"),
        (F.col("r") - F.lag("r").over(w)).alias("dr"),
        (F.col("i") - F.lag("i").over(w)).alias("di"),
    ).filter(F.col("dd").isNotNull())
    mu_t, alpha_t, beta_t = sird_estimators(
        F.col("i"),
        F.col("dd"),
        F.col("dr"),
        F.col("di"),
        F.lit(N_POP) - F.col("i"),
        GAMMA,
    )
    params = a.select(
        (F.row_number().over(w) - 1).alias("t"),
        mu_t.alias("mu_t"),
        alpha_t.alias("alpha_t"),
        beta_t.alias("beta_t"),
    )

    # Simulation country: spine with step index.
    spine = (
        daily.filter(F.col("country") == 1)
        .select("day", "val")
        .withColumn("t", F.row_number().over(Window.orderBy("day")) - 1)
    )
    joined = spine.join(params, "t", "left").withColumn(
        "pair", F.lit(1)
    )

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("t")
        usable = pdf[pdf["alpha_t"].notna()]
        # reference: n_steps = min(n_alpha, n_actual - 1) (main.py:664)
        steps = min(len(usable), len(pdf) - 1)
        usable = usable.iloc[:steps]
        i0 = float(pdf["val"].iloc[0])
        rows = euler_sird(
            i0,
            0.0,
            0.0,
            N_POP,
            steps,
            list(usable["alpha_t"]),
            list(usable["beta_t"]),
            list(usable["mu_t"]),
            GAMMA,
        )
        return pd.DataFrame(
            [(1, t, s, i, r, d) for (t, s, i, r, d) in rows],
            columns=["country", "t", "s", "i", "r", "d"],
        )

    return joined.groupBy("pair").applyInPandas(kernel, SIM_SCHEMA)


def q_x3_sird_mse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1+A9 — per-country MSE between simulated infections and the
    actual daily series (sir_model_MSE_values, main.py:108-147):
    simulate, join back on (country, step), aggregate squared error.
    """
    from covid_engineering_spark.functions import evicting_cache

    daily = evicting_cache(
        _daily_series(spark, sf_dir, drop_null_entity=True),
        "daily_series:drop_null_entity",
    )
    from pyspark.sql import Window

    actual = daily.withColumn(
        "t",
        F.row_number().over(Window.partitionBy("country").orderBy("day")) - 1,
    )
    sim = _x1_from_daily(daily)  # one events scan+agg shared by both arms
    # err from the 6dp-QUANTIZED i — exactly the values the x1 oracle
    # hash-verifies — not the raw double: the square amplifies any
    # final-bit float divergence between the two engines' Euler
    # recurrences by 2·err (~1e6 here), which at sf0.1 pushed one
    # country's mean onto a 4dp rounding knife-edge. Quantizing first
    # makes x3 bit-consistent wherever x1 is.
    err = F.round(F.col("i"), 6) - F.col("val")
    # Final round at 2dp, not 4: the MSE magnitudes here reach ~1e11,
    # where a double's ulp (~1.5e-5) already swallows the 4th decimal
    # and DuckDB's ROUND(x, 4) — which scales by 10^4 before rounding —
    # leaves exact-integer double range and misrounds (found by the
    # sf0.1 sweep: one country landed one ulp apart). At 2dp the
    # scaled value stays well inside 2^53 in both engines.
    return (
        sim.join(actual, ["country", "t"])
        .groupBy("country")
        .agg(
            F.round(
                F.sum((err * err).cast("decimal(38,6)")).cast("double")
                / F.count("*"),
                2,
            ).alias("mse_i")
        )
    )


QUERIES = {
    "x1_sird_sim": q_x1_sird_sim,
    "x2_sird_transfer": q_x2_sird_transfer,
    "x3_sird_mse": q_x3_sird_mse,
}

_DAILY_SQL = """
    daily AS (
        SELECT user_id % 7 AS country, CAST(ts AS DATE) AS day,
               ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 2) AS val
        FROM events WHERE user_id IS NOT NULL GROUP BY 1, 2
    ),
    ranked AS (
        SELECT country, val,
               ROW_NUMBER() OVER (PARTITION BY country ORDER BY day) AS rn,
               COUNT(*) OVER (PARTITION BY country) AS n_days
        FROM daily
    ),
    init AS (
        SELECT country, val AS i0, CAST(n_days - 1 AS INTEGER) AS steps
        FROM ranked WHERE rn = 1
    ),
    p AS (
        SELECT CAST(0.0111 AS DOUBLE) AS alpha, CAST(0.25 AS DOUBLE) AS beta,
               CAST(0.1 AS DOUBLE) AS gamma, CAST(0.002 AS DOUBLE) AS mu,
               CAST(10000000.0 AS DOUBLE) AS n
    ),
    rec AS (
        SELECT country, 0 AS t,
               n - i0 AS s, i0 AS i,
               CAST(0.0 AS DOUBLE) AS r, CAST(0.0 AS DOUBLE) AS d,
               steps, alpha, beta, gamma, mu, n
        FROM init CROSS JOIN p
        UNION ALL
        SELECT country, t + 1,
               s + (alpha * r - beta * s * i / n),
               i + (beta * s * i / n - (mu + gamma) * i),
               r + (gamma * i - alpha * r),
               d + (mu * i),
               steps, alpha, beta, gamma, mu, n
        FROM rec WHERE t < steps
    )
"""

#: X2 twin: the same param-estimation expressions as the Spark side
#: (cumulative decimal window, lag diffs, eps-guarded ratios), then the
#: Euler recursion consuming params positionally via a join on step t.
_X2_SQL = f"""
    WITH RECURSIVE daily AS (
        SELECT user_id % 7 AS country, CAST(ts AS DATE) AS day,
               ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 2) AS val
        FROM events GROUP BY 1, 2
    ),
    a0 AS (
        SELECT day,
               CAST(SUM(CAST(val AS DECIMAL(18,6))) OVER (
                   ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS DOUBLE) AS i
        FROM daily WHERE country = 0
    ),
    a1 AS (
        SELECT day, i,
               (i / 10.0) - LAG(i / 10.0) OVER (ORDER BY day) AS dd,
               (i / 3.0) - LAG(i / 3.0) OVER (ORDER BY day) AS dr,
               i - LAG(i) OVER (ORDER BY day) AS di
        FROM a0
    ),
    param AS (
        SELECT ROW_NUMBER() OVER (ORDER BY day) - 1 AS t,
               dd / GREATEST(i, 0.00001) AS mu_t,
               (0.1 * i - dr) / GREATEST(dr, 0.00001) AS alpha_t,
               (di / GREATEST(i, 1.0) + (dd / GREATEST(i, 0.00001)) + 0.1)
                   / GREATEST(10000000.0 - i, 0.00001) AS beta_t
        FROM a1 WHERE dd IS NOT NULL
    ),
    spine AS (
        SELECT val, ROW_NUMBER() OVER (ORDER BY day) - 1 AS t
        FROM daily WHERE country = 1
    ),
    lims AS (
        SELECT CAST(LEAST((SELECT COUNT(*) FROM param),
                          (SELECT COUNT(*) FROM spine) - 1) AS INTEGER) AS n_steps
    ),
    rec AS (
        SELECT 0 AS t,
               10000000.0 - (SELECT val FROM spine WHERE t = 0) AS s,
               (SELECT val FROM spine WHERE t = 0) AS i,
               CAST(0.0 AS DOUBLE) AS r, CAST(0.0 AS DOUBLE) AS d
        UNION ALL
        SELECT rec.t + 1,
               s + (p.alpha_t * r - p.beta_t * s * i / 10000000.0),
               i + (p.beta_t * s * i / 10000000.0 - (p.mu_t + 0.1) * i),
               r + (0.1 * i - p.alpha_t * r),
               d + (p.mu_t * i)
        FROM rec JOIN param p ON p.t = rec.t CROSS JOIN lims
        WHERE rec.t < lims.n_steps
    )
    SELECT CAST(1 AS BIGINT) AS country, t, s, i, r, d FROM rec
"""

ORACLES = {
    "x2_sird_transfer": _X2_SQL,
    "x1_sird_sim": f"""
        WITH RECURSIVE {_DAILY_SQL}
        SELECT country, t, s, i, r, d FROM rec
    """,
    "x3_sird_mse": f"""
        WITH RECURSIVE {_DAILY_SQL},
        actual AS (
            SELECT country, val,
                   CAST(ROW_NUMBER() OVER (PARTITION BY country ORDER BY day) - 1
                        AS INTEGER) AS t
            FROM daily
        )
        SELECT rec.country,
               ROUND(CAST(SUM(CAST((ROUND(i, 6) - val) * (ROUND(i, 6) - val)
                              AS DECIMAL(38,6))) AS DOUBLE)
                     / COUNT(*), 2) AS mse_i
        FROM rec JOIN actual ON rec.country = actual.country AND rec.t = actual.t
        GROUP BY rec.country
    """,
}
