"""COVID-domain composite pipelines on the reference's own tables
(SURVEY.md §2.9 M3/M4): time-varying SIRD parameter estimation and the
R₀ trajectory, generalized from the reference's one-country-at-a-time
loop to every country in a single window pass.

Reference semantics reproduced exactly (estimates_country_complete,
main.py:536-556): population is a scalar per country (worldometer
lookup main.py:539 — here a broadcast equi-join, J1); Δ-series are
row-position diffs over the *cleaned* per-country frame; γ = 1/4.5;
eps = 1e-5 division guards via np.maximum ≡ GREATEST:

    S_t = N − (Active + Recovered + Deaths)
    μ_t = ΔD / max(Active, eps)
    α_t = (γ·Active − ΔR) / max(ΔR, eps)
    β_t = (ΔActive / max(Active, 1) + μ_t + γ) / max(S_t, eps)
    R0_t = β_t / γ

The first row per country (null diffs) is dropped, mirroring
``.iloc[1:]`` (main.py:550-552).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

GAMMA = 1 / 4.5  # main.py:546
EPS = 0.00001  # main.py:549


def sird_estimators(level, d_deaths, d_recovered, d_level, s_t, gamma: float):
    """The reference's eps-guarded (μₜ, αₜ, βₜ) columns (main.py:536-556)
    from the infected level, its three daily deltas (deaths, recovered,
    level) and the susceptible count, at recovery rate ``gamma``."""
    mu_t = d_deaths / F.greatest(level, F.lit(EPS))
    alpha_t = (gamma * level - d_recovered) / F.greatest(d_recovered, F.lit(EPS))
    beta_t = (
        d_level / F.greatest(level, F.lit(1.0)) + mu_t + F.lit(gamma)
    ) / F.greatest(s_t, F.lit(EPS))
    return mu_t, alpha_t, beta_t


def estimate_params(cleaned: DataFrame, population: DataFrame) -> DataFrame:
    """Per-(country, date) μₜ/αₜ/βₜ/R₀ₜ series for every country at
    once. ``cleaned`` is clean_complete() output; ``population`` is a
    (country_region, population) dimension — tiny, so it broadcasts
    and the fact side never shuffles for the join (the only exchange
    is the per-country window sort).
    """
    w = Window.partitionBy("country_region").orderBy("date")
    df = cleaned.join(F.broadcast(population), "country_region")
    diffs = {
        c: (F.col(c) - F.lag(c).over(w)).alias(f"{c}_change")
        for c in ("confirmed", "active", "deaths", "recovered")
    }
    df = df.select("*", *diffs.values())
    s_t = F.col("population") - (
        F.col("active") + F.col("recovered") + F.col("deaths")
    )
    mu_t, alpha_t, beta_t = sird_estimators(
        F.col("active"),
        F.col("deaths_change"),
        F.col("recovered_change"),
        F.col("active_change"),
        s_t,
        GAMMA,
    )
    return (
        df.select(
            "country_region",
            "date",
            s_t.alias("s_t"),
            mu_t.alias("mu_t"),
            alpha_t.alias("alpha_t"),
            beta_t.alias("beta_t"),
            (beta_t / F.lit(GAMMA)).alias("r0_t"),
        )
        # mirror iloc[1:]: the diff of each country's first row is null
        .filter(F.col("mu_t").isNotNull())
    )


def r0_trajectory(cleaned: DataFrame, population: DataFrame) -> DataFrame:
    """M4 (main.py:319-331 / the R₀ dashboard page): the per-country
    (date, R₀ₜ) series alone."""
    return estimate_params(cleaned, population).select(
        "country_region", "date", "r0_t"
    )


def country_fractions(
    day_wise: DataFrame,
    population: DataFrame,
    start_date: str,
    end_date: str,
) -> DataFrame:
    """plot_totals_for_country's data pipeline (main.py:248-267),
    generalized: date-range filter on the daily global series, running
    totals of active/deaths/recovered *within the filtered window*
    (the reference cumsums after slicing — semantics preserved), and
    per-country fractions via a broadcast population join instead of a
    scalar lookup. One row per (country, date); the reference's
    one-country figure is a filter away.

    The reference's day_wise is ONE global series, so the cumsum is
    one single-partition window — semantically forced, and bounded by
    the series' day count.
    """
    filtered = day_wise.filter(F.col("date").between(start_date, end_date))
    w = Window.orderBy("date").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    totals = filtered.select(
        "date",
        *[
            F.sum(F.col(c).cast("decimal(18,6)")).over(w).cast("double").alias(f"{c}_total")
            for c in ("active", "deaths", "recovered")
        ],
    )
    pop = F.broadcast(population.select("country_region", "population"))
    # every country's fraction of the same global totals: a cross with
    # the tiny dim
    return totals.crossJoin(pop).select(
        "country_region",
        "date",
        *[
            (F.col(f"{c}_total") / F.col("population")).alias(f"{c}_fraction")
            for c in ("active", "deaths", "recovered")
        ],
    )


PAIRS_SCHEMA = (
    "param_country string, sim_country string, "
    "t int, date date, s double, i double, r double, d double"
)


def transfer_simulation_pairs(
    cleaned: DataFrame,
    population: DataFrame,
    pairs: DataFrame,
) -> DataFrame:
    """All (param_country → sim_country) transfer simulations in ONE
    job: ``pairs`` is a (param_country, sim_country) frame — up to the
    full countries×countries cross — and each pair becomes one group
    of a single grouped-map kernel, so a 1000-executor cluster
    integrates every pair concurrently. Per-pair semantics are
    documented on :func:`transfer_simulation`.

    Shape: per-country params are estimated once (one window pass),
    joined to the pairs dimension on the param side; actual series
    join on the sim side with the sim population attached; the union
    shuffles once on the pair key.
    """
    import pandas as pd

    from covid_engineering_spark.operators.simulation import euler_sird

    w = Window.partitionBy("country_region").orderBy("date")
    params = (
        estimate_params(cleaned, population)
        .select(
            F.col("country_region").alias("param_country"),
            (F.row_number().over(w) - 1).alias("t"),
            "alpha_t",
            "beta_t",
            "mu_t",
        )
        .join(F.broadcast(pairs), "param_country")
        .withColumn("kind", F.lit("param"))
    )
    actual = (
        cleaned.select(
            F.col("country_region").alias("sim_country"),
            "date",
            "active",
            "recovered",
            "deaths",
        )
        .join(F.broadcast(pairs), "sim_country")
        .join(
            F.broadcast(
                population.select(
                    F.col("country_region").alias("sim_country"),
                    F.col("population").alias("n_pop"),
                )
            ),
            "sim_country",
        )
        .withColumn("kind", F.lit("actual"))
    )
    tagged = params.unionByName(actual, allowMissingColumns=True)

    # fully-annotated signature: a partially-hinted (key, pdf) makes
    # pyspark emit an eval-type inference warning on every import
    def kernel(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        param_c, sim_c = key
        p = pdf[pdf["kind"] == "param"].sort_values("t")
        a = pdf[pdf["kind"] == "actual"].sort_values("date").reset_index(drop=True)
        if not len(a) or not len(p):
            return pd.DataFrame(
                columns=["param_country", "sim_country", "t", "date", "s", "i", "r", "d"]
            )
        n_pop = float(a["n_pop"].iloc[0])
        n_steps = int(min(len(p), len(a) - 1))
        a = a.iloc[-(n_steps + 1) :].reset_index(drop=True)
        init = a.iloc[0]
        rows = euler_sird(
            float(init["active"]),
            float(init["recovered"]),
            float(init["deaths"]),
            n_pop,
            n_steps,
            list(p["alpha_t"].iloc[:n_steps]),
            list(p["beta_t"].iloc[:n_steps]),
            list(p["mu_t"].iloc[:n_steps]),
            GAMMA,
        )
        return pd.DataFrame(
            [
                (param_c, sim_c, t, a["date"].iloc[t], s, i, r, d)
                for (t, s, i, r, d) in rows
            ],
            columns=["param_country", "sim_country", "t", "date", "s", "i", "r", "d"],
        )

    return tagged.groupBy("param_country", "sim_country").applyInPandas(
        kernel, PAIRS_SCHEMA
    )


def transfer_simulation(
    cleaned: DataFrame,
    population: DataFrame,
    param_country: str,
    sim_country: str,
) -> DataFrame:
    """X2 on the real data model (test_SIR_Model, main.py:629-726):
    estimate daily (αₜ, βₜ, μₜ) from ``param_country``, then integrate
    ``sim_country``'s epidemic with those parameters from its own
    initial conditions.

    Reference wiring reproduced: n_steps = min(len(params),
    len(actual) − 1); the actual series is tail-sliced to n_steps+1
    rows (main.py:649-652, the W5 slice); params are consumed by
    position from the START of the param series (``iloc[t]``,
    main.py:670-672), not date-aligned; N = sim country's population.

    Runs :func:`transfer_simulation_pairs` on the one (param, sim)
    pair, so the sequential-in-time Euler loop runs executor-side in
    one grouped-map kernel and nothing is collected to the driver.
    A missing or empty country on either side yields an EMPTY result
    frame rather than an executor-side IndexError.
    """
    pairs = cleaned.sparkSession.createDataFrame(
        [(param_country, sim_country)],
        "param_country string, sim_country string",
    )
    return transfer_simulation_pairs(cleaned, population, pairs).select(
        "t", "date", "s", "i", "r", "d"
    )


# ---------------------------------------------------------------------------
# Driver-checkable registry entries. The real-data forms of these
# composites run in pytest against the reference CSVs
# (tests/test_covid_estimators.py); the entries below run the SAME
# engine code paths over the synthetic dirty frame built from the
# driver's star schema, so the verification driver can hash-compare
# them against full SQL twins (M3/M4 estimator: main.py:536-556; the
# transfer simulation: main.py:629-726).
# ---------------------------------------------------------------------------


def synthetic_population(spark: SparkSession) -> DataFrame:
    """Deterministic population dimension for the 7 synthetic countries
    of wrangling._synthetic_complete (C0..C6): 1M, 2M, ... 7M."""
    rows = [(f"C{i}", 1000000.0 * (i + 1)) for i in range(7)]
    return spark.createDataFrame(
        rows, "country_region string, population double"
    )


def q_covid_param_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M3+M4 on the cleaned synthetic frame: the full cleaning pipeline
    feeds estimate_params, so the driver's hash covers wrangle →
    broadcast population join → per-country window diffs → eps-guarded
    estimator expressions end to end.
    """
    from covid_engineering_spark.operators.wrangling import cleaned_complete

    cleaned = cleaned_complete(spark, sf_dir)
    return estimate_params(cleaned, synthetic_population(spark))


#: Transfer-sim window: first K dates per country. The synthetic daily
#: series is not cumulative, so over a long horizon the eps-guarded
#: estimators hit ΔR <= 0 days and Euler overflows to ±inf (the
#: reference documents exactly this blow-up mode, README.md:134); a
#: cumulative rebase + short horizon keeps every step finite in BOTH
#: engines so the driver's value hash is meaningful.
TRANSFER_WINDOW = 10


def _cumulative_series(cleaned: DataFrame) -> DataFrame:
    """First-k-dates cumulative rebase of a cleaned frame: per-country
    decimal running sums of each compartment (order-independent, exact)
    — the monotone shape of the reference's real cumulative counts.
    """
    w = Window.partitionBy("country_region").orderBy("date")
    wc = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    lim = (
        cleaned.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= TRANSFER_WINDOW)
        .drop("_rn")
    )
    return lim.select(
        "country_region",
        "date",
        *[
            F.sum(F.col(c).cast("decimal(28,6)")).over(wc).cast("double").alias(c)
            for c in ("confirmed", "active", "deaths", "recovered")
        ],
    )


def q_covid_transfer_sim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2 on the real data model (transfer_simulation_pairs): two
    (param → sim) country pairs integrated in one grouped-map job over
    the cleaned-then-cumulated synthetic frame. The oracle replays the
    identical param estimation and Euler recurrence as a recursive CTE.
    """
    from covid_engineering_spark.operators.wrangling import cleaned_complete

    series = _cumulative_series(cleaned_complete(spark, sf_dir))
    pairs = spark.createDataFrame(
        [("C0", "C1"), ("C2", "C3")],
        "param_country string, sim_country string",
    )
    return transfer_simulation_pairs(
        series, synthetic_population(spark), pairs
    )


def _oracle_sql() -> dict[str, str]:
    """SQL twins, built lazily so the wrangling module's cleaned-frame
    CTE is reused verbatim (any drift in the cleaning oracle would
    desynchronize these too — single source of truth)."""
    from covid_engineering_spark.operators.wrangling import _WRANGLE_SQL

    # estimate_params mirrored expression for expression. GAMMA is the
    # Python double 1/4.5 == SQL (1.0/4.5); EPS 1e-5 == 0.00001.
    head_cte = f"""
    cleaned AS ({_WRANGLE_SQL}),
    pop AS (
        SELECT 'C' || i AS country_region, 1000000.0 * (i + 1) AS population
        FROM range(7) t(i)
    )"""

    def est_cte(src: str) -> str:
        return f"""
    jp AS (
        SELECT c.country_region, c.date, c.confirmed, c.active,
               c.deaths, c.recovered, p.population
        FROM {src} c JOIN pop p USING (country_region)
    ),
    dif AS (
        SELECT *,
               confirmed - LAG(confirmed) OVER w AS confirmed_change,
               active - LAG(active) OVER w AS active_change,
               deaths - LAG(deaths) OVER w AS deaths_change,
               recovered - LAG(recovered) OVER w AS recovered_change
        FROM jp WINDOW w AS (PARTITION BY country_region ORDER BY date)
    ),
    est AS (
        SELECT country_region, date,
               population - (active + recovered + deaths) AS s_t,
               deaths_change / GREATEST(active, 0.00001) AS mu_t,
               ((1.0/4.5) * active - recovered_change)
                   / GREATEST(recovered_change, 0.00001) AS alpha_t,
               (active_change / GREATEST(active, 1.0)
                + deaths_change / GREATEST(active, 0.00001)
                + (1.0/4.5))
               / GREATEST(population - (active + recovered + deaths), 0.00001)
                   AS beta_t
        FROM dif WHERE deaths_change IS NOT NULL
    )"""

    param_series = f"""
        WITH {head_cte},
        {est_cte('cleaned')}
        SELECT country_region, date, s_t, mu_t, alpha_t, beta_t,
               beta_t / (1.0/4.5) AS r0_t
        FROM est
    """

    # The transfer sim reads the cumulative rebase (_cumulative_series):
    # first TRANSFER_WINDOW dates per country, decimal running sums.
    cum_cte = f"""
        lim AS (
            SELECT country_region, date, confirmed, active, deaths, recovered
            FROM (
                SELECT c.*, ROW_NUMBER() OVER (PARTITION BY country_region
                                               ORDER BY date) AS _rn
                FROM cleaned c
            ) WHERE _rn <= {TRANSFER_WINDOW}
        ),
        cum AS (
            SELECT country_region, date,
                   CAST(SUM(CAST(confirmed AS DECIMAL(28,6))) OVER wcum AS DOUBLE) AS confirmed,
                   CAST(SUM(CAST(active AS DECIMAL(28,6))) OVER wcum AS DOUBLE) AS active,
                   CAST(SUM(CAST(deaths AS DECIMAL(28,6))) OVER wcum AS DOUBLE) AS deaths,
                   CAST(SUM(CAST(recovered AS DECIMAL(28,6))) OVER wcum AS DOUBLE) AS recovered
            FROM lim
            WINDOW wcum AS (PARTITION BY country_region ORDER BY date
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        )"""

    # transfer_simulation_pairs: params consumed positionally from the
    # start of the param series; actual series tail-sliced to
    # n_steps+1 rows (the W5 slice, main.py:649-652); Euler update
    # term-for-term identical to euler_sird.
    transfer = f"""
        WITH RECURSIVE {head_cte},
        {cum_cte},
        {est_cte('cum')},
        pairs AS (
            SELECT 'C0' AS param_country, 'C1' AS sim_country
            UNION ALL
            SELECT 'C2', 'C3'
        ),
        params AS (
            SELECT country_region AS param_country,
                   ROW_NUMBER() OVER (PARTITION BY country_region
                                      ORDER BY date) - 1 AS t,
                   alpha_t, beta_t, mu_t
            FROM est
        ),
        pparams AS (
            SELECT pr.param_country, pr.sim_country,
                   p.t, p.alpha_t, p.beta_t, p.mu_t
            FROM pairs pr JOIN params p USING (param_country)
        ),
        actual AS (
            SELECT pr.param_country, pr.sim_country, c.date,
                   c.active, c.recovered, c.deaths, pp.population AS n_pop,
                   ROW_NUMBER() OVER (PARTITION BY pr.param_country, pr.sim_country
                                      ORDER BY c.date) - 1 AS rn,
                   COUNT(*) OVER (PARTITION BY pr.param_country, pr.sim_country)
                       AS n_a
            FROM pairs pr
            JOIN cum c ON c.country_region = pr.sim_country
            JOIN pop pp ON pp.country_region = pr.sim_country
        ),
        pcount AS (
            SELECT param_country, COUNT(*) AS n_p FROM params GROUP BY 1
        ),
        lims AS (
            SELECT a.param_country, a.sim_country, a.n_a,
                   CAST(LEAST(pc.n_p, a.n_a - 1) AS INTEGER) AS n_steps
            FROM (SELECT DISTINCT param_country, sim_country, n_a FROM actual) a
            JOIN pcount pc USING (param_country)
        ),
        init AS (
            SELECT a.param_country, a.sim_country,
                   a.active AS i0, a.recovered AS r0, a.deaths AS d0,
                   a.n_pop, l.n_steps,
                   l.n_a - (l.n_steps + 1) AS off
            FROM actual a
            JOIN lims l USING (param_country, sim_country)
            WHERE a.rn = l.n_a - (l.n_steps + 1)
        ),
        rec AS (
            SELECT param_country, sim_country, 0 AS t,
                   n_pop - i0 - r0 - d0 AS s, i0 AS i, r0 AS r, d0 AS d,
                   n_pop, n_steps, off
            FROM init
            UNION ALL
            SELECT rec.param_country, rec.sim_country, rec.t + 1,
                   s + (p.alpha_t * r - p.beta_t * s * i / n_pop),
                   i + (p.beta_t * s * i / n_pop - (p.mu_t + (1.0/4.5)) * i),
                   r + ((1.0/4.5) * i - p.alpha_t * r),
                   d + (p.mu_t * i),
                   n_pop, n_steps, off
            FROM rec
            JOIN pparams p ON p.param_country = rec.param_country
                          AND p.sim_country = rec.sim_country
                          AND p.t = rec.t
            WHERE rec.t < rec.n_steps
        )
        SELECT r.param_country, r.sim_country, CAST(r.t AS INTEGER) AS t,
               a.date, r.s, r.i, r.r, r.d
        FROM rec r
        JOIN actual a ON a.param_country = r.param_country
                     AND a.sim_country = r.sim_country
                     AND a.rn = r.off + r.t
    """
    return {
        "covid_param_series": param_series,
        "covid_transfer_sim": transfer,
    }


#: Wave detection: centered smoothing half-width (±3 days = the
#: 7-day average every COVID dashboard plots) — peaks are flagged
#: only where the full window exists.
WAVE_HALF = 3


def wave_peaks(cleaned: DataFrame) -> DataFrame:
    """Epidemic-wave peak detection on the cleaned per-country series
    — the analysis every reference dashboard eyeballs off its
    matplotlib curves (main.py's per-country confirmed plots), made a
    first-class query: per country, the 7-day centered sum of
    confirmed cases and a flag marking strict local maxima of that
    smoothed series ("the wave peaked on date D").

    Exactness: the window sum rides DECIMAL(18,6) (order-independent,
    identical in both engines); peak comparisons happen on the exact
    decimals via lag/lead over the same per-country ordering, so the
    flags are deterministic — the reported double is rounded only at
    the output edge. Edge days without a full 7-day window are never
    flagged (n_win carried so the oracle replays the rule).

    Scale shape: one shuffle on country_region; three window passes
    (sum+count, lag, lead) reuse that single partitioning. State per
    partition is one country's date series.
    """
    w = (
        Window.partitionBy("country_region")
        .orderBy("date")
        .rowsBetween(-WAVE_HALF, WAVE_HALF)
    )
    seq = Window.partitionBy("country_region").orderBy("date")
    dec = F.col("confirmed").cast("decimal(18,6)")
    base = cleaned.select(
        "country_region",
        "date",
        F.sum(dec).over(w).alias("_ma"),
        F.count("*").over(w).alias("n_win"),
    )
    prev = F.lag("_ma").over(seq)
    nxt = F.lead("_ma").over(seq)
    prev_n = F.lag("n_win").over(seq)
    nxt_n = F.lead("n_win").over(seq)
    full = F.lit(2 * WAVE_HALF + 1)
    is_peak = (
        (F.col("n_win") == full)
        & (prev_n == full)
        & (nxt_n == full)
        & (F.col("_ma") > prev)
        & (F.col("_ma") > nxt)
    )
    return base.select(
        "country_region",
        "date",
        F.round(F.col("_ma").cast("double"), 4).alias("ma7_sum"),
        F.col("n_win").cast("long").alias("n_win"),
        F.coalesce(is_peak, F.lit(False)).alias("is_peak"),
    )


def q_covid_wave_peaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from covid_engineering_spark.operators.wrangling import cleaned_complete

    return wave_peaks(cleaned_complete(spark, sf_dir))


def _wave_oracle_sql() -> str:
    from covid_engineering_spark.operators.wrangling import _WRANGLE_SQL

    full = 2 * WAVE_HALF + 1
    return f"""
        WITH cleaned AS ({_WRANGLE_SQL}),
        base AS (
            SELECT country_region, date,
                   SUM(CAST(confirmed AS DECIMAL(18,6))) OVER w AS ma,
                   COUNT(*) OVER w AS n_win
            FROM cleaned
            WINDOW w AS (PARTITION BY country_region ORDER BY date
                         ROWS BETWEEN {WAVE_HALF} PRECEDING
                                  AND {WAVE_HALF} FOLLOWING)
        ),
        seq AS (
            SELECT country_region, date, ma, n_win,
                   LAG(ma) OVER s AS prev_ma,
                   LEAD(ma) OVER s AS next_ma,
                   LAG(n_win) OVER s AS prev_n,
                   LEAD(n_win) OVER s AS next_n
            FROM base
            WINDOW s AS (PARTITION BY country_region ORDER BY date)
        )
        SELECT country_region, date,
               ROUND(CAST(ma AS DOUBLE), 4) AS ma7_sum,
               CAST(n_win AS BIGINT) AS n_win,
               COALESCE(n_win = {full} AND prev_n = {full}
                        AND next_n = {full}
                        AND ma > prev_ma AND ma > next_ma,
                        FALSE) AS is_peak
        FROM seq
    """


QUERIES = {
    "covid_param_series": q_covid_param_series,
    "covid_transfer_sim": q_covid_transfer_sim,
    "covid_wave_peaks": q_covid_wave_peaks,
}

ORACLES = _oracle_sql()
ORACLES["covid_wave_peaks"] = _wave_oracle_sql()
