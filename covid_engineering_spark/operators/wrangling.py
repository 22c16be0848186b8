"""Wrangling tier (SURVEY.md §2.5 W6, §2.8 F7, §7.1 step 5): gap-fill
interpolation, invariant imputation, and the full
``process_country_complete`` cleaning pipeline — the reference's
hardest operators, re-expressed as pure window/conditional expressions
(no Python row loops, no UDFs).

The reference implements interpolation as an O(n²) interpreted pandas
loop (``manual_interpolate_column``, main.py:392-419) and imputation as
row-wise ``DataFrame.apply`` (main.py:421-433, 481, 489). Here both are
whole-stage-codegen column expressions over one window shuffle,
evaluated for every partition key at once.

Interpolation semantics reproduced exactly (main.py:395-418):

* a null at the first row becomes 0 and then *acts as a real value*
  for later rows (the pandas loop mutates in place) — so a leading
  null run becomes a linear ramp from 0 to the first observation,
  anchored at row 1;
* interior null runs are linearly interpolated between the nearest
  non-null neighbors, weighted by *row position* (not by date);
* trailing null runs carry the last observation forward.

The in-place pandas loop fills a run iteratively (each null sees the
previously-filled cell as its left neighbor); in exact arithmetic that
telescopes to direct linear interpolation, which is what the window
form computes. Golden tests pin the equivalence numerically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from covid_engineering_spark.sources import read_table

# ---------------------------------------------------------------------------
# W6 — gap-fill linear interpolation
# ---------------------------------------------------------------------------


def with_interpolated(
    df: DataFrame,
    value_cols: list[str],
    partition_cols: list[str],
    order_cols: list[str],
    suffix: str = "_interp",
) -> DataFrame:
    """Attach ``<col><suffix>`` interpolated versions of each value
    column (the reference's ``df_interp`` reference frame, main.py:486).

    The row position is materialized first (window functions cannot
    nest), then previous/next non-null value and position come from
    four frame-bounded windows over the *same* window spec — Catalyst
    evaluates them in a single sort+window pass per value column, all
    partitions in parallel.

    Expressions ride ONE SQL string per output column: a Column-API
    chain costs ~15 py4j round-trips per window expression per value
    column, and the driver's plan-assembly time is a measurable slice
    of the query (guide §1.2 step 2 — the "task" here is the driver's
    build). The parsed trees are identical to the Column-API chain
    (same window specs, same coalesce/CASE structure, double literals
    cast explicitly), pinned by the golden
    reference tests.
    """
    over = "PARTITION BY {} ORDER BY {}".format(
        ", ".join(partition_cols), ", ".join(order_cols)
    )
    wp = f"{over} ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING"
    wn = f"{over} ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING"
    df = df.withColumn("_rn", F.expr(f"row_number() OVER ({over})"))
    for c in value_cols:
        prev_val = f"last({c}, true) OVER ({wp})"
        next_val = f"first({c}, true) OVER ({wn})"
        rn_if_valid = f"CASE WHEN {c} IS NOT NULL THEN _rn END"
        prev_rn = f"last({rn_if_valid}, true) OVER ({wp})"
        next_rn = f"first({rn_if_valid}, true) OVER ({wn})"
        # A fully-null prefix is anchored by the reference's "first
        # cell becomes 0" rule: virtual neighbor (value 0, row 1).
        anchor_val = f"coalesce({prev_val}, CAST(0 AS DOUBLE))"
        anchor_rn = f"coalesce({prev_rn}, 1)"
        interp = (
            f"({anchor_val}) + (({next_val}) - ({anchor_val})) * "
            f"((_rn - ({anchor_rn})) / (({next_rn}) - ({anchor_rn})))"
        )
        df = df.withColumn(
            f"{c}{suffix}",
            F.expr(
                f"CASE WHEN {c} IS NOT NULL THEN CAST({c} AS DOUBLE) "
                # trailing LOCF
                f"WHEN ({next_val}) IS NULL THEN CAST({anchor_val} AS DOUBLE) "
                f"ELSE {interp} END"
            ),
        )
    return df.drop("_rn")


def q_w6_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W6 — gap-fill over a deterministic synthetic null pattern:
    'error' events lose their value, then the series is rebuilt
    per-user. Exercises leading-run, interior-run and trailing-run
    rules at once (users whose first/last events are errors exist in
    the data).
    """
    ev = read_table(spark, sf_dir, "events").withColumn(
        "value_g",
        F.when(F.col("event_type") == "error", None).otherwise(F.col("value")),
    )
    out = with_interpolated(
        ev, ["value_g"], ["user_id"], ["ts", "event_id"], suffix="_filled"
    )
    return out.select(
        "user_id",
        "event_id",
        "value_g",
        F.col("value_g_filled").alias("value_filled"),
    )


# ---------------------------------------------------------------------------
# F7 — accounting-invariant imputation
# ---------------------------------------------------------------------------

_PARTS = ("active", "deaths", "recovered")


def _missing_sql(*cols: str) -> str:
    """SQL form of :func:`missing_count` (row-wise null count) — the
    same expression tree, assembled as one string so the fill stages
    below cost one py4j round-trip each instead of dozens."""
    return "(0 + " + " + ".join(
        f"CASE WHEN {c} IS NULL THEN 1 ELSE 0 END" for c in cols
    ) + ")"


def fill_single_missing(df: DataFrame) -> DataFrame:
    """Reference ``fill_single_missing`` (main.py:421-433): when exactly
    one of {confirmed, active, deaths, recovered} is null, solve
    confirmed = active + deaths + recovered for it.

    The reference applies the four rewrites sequentially, each seeing
    the previous fill; because the guard requires *exactly one* null,
    at most one branch fires per row and every other column keeps its
    original value — so computing all four from the input columns in
    one projection is semantically identical. Doing it in one
    ``withColumns`` keeps the expression trees flat: sequential
    ``withColumn`` chains here made Catalyst's project-collapse
    substitute each growing ``when`` tree into the next, blowing up
    codegen size multiplicatively across later window stages.
    """
    one = _missing_sql("confirmed", *_PARTS) + " = 1"

    def fill(col: str, formula: str) -> F.Column:
        return F.expr(
            f"CASE WHEN ({one}) AND {col} IS NULL THEN {formula} "
            f"ELSE {col} END"
        )

    return df.withColumns(
        {
            "active": fill("active", "confirmed - deaths - recovered"),
            "deaths": fill("deaths", "confirmed - active - recovered"),
            "recovered": fill("recovered", "confirmed - active - deaths"),
            "confirmed": fill("confirmed", "active + deaths + recovered"),
        }
    )


# ---------------------------------------------------------------------------
# clean_complete — the whole process_country_complete pipeline
# (main.py:449-498), generalized from one country to all partitions
# ---------------------------------------------------------------------------


def clean_complete(
    complete: DataFrame, country: str | None = None
) -> DataFrame:
    """Spark re-expression of ``process_country_complete``
    (main.py:449-498), for every country in one pass (pass ``country``
    to mirror the reference's single-country call exactly).

    Stages (each cites the reference line it reproduces):
      1. optional equality filter (main.py:452)
      2. per-(country,date) max-dedup of province rows (main.py:457-462)
      3. drop rows before the first date with any observation
         (main.py:465-472)
      4. zero-fill deaths/recovered where confirmed==active and both
         null (main.py:477-478)
      5. single-missing invariant imputation (main.py:481)
      6. interpolated reference frame for confirmed/deaths/recovered
         (main.py:484-487)
      7. rows with ≥2 of {c,d,r} missing take interpolated values,
         then a last invariant pass fills a lone remaining hole
         (main.py:489)
      8. remaining missing active from the invariant (main.py:491-493)
      9. drop rows still incomplete (main.py:496)
    """
    df = complete
    if country is not None:
        df = df.filter(F.col("country_region") == country)
    # One hash partitioning on country serves the whole pipeline:
    # HashPartitioning(country) satisfies the clustered distribution of
    # both the (country, date) dedup aggregation and every
    # country-partitioned window below, so Catalyst plans no further
    # exchange — one shuffle for a 9-stage pipeline.
    df = df.repartition("country_region")
    df = df.groupBy("country_region", "date").agg(
        F.max("confirmed").alias("confirmed"),
        F.max("active").alias("active"),
        F.max("deaths").alias("deaths"),
        F.max("recovered").alias("recovered"),
    )

    # 3: per-country first valid date (min date having any non-null).
    # (SQL-string expressions — same trees, one parse each; see
    # with_interpolated's docstring.)
    df = df.withColumn(
        "_first_valid",
        F.expr(
            "min(CASE WHEN confirmed IS NOT NULL OR active IS NOT NULL "
            "OR deaths IS NOT NULL OR recovered IS NOT NULL THEN date END) "
            "OVER (PARTITION BY country_region)"
        ),
    )
    df = df.filter(
        "_first_valid IS NOT NULL AND date >= _first_valid"
    ).drop("_first_valid")

    # 4: special-case zero fill. One withColumns so both rewrites see
    # the INPUT columns: a chained withColumn would re-resolve
    # ``special`` lazily after deaths is filled (deaths.isNull() then
    # false) and silently skip the recovered fill — the same
    # lazily-resolved-predicate trap stage 7 guards against.
    special = (
        "confirmed = active AND deaths IS NULL AND recovered IS NULL"
    )
    df = df.withColumns(
        {
            "deaths": F.expr(
                f"CASE WHEN {special} THEN 0 ELSE deaths END"
            ),
            "recovered": F.expr(
                f"CASE WHEN {special} THEN 0 ELSE recovered END"
            ),
        }
    )

    # 5: exactly-one-missing invariant fill.
    df = fill_single_missing(df)

    # 6: interpolation reference for the cumulative columns.
    df = with_interpolated(
        df, ["confirmed", "deaths", "recovered"], ["country_region"], ["date"]
    )

    # 7: ≥2-missing rows take interpolated values. The flag must be
    # materialized *before* the fills: column expressions resolve by
    # name lazily, so reusing the raw predicate after the first fill
    # would see the already-repaired column and stop matching.
    df = df.withColumn(
        "_two_plus",
        F.expr(_missing_sql("confirmed", "deaths", "recovered") + " >= 2"),
    )
    df = df.withColumns(
        {
            c: F.expr(
                f"CASE WHEN _two_plus AND {c} IS NULL THEN {c}_interp "
                f"ELSE {c} END"
            )
            for c in ("confirmed", "deaths", "recovered")
        }
    )
    df = df.drop("_two_plus", "confirmed_interp", "deaths_interp", "recovered_interp")
    # ...then one more single-missing pass (fills active when it is the
    # lone remaining hole; main.py:446-447 inside fill_row_manual).
    df = fill_single_missing(df)

    # 8: remaining missing active from the invariant.
    df = df.withColumn(
        "active",
        F.expr(
            "CASE WHEN active IS NULL "
            "THEN confirmed - deaths - recovered ELSE active END"
        ),
    )

    # 9: final completeness filter.
    return df.na.drop(subset=["confirmed", "active", "deaths", "recovered"]).select(
        "country_region", "date", "confirmed", "active", "deaths", "recovered"
    )


def _synthetic_complete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic COVID-shaped dirty frame built from the events
    table: country := user bucket, date := event day, counts := value
    aggregates, with null pathologies injected by rule. Gives the
    cleaning pipeline a reproducible surface inside the driver's star
    schema world (the real fixture tests live in tests/).
    """
    ev = read_table(spark, sf_dir, "events")
    day = ev.groupBy(
        F.expr("user_id % 7").alias("country_id"),
        F.expr("to_date(ts)").alias("date"),
    ).agg(
        F.expr(
            "round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 2)"
        ).alias("base"),
        F.expr("count(*)").alias("n"),
    )
    df = day.selectExpr(
        "concat('C', country_id) AS country_region",
        "date",
        "round(base, 0) + n AS confirmed_raw",
        "round(base / CAST(10.0 AS DOUBLE), 0) AS deaths_raw",
        "round(base / CAST(3.0 AS DOUBLE), 0) AS recovered_raw",
    )
    return df.selectExpr(
        "country_region",
        "date",
        "CASE WHEN dayofmonth(date) % 11 = 3 THEN NULL "
        "ELSE confirmed_raw END AS confirmed",
        "CASE WHEN dayofmonth(date) % 5 = 2 OR dayofmonth(date) % 11 = 3 "
        "THEN NULL ELSE confirmed_raw - deaths_raw - recovered_raw "
        "END AS active",
        "CASE WHEN dayofmonth(date) % 3 = 1 OR dayofmonth(date) <= 2 "
        "THEN NULL ELSE deaths_raw END AS deaths",
        "CASE WHEN dayofmonth(date) % 4 = 1 OR dayofmonth(date) <= 2 "
        "THEN NULL ELSE recovered_raw END AS recovered",
    )


def q_wrangle_clean_complete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full cleaning pipeline (dedup → trim → special-case → impute
    → interpolate → re-impute → final drop) over the synthetic dirty
    frame — the reference's process_country_complete for all countries
    at once.
    """
    return clean_complete(_synthetic_complete(spark, sf_dir))


QUERIES = {
    "w6_interpolate": q_w6_interpolate,
    "wrangle_clean_complete": q_wrangle_clean_complete,
}

_W = "PARTITION BY user_id ORDER BY ts, event_id"

_WC = "PARTITION BY country_region ORDER BY date"


def _interp_sql(c: str) -> str:
    """The W6 window expansion for one column (mirrors
    with_interpolated expression for expression)."""
    return f"""
           LAST_VALUE({c} IGNORE NULLS) OVER ({_WC}
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS {c}_pv,
           FIRST_VALUE({c} IGNORE NULLS) OVER ({_WC}
               ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS {c}_nv,
           LAST_VALUE(CASE WHEN {c} IS NOT NULL THEN _rn END IGNORE NULLS)
               OVER ({_WC} ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS {c}_pr,
           FIRST_VALUE(CASE WHEN {c} IS NOT NULL THEN _rn END IGNORE NULLS)
               OVER ({_WC} ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS {c}_nr"""


def _filled_sql(c: str) -> str:
    return f"""
           CASE WHEN {c} IS NOT NULL THEN CAST({c} AS DOUBLE)
                WHEN {c}_nv IS NULL THEN CAST(COALESCE({c}_pv, 0.0) AS DOUBLE)
                ELSE COALESCE({c}_pv, 0.0)
                     + ({c}_nv - COALESCE({c}_pv, 0.0))
                       * ((_rn - COALESCE({c}_pr, 1))
                          / ({c}_nr - COALESCE({c}_pr, 1)))
           END AS {c}_interp"""


_MISS4 = """(CASE WHEN confirmed IS NULL THEN 1 ELSE 0 END
           + CASE WHEN active IS NULL THEN 1 ELSE 0 END
           + CASE WHEN deaths IS NULL THEN 1 ELSE 0 END
           + CASE WHEN recovered IS NULL THEN 1 ELSE 0 END)"""

_IMP1 = """
    SELECT country_region, date,
           CASE WHEN miss = 1 AND confirmed IS NULL
                THEN active + deaths + recovered ELSE confirmed END AS confirmed,
           CASE WHEN miss = 1 AND active IS NULL
                THEN confirmed - deaths - recovered ELSE active END AS active,
           CASE WHEN miss = 1 AND deaths IS NULL
                THEN confirmed - active - recovered ELSE deaths END AS deaths,
           CASE WHEN miss = 1 AND recovered IS NULL
                THEN confirmed - active - deaths ELSE recovered END AS recovered
"""

#: Full 9-stage process_country_complete twin over the same synthetic
#: dirty frame — every stage mirrors clean_complete() expression for
#: expression, so the driver's hash compare covers the reference's
#: hardest pipeline end to end (not just rows).
_WRANGLE_SQL = f"""
WITH day AS (
    SELECT user_id % 7 AS country_id, CAST(ts AS DATE) AS date,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 2) AS base,
           COUNT(*) AS n
    FROM events GROUP BY 1, 2
),
raw AS (
    SELECT 'C' || country_id AS country_region, date,
           ROUND(base, 0) + n AS c_raw,
           ROUND(base / 10.0, 0) AS d_raw,
           ROUND(base / 3.0, 0) AS r_raw,
           EXTRACT(DAY FROM date) AS dom
    FROM day
),
dirty AS (
    SELECT country_region, date,
           CASE WHEN dom % 11 = 3 THEN NULL ELSE c_raw END AS confirmed,
           CASE WHEN dom % 5 = 2 OR dom % 11 = 3 THEN NULL
                ELSE c_raw - d_raw - r_raw END AS active,
           CASE WHEN dom % 3 = 1 OR dom <= 2 THEN NULL ELSE d_raw END AS deaths,
           CASE WHEN dom % 4 = 1 OR dom <= 2 THEN NULL ELSE r_raw END AS recovered
    FROM raw
),
dedup AS (
    SELECT country_region, date,
           MAX(confirmed) AS confirmed, MAX(active) AS active,
           MAX(deaths) AS deaths, MAX(recovered) AS recovered
    FROM dirty GROUP BY 1, 2
),
trimmed AS (
    SELECT country_region, date, confirmed, active, deaths, recovered FROM (
        SELECT d.*,
               MIN(CASE WHEN confirmed IS NOT NULL OR active IS NOT NULL
                         OR deaths IS NOT NULL OR recovered IS NOT NULL
                        THEN date END)
                   OVER (PARTITION BY country_region) AS first_valid
        FROM dedup d
    ) WHERE first_valid IS NOT NULL AND date >= first_valid
),
special AS (
    SELECT country_region, date, confirmed, active,
           CASE WHEN confirmed = active AND deaths IS NULL AND recovered IS NULL
                THEN 0 ELSE deaths END AS deaths,
           CASE WHEN confirmed = active AND deaths IS NULL AND recovered IS NULL
                THEN 0 ELSE recovered END AS recovered
    FROM trimmed
),
imp1 AS (
    {_IMP1}
    FROM (SELECT *, {_MISS4} AS miss FROM special)
),
rn AS (
    SELECT *, ROW_NUMBER() OVER ({_WC}) AS _rn FROM imp1
),
neighbors AS (
    SELECT *,
           {_interp_sql('confirmed')},
           {_interp_sql('deaths')},
           {_interp_sql('recovered')}
    FROM rn
),
interp AS (
    SELECT country_region, date, confirmed, active, deaths, recovered,
           {_filled_sql('confirmed')},
           {_filled_sql('deaths')},
           {_filled_sql('recovered')}
    FROM neighbors
),
two_plus AS (
    SELECT country_region, date, active,
           CASE WHEN tp AND confirmed IS NULL THEN confirmed_interp ELSE confirmed END AS confirmed,
           CASE WHEN tp AND deaths IS NULL THEN deaths_interp ELSE deaths END AS deaths,
           CASE WHEN tp AND recovered IS NULL THEN recovered_interp ELSE recovered END AS recovered
    FROM (SELECT *,
                 (CASE WHEN confirmed IS NULL THEN 1 ELSE 0 END
                + CASE WHEN deaths IS NULL THEN 1 ELSE 0 END
                + CASE WHEN recovered IS NULL THEN 1 ELSE 0 END) >= 2 AS tp
          FROM interp)
),
imp2 AS (
    {_IMP1}
    FROM (SELECT *, {_MISS4} AS miss FROM two_plus)
),
act AS (
    SELECT country_region, date, confirmed,
           CASE WHEN active IS NULL THEN confirmed - deaths - recovered
                ELSE active END AS active,
           deaths, recovered
    FROM imp2
)
SELECT country_region, date,
       CAST(confirmed AS DOUBLE) AS confirmed,
       CAST(active AS DOUBLE) AS active,
       CAST(deaths AS DOUBLE) AS deaths,
       CAST(recovered AS DOUBLE) AS recovered
FROM act
WHERE confirmed IS NOT NULL AND active IS NOT NULL
  AND deaths IS NOT NULL AND recovered IS NOT NULL
"""

ORACLES = {
    "wrangle_clean_complete": _WRANGLE_SQL,
    "w6_interpolate": f"""
        WITH g AS (
            SELECT user_id, event_id, ts,
                   CASE WHEN event_type = 'error' THEN NULL ELSE value END AS value_g,
                   ROW_NUMBER() OVER ({_W}) AS rn
            FROM events
        ), x AS (
            SELECT user_id, event_id, value_g, rn,
                   LAST_VALUE(value_g IGNORE NULLS) OVER ({_W}
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_val,
                   FIRST_VALUE(value_g IGNORE NULLS) OVER ({_W}
                       ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS next_val,
                   LAST_VALUE(CASE WHEN value_g IS NOT NULL THEN rn END IGNORE NULLS)
                       OVER ({_W} ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_rn,
                   FIRST_VALUE(CASE WHEN value_g IS NOT NULL THEN rn END IGNORE NULLS)
                       OVER ({_W} ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS next_rn
            FROM g
        )
        SELECT user_id, event_id, value_g,
               CASE WHEN value_g IS NOT NULL THEN value_g
                    WHEN next_val IS NULL THEN COALESCE(prev_val, 0.0)
                    ELSE COALESCE(prev_val, 0.0)
                         + (next_val - COALESCE(prev_val, 0.0))
                           * ((rn - COALESCE(prev_rn, 1))
                              / (next_rn - COALESCE(prev_rn, 1)))
               END AS value_filled
        FROM x
    """,
}
