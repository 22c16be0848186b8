"""Fixed StructType schemas for every table the engine reads.

The reference infers all schemas (pandas ``read_csv`` inference,
main.py:18/239/450; SQLite affinity via ``read_sql_query``,
main.py:232). At 100 TB an ``inferSchema`` CSV read is an extra full
scan, so the engine declares schemas and treats inference as a
debugging fallback only.

Column names are normalized to snake_case at ingest (SURVEY.md §1.3);
the rename maps below preserve the reference's original headers
(``Country.Region`` etc., which would need backtick-quoting in SQL).
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# COVID tables (reference data model, SURVEY.md §1)
# ---------------------------------------------------------------------------

#: day_wise.csv — one row per date, global totals (main.py:18).
DAY_WISE = T.StructType(
    [
        T.StructField("date", T.DateType(), False),
        T.StructField("confirmed", T.LongType(), False),
        T.StructField("deaths", T.LongType(), False),
        T.StructField("recovered", T.LongType(), False),
        T.StructField("active", T.LongType(), False),
        T.StructField("new_cases", T.LongType(), False),
        T.StructField("new_deaths", T.LongType(), False),
        T.StructField("new_recovered", T.LongType(), False),
        T.StructField("deaths_per_100_cases", T.DoubleType(), True),
        T.StructField("recovered_per_100_cases", T.DoubleType(), True),
        T.StructField("deaths_per_100_recovered", T.DoubleType(), True),
        T.StructField("no_of_countries", T.LongType(), False),
    ]
)

#: country_wise.csv — end-of-period snapshot per country.
COUNTRY_WISE = T.StructType(
    [
        T.StructField("country_region", T.StringType(), False),
        T.StructField("confirmed", T.LongType(), True),
        T.StructField("deaths", T.LongType(), True),
        T.StructField("recovered", T.LongType(), True),
        T.StructField("active", T.LongType(), True),
        T.StructField("new_cases", T.LongType(), True),
        T.StructField("new_deaths", T.LongType(), True),
        T.StructField("new_recovered", T.LongType(), True),
        T.StructField("deaths_per_100_cases", T.DoubleType(), True),
        T.StructField("recovered_per_100_cases", T.DoubleType(), True),
        T.StructField("deaths_per_100_recovered", T.DoubleType(), True),
        T.StructField("confirmed_last_week", T.LongType(), True),
        T.StructField("one_week_change", T.LongType(), True),
        T.StructField("one_week_pct_increase", T.DoubleType(), True),
        T.StructField("who_region", T.StringType(), True),
    ]
)

#: worldometer_data — population dimension (reconstructed from usage,
#: main.py:249,253,334-335,350-351,787-789).
WORLDOMETER = T.StructType(
    [
        T.StructField("country_region", T.StringType(), False),
        T.StructField("continent", T.StringType(), True),
        T.StructField("population", T.LongType(), True),
        T.StructField("total_cases", T.LongType(), True),
        T.StructField("total_deaths", T.LongType(), True),
        T.StructField("total_recovered", T.LongType(), True),
        T.StructField("active_cases", T.LongType(), True),
    ]
)

#: usa_county_wise — per (county, date); dates arrive as M/d/yy strings
#: (main.py:561) and are parsed at ingest.
USA_COUNTY_WISE = T.StructType(
    [
        T.StructField("admin2", T.StringType(), False),
        T.StructField("date_raw", T.StringType(), False),
        T.StructField("confirmed", T.LongType(), True),
        T.StructField("deaths", T.LongType(), True),
    ]
)

#: complete.csv — the dirty fact table: duplicate (country,date) province
#: rows, NA-dense counts (main.py:450; pathology stats in SURVEY.md §1.1).
#: Counts stay *nullable LongType*: Spark keeps integer+null where pandas
#: silently decays to float64 (SURVEY.md §7.4).
COMPLETE = T.StructType(
    [
        T.StructField("province_state", T.StringType(), True),
        T.StructField("country_region", T.StringType(), False),
        T.StructField("lat", T.DoubleType(), True),
        T.StructField("long", T.DoubleType(), True),
        T.StructField("date", T.DateType(), False),
        T.StructField("confirmed", T.LongType(), True),
        T.StructField("deaths", T.LongType(), True),
        T.StructField("recovered", T.LongType(), True),
        T.StructField("active", T.LongType(), True),
        T.StructField("who_region", T.StringType(), True),
    ]
)

#: Header-name → engine-name maps for the real reference CSVs.
DAY_WISE_RENAMES = {
    "Date": "date",
    "Confirmed": "confirmed",
    "Deaths": "deaths",
    "Recovered": "recovered",
    "Active": "active",
    "New cases": "new_cases",
    "New deaths": "new_deaths",
    "New recovered": "new_recovered",
    "Deaths / 100 Cases": "deaths_per_100_cases",
    "Recovered / 100 Cases": "recovered_per_100_cases",
    "Deaths / 100 Recovered": "deaths_per_100_recovered",
    "No. of countries": "no_of_countries",
}

COMPLETE_RENAMES = {
    "Province.State": "province_state",
    "Country.Region": "country_region",
    "Lat": "lat",
    "Long": "long",
    "Date": "date",
    "Confirmed": "confirmed",
    "Deaths": "deaths",
    "Recovered": "recovered",
    "Active": "active",
    "WHO.Region": "who_region",
}

# ---------------------------------------------------------------------------
# Driver-generated star schema (/root/testdata/sf*/ — TESTDATA.md).
# Declared so reads never pay schema inference/merging; events.ts may be
# TIMESTAMP(NANOS) parquet and is normalized in sources/io.py.
# ---------------------------------------------------------------------------

STAR = {
    "region": T.StructType(
        [
            T.StructField("r_regionkey", T.IntegerType(), True),
            T.StructField("r_name", T.StringType(), True),
        ]
    ),
    "nation": T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType(), True),
            T.StructField("n_name", T.StringType(), True),
            T.StructField("n_regionkey", T.IntegerType(), True),
        ]
    ),
    "customer": T.StructType(
        [
            T.StructField("c_custkey", T.LongType(), True),
            T.StructField("c_name", T.StringType(), True),
            T.StructField("c_nationkey", T.IntegerType(), True),
            T.StructField("c_acctbal", T.DoubleType(), True),
            T.StructField("c_mktsegment", T.StringType(), True),
        ]
    ),
    "supplier": T.StructType(
        [
            T.StructField("s_suppkey", T.LongType(), True),
            T.StructField("s_name", T.StringType(), True),
            T.StructField("s_nationkey", T.IntegerType(), True),
            T.StructField("s_acctbal", T.DoubleType(), True),
        ]
    ),
    "part": T.StructType(
        [
            T.StructField("p_partkey", T.LongType(), True),
            T.StructField("p_name", T.StringType(), True),
            T.StructField("p_brand", T.StringType(), True),
            T.StructField("p_type", T.StringType(), True),
            T.StructField("p_size", T.IntegerType(), True),
            T.StructField("p_retailprice", T.DoubleType(), True),
        ]
    ),
    "orders": T.StructType(
        [
            T.StructField("o_orderkey", T.LongType(), True),
            T.StructField("o_custkey", T.LongType(), True),
            T.StructField("o_orderstatus", T.StringType(), True),
            T.StructField("o_totalprice", T.DoubleType(), True),
            T.StructField("o_orderdate", T.TimestampNTZType(), True),
            T.StructField("o_orderpriority", T.StringType(), True),
        ]
    ),
    "lineitem": T.StructType(
        [
            T.StructField("l_orderkey", T.LongType(), True),
            T.StructField("l_partkey", T.LongType(), True),
            T.StructField("l_suppkey", T.LongType(), True),
            T.StructField("l_linenumber", T.IntegerType(), True),
            T.StructField("l_quantity", T.DoubleType(), True),
            T.StructField("l_extendedprice", T.DoubleType(), True),
            T.StructField("l_discount", T.DoubleType(), True),
            T.StructField("l_tax", T.DoubleType(), True),
            T.StructField("l_returnflag", T.StringType(), True),
            T.StructField("l_linestatus", T.StringType(), True),
            T.StructField("l_shipdate", T.TimestampNTZType(), True),
        ]
    ),
    # events is declared with the post-normalization schema (ts as
    # timestamp_ntz); the raw file may carry INT64 TIMESTAMP(NANOS).
    "events": T.StructType(
        [
            T.StructField("event_id", T.LongType(), True),
            T.StructField("ts", T.TimestampNTZType(), True),
            T.StructField("user_id", T.LongType(), True),
            T.StructField("event_type", T.StringType(), True),
            T.StructField("value", T.DoubleType(), True),
            T.StructField("props", T.StringType(), True),
        ]
    ),
    "documents": T.StructType(
        [
            T.StructField("doc_id", T.LongType(), True),
            T.StructField("text", T.StringType(), True),
            T.StructField("lang", T.StringType(), True),
            T.StructField("source", T.StringType(), True),
            T.StructField("n_chars", T.LongType(), True),
        ]
    ),
    "embeddings": T.StructType(
        [
            T.StructField("vec_id", T.LongType(), True),
            T.StructField("embedding", T.ArrayType(T.FloatType()), True),
            T.StructField("label", T.IntegerType(), True),
        ]
    ),
}

STAR_TABLES = tuple(STAR)
