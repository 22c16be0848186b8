"""Differential harness: run a registered Spark query and its DuckDB
oracle on the same parquet directory and compare order-insensitively
(the same contract the verification driver applies — row count, column
names, multiset of canonicalized values).
"""

from __future__ import annotations

import datetime as dt
import decimal
import math

import duckdb

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def duck_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    return con


def _canon(v):
    if v is None:
        return "NULL"
    if isinstance(v, decimal.Decimal):
        # Deliberately DISTINCT from the int rendering: the driver
        # hashes a DuckDB HUGEINT/decimal128 column differently from
        # Spark's BIGINT, so the local harness must fail on the same
        # divergence instead of masking it via str(Decimal('1')) == '1'
        # (the ts_anomaly incident — see TESTDATA.md, oracle
        # result type contract).
        return f"dec:{v}"
    if isinstance(v, float):
        if math.isnan(v):
            return "NULL"
        if math.isinf(v):
            return f"f:{v!r}"
        if v == int(v) and abs(v) < 1e15:
            return f"f:{int(v)}"
        return f"f:{v!r}"
    if isinstance(v, dt.datetime):
        return f"ts:{v.isoformat()}"
    if isinstance(v, dt.date):
        return f"d:{v.isoformat()}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    try:  # pandas NaT / numpy scalar normalization
        import numpy as np
        import pandas as pd

        if v is pd.NaT:
            return "NULL"
        if isinstance(v, pd.Timestamp):
            return f"ts:{v.isoformat()}"
        if isinstance(v, np.floating):
            return _canon(float(v))
        if isinstance(v, np.integer):
            return str(int(v))
        if isinstance(v, np.ndarray):
            return _canon(list(v))
    except ImportError:
        pass
    return str(v)


def _rows(df_pandas) -> list[str]:
    cols = sorted(df_pandas.columns)
    out = []
    for rec in df_pandas[cols].itertuples(index=False, name=None):
        out.append("|".join(_canon(v) for v in rec))
    return sorted(out)


def compare_frames(a_pandas, b_pandas) -> dict:
    """Order-insensitive comparison of two already-collected result
    frames under the driver's canonicalization — used Spark-vs-Spark
    (DataFrame API vs ``spark.sql`` of the portable twin)."""
    result: dict = {
        "a_rows": len(a_pandas),
        "b_rows": len(b_pandas),
        "a_cols": sorted(a_pandas.columns),
        "b_cols": sorted(b_pandas.columns),
    }
    result["cols_match"] = result["a_cols"] == result["b_cols"]
    result["count_match"] = len(a_pandas) == len(b_pandas)
    if not (result["cols_match"] and result["count_match"]):
        result["match"] = False
        return result
    a, b = _rows(a_pandas), _rows(b_pandas)
    result["match"] = a == b
    if not result["match"]:
        result["sample_a"] = [x for x, y in zip(a, b) if x != y][:3]
        result["sample_b"] = [y for x, y in zip(a, b) if x != y][:3]
    return result


def compare(spark_df, con: duckdb.DuckDBPyConnection, sql: str) -> dict:
    sp = spark_df.toPandas()
    du = con.execute(sql).arrow().to_pandas()  # date32 -> datetime.date, like Spark
    result: dict = {
        "spark_rows": len(sp),
        "duck_rows": len(du),
        "spark_cols": sorted(sp.columns),
        "duck_cols": sorted(du.columns),
    }
    result["cols_match"] = result["spark_cols"] == result["duck_cols"]
    result["count_match"] = len(sp) == len(du)
    if not (result["cols_match"] and result["count_match"]):
        result["match"] = False
        return result
    a, b = _rows(sp), _rows(du)
    result["match"] = a == b
    if not result["match"]:
        diff_a = [x for x, y in zip(a, b) if x != y][:3]
        diff_b = [y for x, y in zip(a, b) if x != y][:3]
        result["sample_spark"] = diff_a
        result["sample_duck"] = diff_b
    return result
