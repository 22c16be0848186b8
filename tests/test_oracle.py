"""Differential tests: every registered query with an oracle must
match DuckDB order-insensitively at sf0.001 (fast; the driver re-runs
the same contract at sf0.01).
"""

import pytest

from covid_engineering_spark.queries import oracles, registry
from tests.conftest import SF_SMOKE
from tests.oracle_check import compare, duck_con

_REG = registry()
_ORC = oracles()


@pytest.fixture(scope="module")
def con():
    c = duck_con(SF_SMOKE)
    yield c
    c.close()


@pytest.mark.parametrize("name", sorted(_ORC))
def test_oracle_match(spark, con, name):
    df = _REG[name](spark, SF_SMOKE)
    res = compare(df, con, _ORC[name])
    assert res["match"], res


def test_all_queries_run(spark):
    # queries without oracles still must execute and return a schema
    for name, fn in _REG.items():
        if name in _ORC:
            continue
        df = fn(spark, SF_SMOKE)
        assert df.columns, name
        assert df.count() >= 0, name


def test_entry_smoke_and_wrapper_names(spark):
    # The driver's first call: the flagship top-5 customers by revenue.
    import __spark_entry__

    rows = __spark_entry__.entry(spark).collect()
    assert len(rows) == 5
    assert list(rows[0].asDict()) == ["c_custkey", "c_name", "revenue"]
    revenue = [r["revenue"] for r in rows]
    assert revenue == sorted(revenue, reverse=True)
    assert list(__spark_entry__.queries()) == list(_REG)
