"""Oracle result-type lint.

The driver value-hashes the Spark result against the DuckDB oracle's
arrow output; the hash is type-sensitive, so an oracle column that
arrives as decimal128(38,0) (DuckDB's HUGEINT rendering of an uncast
``SUM(BIGINT)``) mismatches a Spark BIGINT even when every value is
numerically identical.  That exact class kept ``ts_anomaly``
red against the driver and was copy-inherited by
``ts_seasonal_anomaly`` — this lint makes it structurally impossible
to ship again: every registered oracle is executed against sf0.001
and its arrow schema must contain no decimal column (no Spark twin
returns DecimalType; if one ever does, carve a named exception here
with a comment explaining the pairing).

Contract prose lives in TESTDATA.md ("Oracle result type contract").
"""

import decimal

import pyarrow as pa
import pytest

from __spark_entry__ import oracle_sql
from tests.conftest import SF_SMOKE
from tests.oracle_check import _canon, duck_con

ORACLES = oracle_sql()

# Queries whose Spark twin legitimately returns DecimalType and whose
# oracle is therefore allowed to emit decimal columns. Empty today —
# keep it that way unless a twin genuinely needs exact decimal output.
DECIMAL_OK: dict[str, set] = {}


@pytest.fixture(scope="module")
def con():
    c = duck_con(SF_SMOKE)
    yield c
    c.close()


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_oracle_emits_no_decimal_columns(con, name):
    tbl = con.execute(ORACLES[name]).arrow()
    offenders = [
        (f.name, str(f.type))
        for f in tbl.schema
        if pa.types.is_decimal(f.type)
        and f.name not in DECIMAL_OK.get(name, set())
    ]
    assert not offenders, (
        f"{name}: oracle emits decimal columns {offenders} — DuckDB "
        "returns SUM(BIGINT) as HUGEINT/decimal128; wrap the sum in "
        "CAST(... AS BIGINT) (driver hash is type-sensitive)"
    )


def test_lint_catches_uncast_sum_bigint(con):
    """The lint itself must fire on the bug class it polices: an
    uncast SUM over a BIGINT column comes back decimal128(38,0)."""
    tbl = con.execute(
        "SELECT SUM(CAST(n_nationkey AS BIGINT)) AS s FROM nation"
    ).arrow()
    assert pa.types.is_decimal(tbl.schema.field("s").type)
    cast = con.execute(
        "SELECT CAST(SUM(CAST(n_nationkey AS BIGINT)) AS BIGINT) AS s "
        "FROM nation"
    ).arrow()
    assert pa.types.is_int64(cast.schema.field("s").type)


def test_canon_distinguishes_decimal_from_int():
    """The local harness must fail where the driver fails: Decimal('1')
    and 1 canonicalize differently (pre-fix they both rendered '1',
    masking the HUGEINT divergence from the local differential)."""
    assert _canon(decimal.Decimal("1")) != _canon(1)
    assert _canon(decimal.Decimal("1")) == _canon(decimal.Decimal("1"))
