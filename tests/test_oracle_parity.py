"""Oracle parity: run every ``tests.oracle_battery`` entry on Spark and its
DuckDB SQL twin at sf0.01, then compare row count, column names, column
types and order-insensitive values.
"""

from __future__ import annotations

import decimal
import math

import duckdb
import pytest

from tests.conftest import SF_DIR_ORACLE as SF_DIR
# built() shares one frame per entry between the type and value tests here
# and the plan guards of tests/test_plans.py that read the same scale factor
from tests.oracle_battery import ORACLES, TABLES, built


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    yield con
    con.close()


def _norm_cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return f"{v:.10g}"
    return str(v)


def _normalize(rows, colnames):
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    return sorted(tuple(_norm_cell(row[i]) for i in order) for row in rows)


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_oracle_has_no_hugeint_columns(duck, name):
    """A windowed or CASE sum in DuckDB defaults to HUGEINT, which a typed
    compare does not match with Spark's BIGINT even when every value is
    identical. The fix is a ``::BIGINT`` in the oracle's outer projection;
    this test keeps the trap from coming back."""
    rel = duck.sql(ORACLES[name])
    bad = [(c, str(t)) for c, t in zip(rel.columns, rel.types) if "HUGEINT" in str(t).upper()]
    assert not bad, f"{name}: HUGEINT oracle columns (cast ::BIGINT): {bad}"


# Spark dtype -> DuckDB types a typed compare accepts as the same values
# (int widths and timestamp flavours do; HUGEINT does not, see above).
_TYPE_OK = {
    "bigint": {"BIGINT", "INTEGER"},
    "int": {"INTEGER", "BIGINT"},
    "double": {"DOUBLE"},
    "float": {"FLOAT"},
    "string": {"VARCHAR"},
    "boolean": {"BOOLEAN"},
    "date": {"DATE"},
    "timestamp": {"TIMESTAMP", "TIMESTAMP_NS"},
    "timestamp_ntz": {"TIMESTAMP", "TIMESTAMP_NS"},
}


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_oracle_column_types_align(spark, duck, name):
    """Every oracle column's DuckDB type must be compatible with the Spark
    column's type, which the stringified value compare below cannot see."""
    sdt = dict(built(spark, name, SF_DIR).dtypes)
    rel = duck.sql(ORACLES[name])
    ddt = dict(zip(rel.columns, (str(t) for t in rel.types)))
    bad = []
    for c, st in sdt.items():
        allowed = _TYPE_OK.get(st, {st.upper()})
        if ddt.get(c, "").upper() not in allowed:
            bad.append((c, st, ddt.get(c)))
    assert not bad, f"{name}: spark-vs-oracle type mismatches {bad}"


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_query_matches_oracle(spark, duck, name):
    sdf = built(spark, name, SF_DIR)
    spark_cols = sdf.columns
    spark_rows = [tuple(r) for r in sdf.collect()]

    res = duck.execute(ORACLES[name])
    duck_cols = [d[0] for d in res.description]
    duck_rows = res.fetchall()

    assert sorted(spark_cols) == sorted(duck_cols), (
        f"{name}: column mismatch {spark_cols} vs {duck_cols}"
    )
    assert len(spark_rows) == len(duck_rows), (
        f"{name}: row count {len(spark_rows)} vs {len(duck_rows)}"
    )
    a = _normalize(spark_rows, spark_cols)
    b = _normalize(duck_rows, duck_cols)
    if a != b:
        diffs = [(x, y) for x, y in zip(a, b) if x != y][:5]
        raise AssertionError(f"{name}: value mismatch, first diffs: {diffs}")
