"""Cross-engine dtype parity: every oracle pair must agree on Arrow
types, not just values.

DuckDB quietly widens (count_if / integer SUM -> HUGEINT/decimal128,
rank functions -> int64 where Spark emits int32); a dtype-strict
comparison would fail those pairs even with identical values, so the
engine normalizes both sides to bigint — this test keeps that invariant
as operators are added.
"""

from __future__ import annotations

import duckdb
import pytest

from velib_lakehouse_spark import registry
from velib_lakehouse_spark.catalog import TABLES
from tests.conftest import SF_DIR

SPARK_TO_ARROW = {
    "bigint": "int64",
    "int": "int32",
    "smallint": "int16",
    "double": "double",
    "float": "float",
    "string": "string",
    "boolean": "bool",
    "date": "date32[day]",
}

CASES = list(registry.ORACLE.items())


# Paired by name with test_oracle_parity.py::test_query_matches_oracle
# (tests/conftest.py runs the two back to back on one build of the query).
@pytest.mark.parametrize("name,sql", CASES, ids=[c[0] for c in CASES])
def test_dtypes_match(registry_query, name, sql):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    oracle_types = {
        f.name: str(f.type) for f in con.execute(sql).arrow().schema
    }
    con.close()

    problems = []
    for col, spark_type in registry_query(name).dtypes:
        ot = oracle_types.get(col)
        if ot is None:
            continue
        expected = SPARK_TO_ARROW.get(spark_type, spark_type)
        if expected != ot and not (
            spark_type.startswith("array") and ot.startswith("list")
        ):
            problems.append(f"{col}: spark={spark_type} oracle_arrow={ot}")
    assert not problems, f"{name}: " + "; ".join(problems)
