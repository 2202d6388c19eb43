"""Differential tests: every registered query vs. its DuckDB oracle.

Each query must match its oracle on row count, column names and
order-insensitive values at sf0.001, emit only scalar columns, and stay
within its budget of partition-less Window nodes.
"""

from __future__ import annotations

import pytest

from velib_lakehouse_spark import registry
from tests.conftest import SF_DIR
from tests.oracle_harness import compare
from tests.test_plans import BOUNDED_UNPARTITIONED_WINDOWS, _unpartitioned_window_count

CASES = list(registry.ORACLE.items())


def test_every_registered_query_has_oracle_entry_key():
    assert set(registry.ORACLE) == set(registry.QUERIES)
    assert all(isinstance(sql, str) for sql in registry.ORACLE.values())
    assert set(BOUNDED_UNPARTITIONED_WINDOWS) <= set(registry.QUERIES)


# Paired by name with test_dtype_parity.py::test_dtypes_match
# (tests/conftest.py runs the two back to back on one build of the query).
@pytest.mark.parametrize("name,sql", CASES, ids=[c[0] for c in CASES])
def test_query_matches_oracle(registry_query, name, sql):
    df = registry_query(name)
    problems = compare(df, sql, SF_DIR)
    # Consumers that sort or hash result rows (pandas sort_values, value
    # hashing) reject array/map cells, so arrays are serialized in-query.
    problems += [
        f"non-scalar column {col}: {dtype}"
        for col, dtype in df.dtypes
        if dtype.startswith(("array", "map", "struct"))
    ]
    n = _unpartitioned_window_count(df)
    if n > BOUNDED_UNPARTITIONED_WINDOWS.get(name, 0):
        problems.append(f"{n} unpartitioned Window nodes")
    assert not problems, f"{name}: " + "; ".join(problems)
