"""Central query registry: aggregates every operator module's inventory.

``QUERIES``: name -> callable(spark, sf_dir) -> DataFrame
``ORACLE``:  name -> DuckDB SQL mirror of the same query

``__spark_entry__.py`` and ``tests/test_oracle_parity.py`` read from
here, so a query registered once is checked against its DuckDB oracle and
unit-testable.  Queries register in module order.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from velib_lakehouse_spark.operators import (
    chunking,
    curation,
    dedup,
    graph,
    multimodal,
    pandas_ops,
    relational,
    relational2,
    retrieval,
    rollups,
    similarity,
    sketches,
    streaming,
    text,
    tpch,
    training,
    udtf_ops,
    velib,
)
from velib_lakehouse_spark.sources import lake, pyds, readers

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLE: dict[str, str] = {}


def _register(module) -> None:
    overlap = set(module.QUERIES) & set(QUERIES)
    if overlap:  # pragma: no cover - developer error
        raise ValueError(f"duplicate query names: {overlap}")
    QUERIES.update(module.QUERIES)
    ORACLE.update(module.ORACLE)


for _module in (
    velib,
    relational,
    relational2,
    tpch,
    dedup,
    similarity,
    text,
    multimodal,
    pandas_ops,
    rollups,
    curation,
    training,
    chunking,
    retrieval,
    graph,
    udtf_ops,
    sketches,
    streaming,
    lake,
    readers,
    pyds,
):
    _register(_module)
