"""Generic format reader (reference src/resources.py:106-120 generalized).

A thin dispatch over ``DataFrameReader`` so pipelines name a format +
path + options instead of hand-rolling reader chains.  The Delta and
Iceberg jars are not in this build, so the lakehouse tables are
hive-partitioned parquet (same layout the reference uses) under the
commit log of ``sources/snapshots.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from velib_lakehouse_spark.session import apply_safe_confs
from velib_lakehouse_spark.tempdirs import scratch_dir


def read_any(
    spark: SparkSession,
    path: str,
    fmt: str = "parquet",
    schema=None,
    **options,
) -> DataFrame:
    """Read ``path`` as ``fmt`` with options (json/parquet/csv/orc/...)."""
    apply_safe_confs(spark)
    reader = spark.read.format(fmt)
    if schema is not None:
        reader = reader.schema(schema)
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.load(path)


CSV_SCAN_SCHEMA = "event_id bigint, user_id bigint, event_type string, value_micro bigint"


def csv_roundtrip_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8 (generic format reader) oracle-checked: events exported to
    headered CSV, read back through ``read_any(fmt='csv')`` with an
    explicit schema (schema-on-read — no inference pass, which at
    100 TB would double the scan), then aggregated per event type.

    CSV cells are integers/strings only: doubles are quantized to
    micro-units BEFORE export because a float's decimal round trip is
    the classic cross-engine divergence (1 ULP per parse); integer
    text is exact in any parser.  The oracle reads the SOURCE parquet —
    pinning that export -> CSV -> scan loses nothing.
    """

    from pyspark.sql import functions as F

    from velib_lakehouse_spark.catalog import load_table

    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        F.floor(F.col("value") * F.lit(1e4) + F.lit(0.5))
        .cast("bigint")
        .alias("value_micro"),
    )
    out = scratch_dir("csv_scan_")
    ev.write.mode("overwrite").option("header", "true").csv(out)
    back = read_any(spark, out, fmt="csv", schema=CSV_SCAN_SCHEMA, header="true")
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("value_micro").alias("sum_value_micro"),
        F.min("event_id").alias("min_event_id"),
        F.max("event_id").alias("max_event_id"),
    )


ORACLE = {
    "csv_roundtrip_scan": """
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(SUM(CAST(floor(value * 10000 + 0.5) AS BIGINT)) AS BIGINT)
                 AS sum_value_micro,
               min(event_id) AS min_event_id,
               max(event_id) AS max_event_id
        FROM events
        GROUP BY event_type
    """,
}
QUERIES = {"csv_roundtrip_scan": csv_roundtrip_scan}
