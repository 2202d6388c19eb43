"""Table catalog: names -> DataFrames over a scale-factor directory.

Plays the role of the reference's reader helpers + path conventions
(reference src/resources.py:106-120 generic format reader; reference
src/assets/velib_alerte.py:23-34 partition-aware parquet read): a single
place that knows where tables live and normalizes their schemas.

The one normalization applied here (and nowhere else), so every
operator sees a clean schema: ``events.ts`` arrives from outside the
program in either of two shapes, parquet TIMESTAMP(NANOS) (read under
``nanosAsLong`` as a nanosecond epoch long) or a naive timestamp[us]
(read as TIMESTAMP_NTZ by a session without the inference conf); both
become TimestampType at microsecond precision — the same truncation
DuckDB applies when casting ns -> us, so oracle comparisons agree.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from velib_lakehouse_spark.session import apply_safe_confs

TABLES = [
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
]


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one table from ``{sf_dir}/{name}.parquet`` with a normalized schema."""
    apply_safe_confs(spark)
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events":
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            # ns epoch long -> microsecond timestamp (integer division
            # floors, matching DuckDB's ns->us truncation).
            df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        elif ts_type == "timestamp_ntz":
            # Session handed to us before the NTZ-inference conf applied:
            # naive us-timestamp + UTC session -> identical instants.
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df
