"""The full medallion pipeline, engine-side.

The reference splits bronze -> silver -> gold -> serving across Dagster
assets (reference src/definitions.py wires velib_redpanda_producer ->
velib_stats_streaming_silver -> velib_critical_alerts -> FastAPI).
``run_medallion`` executes the same dataflow as one engine call against
a lake root, with every tier expressed by this package's operators:

  bronze   keyed-message ingestion utilities (sources/ingest.py) feed a
           stream; in tests the file source stands in for the broker
  silver   Structured Streaming parse/derive, each micro-batch an
           idempotent date-partitioned commit to a log table
           (streaming/silver.py, sources/snapshots.py)
  history  lag + trailing-average enrichment (the reconstructed
           velib_stats_history_silver, SURVEY.md §2.9)
  gold     alert rules -> whole-table ``overwrite`` commit to a log
           table, one ``v=N`` directory per version (sources/snapshots);
           one pass over silver (one scan, one shuffle on the station),
           and the alert counts are observed on the write itself, so
           nothing is read back
  serving  payload dicts for the two API endpoints (serving.py)
  retire   silver partition retention as a logged delete, then log
           checkpoint + vacuum of the retired files (sources/snapshots)

A steady tick runs three Spark jobs: the silver micro-batch write, the
gold shuffle's map stage and the gold write (``tools/tick_cost.py``).

Orchestration stays external (cron/Dagster/Airflow call this); the
engine owns the dataflow.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from velib_lakehouse_spark.functions.timeseries import (
    latest_per_key,
    net_flow,
    trailing_avg_seconds,
)
# read_snapshot is not called here: it stays importable from this
# module, next to write_snapshot, for the callers that read gold back
# (tests, perfbench/tracing.py wraps both by attribute)
from velib_lakehouse_spark.sources.snapshots import (  # noqa: F401
    read_snapshot,
    read_table,
    retire_partitions,
    write_snapshot,
)
from velib_lakehouse_spark.streaming.silver import SILVER_SCHEMA, run_silver_stream

# Alert thresholds, rescaled to the events value domain (0..~200) where
# ``value`` plays bikes_available (operators/velib.py's column mapping).
ALERT_MAX = 50.0  # reference: bikes < 3 (src/assets/velib_alerte.py:61)
CRITICAL_MAX = 10.0  # reference: bikes == 0 (src/api.py:73)


def build_history(silver: DataFrame) -> DataFrame:
    """Silver -> enriched history (net_flow + 1h moving average)."""
    return silver.select(
        "station_code",
        "bikes_available",
        net_flow("station_code", "last_reported", "event_id", "bikes_available")
        .alias("net_flow"),
        trailing_avg_seconds(
            "station_code", "last_reported", "bikes_available", 3600
        ).alias("moving_avg_1h"),
        "last_reported",
        "date",
    )


def build_alerts(history: DataFrame) -> DataFrame:
    """History -> current alert snapshot (Q3 rules over latest state).

    The reference keeps the rows of the last 4 h before the global max
    ``last_reported``, then each station's latest of those (reference
    src/assets/velib_alerte.py:19-48).  This takes each station's latest
    row first and applies the cutoff after, which is exact: a station's
    latest row is within 4 h of the global max if and only if the
    station has any row in that range, the global max is the max over
    the latest rows, and the ``bikes_available DESC`` tiebreak picks the
    same row either way.  So silver is scanned once and the only shuffle
    is the per-station one the history windows already need.

    The cutoff's max is an unpartitioned window over the latest rows,
    one per station (bounded by the station count, ~1.5k for Paris),
    after ``coalesce(1)``: the one partition the gold write has anyway.
    """
    latest = latest_per_key(
        history, "station_code", "last_reported", "bikes_available"
    ).coalesce(1)
    recent = latest.withColumn(
        "max_ts", F.max("last_reported").over(Window.partitionBy())
    ).filter(F.col("last_reported") >= F.col("max_ts") - F.expr("INTERVAL 4 HOURS"))
    return recent.filter(
        (F.col("bikes_available") < ALERT_MAX) & (F.col("net_flow") <= 0)
    ).select(
        "station_code",
        "bikes_available",
        "net_flow",
        "moving_avg_1h",
        "last_reported",
        F.when(F.col("bikes_available") < CRITICAL_MAX, "CRITICAL_EMPTY")
        .otherwise("WARNING_LOW")
        .alias("alert_level"),
    )


def run_medallion(
    spark: SparkSession,
    sf_dir: str,
    lake_root: str,
    retention_min_date: str | None = None,
) -> dict:
    """Run bronze->silver->history->gold; return run metadata + payloads."""
    silver_dir = os.path.join(lake_root, "silver", "velib_stats")
    ckpt_dir = os.path.join(lake_root, "_checkpoints", "silver")
    gold_table = os.path.join(lake_root, "gold", "alerts_current")

    stream_meta = run_silver_stream(spark, sf_dir, silver_dir, ckpt_dir)

    silver = read_table(spark, silver_dir, SILVER_SCHEMA)
    history = build_history(silver)
    alerts = build_alerts(history)
    counts = Observation("gold")
    gold_version = write_snapshot(
        alerts.observe(
            counts,
            F.count(F.lit(1)).alias("alerts"),
            F.count_if(F.col("alert_level") == "CRITICAL_EMPTY").alias("critical"),
        ),
        gold_table,
    )

    removed = 0
    if retention_min_date:
        removed = retire_partitions(silver_dir, retention_min_date)

    return {
        "silver_rows": stream_meta["rows_processed"],
        "gold_version": gold_version,
        "alerts": counts.get["alerts"],
        "critical": counts.get["critical"],
        "partitions_retired": removed,
        "gold_table": gold_table,
    }
