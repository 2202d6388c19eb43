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
           table, one ``v=N`` directory per version (sources/snapshots)
  serving  payload dicts for the two API endpoints (serving.py)
  retire   silver partition retention as a logged delete, then log
           checkpoint + vacuum of the retired files (sources/snapshots)

Orchestration stays external (cron/Dagster/Airflow call this); the
engine owns the dataflow.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from velib_lakehouse_spark.functions.timeseries import (
    latest_per_key,
    net_flow,
    trailing_avg_seconds,
)
from velib_lakehouse_spark.operators.velib import ALERT_MAX, CRITICAL_MAX
from velib_lakehouse_spark.sources.snapshots import (
    read_snapshot,
    read_table,
    retire_partitions,
    write_snapshot,
)
from velib_lakehouse_spark.streaming.silver import SILVER_SCHEMA, run_silver_stream


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
    """History -> current alert snapshot (Q3 rules over latest state)."""
    cutoff = history.agg(F.max("last_reported").alias("max_ts"))
    recent = (
        history.crossJoin(F.broadcast(cutoff))
        .filter(
            F.col("last_reported") >= F.col("max_ts") - F.expr("INTERVAL 4 HOURS")
        )
        .drop("max_ts")
    )
    latest = latest_per_key(recent, "station_code", "last_reported", "bikes_available")
    return latest.filter(
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
    gold_version = write_snapshot(alerts, gold_table)

    counts = read_snapshot(spark, gold_table).agg(
        F.count(F.lit(1)).alias("alerts"),
        F.count_if(F.col("alert_level") == "CRITICAL_EMPTY").alias("critical"),
    ).first()

    removed = 0
    if retention_min_date:
        removed = retire_partitions(silver_dir, retention_min_date)

    return {
        "silver_rows": stream_meta["rows_processed"],
        "gold_version": gold_version,
        "alerts": counts["alerts"],
        "critical": counts["critical"],
        "partitions_retired": removed,
        "gold_table": gold_table,
    }
