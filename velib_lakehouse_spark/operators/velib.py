"""The reference's query semantics, re-expressed on the ``events`` table.

Column mapping (FIXTURES.md §B): ``user_id`` ≈ station_code, ``value`` ≈
bikes_available, ``ts`` ≈ last_reported, ``props`` ≈ raw JSON payload.
Thresholds are rescaled to the events value domain (0..~200):
``bikes <= 5`` -> ``value <= 60``, ``bikes < 3`` -> ``value < 50``,
``bikes == 0`` -> ``value < 10``.

The history and alerts queries are the medallion's own transforms
(``pipeline.build_history`` / ``build_alerts`` over
``silver_transform``): the alerts query is gold's transform, so the
registry checks the rule ``run_medallion`` commits.  The serving
queries (``sparkline``, ``alert_bands``, ``health``) are projections of
``serving.station_summary`` of that silver parse, the summary the API
folds its payloads from.  This module depends on the core; the core
never imports it.

Determinism rules (SURVEY.md §7 hard parts):
* no wall-clock — every time cutoff is derived from max(ts) in the data;
* every window order includes a tiebreak (event_id; gold's latest row
  breaks a (station, ts) tie on bikes_available DESC);
* timestamps are emitted as epoch-millis BIGINT; dates as 'YYYY-MM-DD'
  strings; double aggregates go through functions/exact.py.

Scale notes: each query shuffles at most once per distinct key
(station), and dimension joins are broadcast.  The alerts cutoff runs
over the latest rows, one per station, in a single partition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from velib_lakehouse_spark.catalog import load_table
from velib_lakehouse_spark.functions.collections import csv_scaled
from velib_lakehouse_spark.functions.timeseries import latest_per_key
# the alert thresholds are the medallion's; they stay importable from here
from velib_lakehouse_spark.pipeline import ALERT_MAX, CRITICAL_MAX, build_alerts, build_history
# serving owns the per-station summary its payloads fold from
from velib_lakehouse_spark.serving import TARGET_MAX, station_summary
from velib_lakehouse_spark.streaming.silver import silver_transform


def _silver(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The medallion's ``silver_transform`` over the catalog's ``events``
    (which normalises either on-disk ``ts`` shape)."""
    return silver_transform(load_table(spark, sf_dir, "events"))


def silver_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bronze->silver parse+derive (reference src/assets/silver.py:40-49)
    as a batch query: the medallion's ``silver_transform`` over the
    ``events`` table, with the event time as epoch millis.

    JSON payload decode (P1: from_json + projection), timestamp
    derivation (P2: to_timestamp) and partition-date derivation (P3:
    to_date).  ``props`` plays the raw Kafka value; the extracted ``k``
    plays the typed payload fields.  Pure map-side — no shuffle.
    """
    return _silver(spark, sf_dir).select(
        "event_id",
        "station_code",
        "k",
        "event_type",
        "bikes_available",
        F.unix_millis("last_reported").alias("last_reported_ms"),
        "date",
    )


def _history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The medallion's ``build_history`` over :func:`_silver`."""
    return build_history(_silver(spark, sf_dir))


def history_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reconstructed ``velib_stats_history_silver`` (SURVEY.md §2.9):
    :func:`_history`, with the event time as epoch millis.

    Renames + per-station ``net_flow`` (lag, W3) + trailing 1h moving
    average (RANGE frame over epoch seconds, W4).  Both windows share one
    hash partitioning on station_code: a single shuffle feeds both.
    """
    return _history(spark, sf_dir).select(
        "station_code",
        "bikes_available",
        "net_flow",
        "moving_avg_1h",
        F.unix_millis("last_reported").alias("last_reported_ms"),
        "date",
    )


def dedup_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-to-latest per station (W1; reference src/assets/velib_alerte.py:45-48)."""
    e = load_table(spark, sf_dir, "events")
    d = latest_per_key(e, "user_id", "ts", "event_id")
    return d.select(
        F.col("user_id").alias("station_code"),
        F.col("value").alias("bikes_available"),
        F.unix_millis("ts").alias("last_reported_ms"),
    )


def alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The gold-building query Q3 (reference src/assets/velib_alerte.py:19-75):
    the medallion's own gold transform, ``pipeline.build_alerts`` over
    :func:`_history`, with the event time as epoch millis.  So this is
    the alert rule ``run_medallion`` commits, not a second copy of it:
    last-4h cutoff (P4, derived from max(ts), never wall clock) ->
    latest row per station (W1, ``bikes_available DESC`` tiebreak) ->
    business rule (P5: bikes<thr AND trend<=0; NULL trend non-alerting)
    -> alert level (P6: when/otherwise).
    """
    return build_alerts(_history(spark, sf_dir)).select(
        "station_code",
        "bikes_available",
        "net_flow",
        "moving_avg_1h",
        F.unix_millis("last_reported").alias("last_reported_ms"),
        "alert_level",
    )


def sparkline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serving query Q1 ``/alerts/critical`` (reference src/api.py:37-84):
    the stations whose latest value is <= ``TARGET_MAX``, each with its
    last 5 readings in time order and its current value.  A projection
    of ``serving.station_summary``; a NULL station never matches a target,
    as in the reference's ``IN`` filter."""
    return (
        station_summary(_silver(spark, sf_dir))
        .filter(F.col("station_code").isNotNull() & (F.col("current_bikes") <= TARGET_MAX))
        .select("station_code", "sparkline_data", "current_bikes")
    )


def sparkline_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry surface for :func:`sparkline`: identical plan, but the
    ordered reading list is serialized to a comma-joined centi-unit
    string so the driver's pandas canonicalizer can hash it (lists are
    unhashable there).  Serving keeps the array form via
    :func:`sparkline`; readings are 2-decimal so ``scale=100`` is exact.
    """
    return sparkline(spark, sf_dir).select(
        "station_code",
        csv_scaled("sparkline_data", 100).alias("sparkline_csv"),
        "current_bikes",
    )


def alert_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The driver-side count-if bands folded into the engine (A7;
    reference src/api.py:73-74 computes them in Python post-hoc), over
    each station's latest value in ``serving.station_summary``."""
    latest = F.col("current_bikes")
    return station_summary(_silver(spark, sf_dir)).agg(
        F.count_if(latest < CRITICAL_MAX).alias("critical_count"),
        F.count_if((latest >= CRITICAL_MAX) & (latest < ALERT_MAX)).alias(
            "warning_count"
        ),
        F.count(F.lit(1)).alias("total_stations"),
    )


def health(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serving query Q2 ``/health/pipeline`` (reference src/api.py:87-142).

    Two single-row aggregate CTEs (A8) cross-joined (J3): expected
    station count from the dimension (customer plays the GBFS reference
    doc) vs. observed activity, rolled up from the per-station counters
    of ``serving.station_summary``; ``zombie_stations`` is the data-loss
    audit (reference src/api.py:121).
    """
    c = load_table(spark, sf_dir, "customer")
    ref = c.agg(F.count(F.lit(1)).alias("total_expected"))
    obs = station_summary(_silver(spark, sf_dir)).agg(
        F.max("latest_sync_ms").alias("latest_sync_ms"),
        F.count("station_code").alias("active_stations"),
        F.round(F.sum("value_sum"), 2).cast("double").alias("total_value"),
        F.coalesce(F.sum("n_events"), F.lit(0)).alias("n_events"),
    )
    return ref.crossJoin(obs).withColumn(
        "zombie_stations", F.col("total_expected") - F.col("active_stations")
    )


def zombie_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-join generalization of the zombie-station audit: the actual
    list of dimension rows with no observed events (SURVEY.md §2.4 notes
    the reference computes only the count, reference src/api.py:121)."""
    c = load_table(spark, sf_dir, "customer")
    e = load_table(spark, sf_dir, "events")
    active = e.select(F.col("user_id").alias("c_custkey")).distinct()
    return (
        c.join(active, "c_custkey", "left_anti")
        .select("c_custkey", "c_name", "c_mktsegment")
    )


def enrich_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The latent dimension-enrichment join J4 (reference
    src/assets/station_reference.py:26-31 stores the dimension "pour
    enrichir" but never joins it): latest state per station, left-joined
    to the broadcast dimension."""
    c = load_table(spark, sf_dir, "customer")
    e = load_table(spark, sf_dir, "events")
    latest = latest_per_key(e, "user_id", "ts", "event_id")
    dim = c.select(
        F.col("c_custkey").alias("user_id"), "c_name", "c_acctbal", "c_mktsegment"
    )
    return (
        latest.join(F.broadcast(dim), "user_id", "left")
        .select(
            F.col("user_id").alias("station_code"),
            F.col("value").alias("bikes_available"),
            F.unix_millis("ts").alias("last_reported_ms"),
            "c_name",
            "c_acctbal",
            "c_mktsegment",
        )
    )


# ---------------------------------------------------------------------------
# DuckDB oracle mirrors
# ---------------------------------------------------------------------------

_DEDUP_LATEST_CTE = """
  SELECT * FROM events
  QUALIFY row_number() OVER (
      PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1
"""

# the history enrichment (lag + 1 h RANGE frame), ``ts`` kept so the
# alert mirror applies its 4 h cutoff on the timestamp itself
_HISTORY_CTE = """
  SELECT user_id AS station_code,
         value AS bikes_available,
         value - lag(value) OVER (
             PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS net_flow,
         ROUND(
           CAST(SUM(CAST(value AS DECIMAL(18,4))) OVER wr AS DOUBLE)
           / COUNT(value) OVER wr, 6) AS moving_avg_1h,
         ts,
         strftime(ts, '%Y-%m-%d') AS "date"
  FROM events
  WINDOW wr AS (PARTITION BY user_id
                ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
                RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
"""

ORACLE: dict[str, str] = {
    "velib_silver_parse": """
        SELECT event_id,
               user_id AS station_code,
               CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
               event_type,
               value AS bikes_available,
               epoch_ms(ts) AS last_reported_ms,
               strftime(ts, '%Y-%m-%d') AS "date"
        FROM events
    """,
    "velib_history_enrich": f"""
        SELECT station_code, bikes_available, net_flow, moving_avg_1h,
               epoch_ms(ts) AS last_reported_ms, "date"
        FROM ({_HISTORY_CTE})
    """,
    "velib_dedup_latest": f"""
        SELECT user_id AS station_code,
               value AS bikes_available,
               epoch_ms(ts) AS last_reported_ms
        FROM ({_DEDUP_LATEST_CTE})
    """,
    "velib_alerts": f"""
        WITH h AS ({_HISTORY_CTE}),
        recent AS (
          SELECT * FROM h
          WHERE ts >= (SELECT max(ts) FROM h) - INTERVAL 4 HOUR
        ),
        latest AS (
          SELECT * FROM recent
          QUALIFY row_number() OVER (
              PARTITION BY station_code ORDER BY ts DESC, bikes_available DESC) = 1
        )
        SELECT station_code, bikes_available, net_flow, moving_avg_1h,
               epoch_ms(ts) AS last_reported_ms,
               CASE WHEN bikes_available < {CRITICAL_MAX} THEN 'CRITICAL_EMPTY'
                    ELSE 'WARNING_LOW' END AS alert_level
        FROM latest
        WHERE bikes_available < {ALERT_MAX} AND net_flow <= 0
    """,
    "velib_sparkline": f"""
        WITH latest AS ({_DEDUP_LATEST_CTE}),
        targets AS (SELECT user_id FROM latest WHERE value <= {TARGET_MAX}),
        ranked AS (
          SELECT e.*, row_number() OVER (
                   PARTITION BY e.user_id ORDER BY e.ts DESC, e.event_id DESC
                 ) AS rank
          FROM events e
          WHERE e.user_id IN (SELECT user_id FROM targets)
        )
        SELECT user_id AS station_code,
               array_to_string(list_transform(
                   list(value ORDER BY ts ASC, event_id ASC),
                   x -> CAST(CAST(round(x * 100) AS BIGINT) AS VARCHAR)
               ), ',') AS sparkline_csv,
               max(CASE WHEN rank = 1 THEN value END) AS current_bikes
        FROM ranked
        WHERE rank <= 5
        GROUP BY user_id
    """,
    "velib_alert_bands": f"""
        WITH latest AS ({_DEDUP_LATEST_CTE})
        SELECT CAST(count_if(value < {CRITICAL_MAX}) AS BIGINT)
                 AS critical_count,
               CAST(count_if(value >= {CRITICAL_MAX} AND value < {ALERT_MAX})
                    AS BIGINT) AS warning_count,
               count(*) AS total_stations
        FROM latest
    """,
    "velib_health": """
        WITH ref AS (SELECT count(*) AS total_expected FROM customer),
        obs AS (
          SELECT max(epoch_ms(ts)) AS latest_sync_ms,
                 count(DISTINCT user_id) AS active_stations,
                 CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE)
                   AS total_value,
                 count(*) AS n_events
          FROM events
        )
        SELECT ref.total_expected, obs.latest_sync_ms, obs.active_stations,
               obs.total_value, obs.n_events,
               ref.total_expected - obs.active_stations AS zombie_stations
        FROM ref CROSS JOIN obs
    """,
    "velib_zombie_anti": """
        SELECT c_custkey, c_name, c_mktsegment
        FROM customer
        WHERE c_custkey NOT IN (SELECT DISTINCT user_id FROM events)
    """,
    "velib_enrich_join": f"""
        WITH latest AS ({_DEDUP_LATEST_CTE})
        SELECT l.user_id AS station_code,
               l.value AS bikes_available,
               epoch_ms(l.ts) AS last_reported_ms,
               c.c_name, c.c_acctbal, c.c_mktsegment
        FROM latest l
        LEFT JOIN customer c ON l.user_id = c.c_custkey
    """,
}

QUERIES = {
    "velib_silver_parse": silver_parse,
    "velib_history_enrich": history_enrich,
    "velib_dedup_latest": dedup_latest,
    "velib_alerts": alerts,
    "velib_sparkline": sparkline_export,
    "velib_alert_bands": alert_bands,
    "velib_health": health,
    "velib_zombie_anti": zombie_anti,
    "velib_enrich_join": enrich_join,
}
