"""Streaming silver: the medallion's bronze -> silver stream (reference
src/assets/silver.py re-expressed).

The reference drains a Kafka topic with ``Trigger.AvailableNow`` into
date-partitioned parquet with a checkpoint (reference
src/assets/silver.py:29-70).  Here the source is a *file* source over
the bronze ``events`` files (``_event_stream``: same Structured
Streaming engine, deterministic, no broker needed — SURVEY.md §7
hard-part 4).  The reference's Kafka scan (src/assets/silver.py:29-36)
needs the spark-sql-kafka package, which is not in this build.

This module is the one definition of bronze, used by the stream, by
serving and by the registry: its schema and path pattern
(``BRONZE_SCHEMA``, ``BRONZE_GLOB``) and its mapping to silver's columns
(``silver_transform``).

``run_silver_stream`` drains the stream into the silver log table, one
idempotent commit per micro-batch (sources/snapshots.py).  The registry's
streaming showcase queries live in ``operators/streaming.py``.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from velib_lakehouse_spark.session import apply_safe_confs
from velib_lakehouse_spark.sources.snapshots import commit_stream_batch

# The bronze contract, fixed as the reference fixes its Kafka payload
# schema (reference src/assets/silver.py:16).  A fixed schema costs no
# Spark job per read (inferring it runs one).  The pattern matches a
# single file (the test data's ``events.parquet``), per-fetch files
# (``events_late1.parquet``) or a directory of part files
# (``perfbench/gen.py``), whose ``_``/``.`` files Spark skips.
BRONZE_SCHEMA = (
    "event_id bigint, ts timestamp, user_id bigint, event_type string,"
    " value double, props string"
)
BRONZE_GLOB = "events*.parquet"


def _event_stream(
    spark: SparkSession, sf_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-source streaming scan of the bronze files (Kafka stand-in):
    ``BRONZE_GLOB`` under ``sf_dir``, read with ``BRONZE_SCHEMA``.  A
    naive microsecond ``ts`` (the test data's and ``perfbench/gen.py``'s)
    reads as the UTC instant with the same digits, whatever the session
    time zone.

    ``max_files_per_trigger`` caps files per micro-batch (tests use it to
    force multi-batch runs and exercise state carry-over).
    """
    apply_safe_confs(spark)
    reader = spark.readStream.schema(BRONZE_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.parquet(os.path.join(sf_dir, BRONZE_GLOB))


def silver_transform(stream: DataFrame) -> DataFrame:
    """The silver parse+derive (reference silver.py:40-49): payload parse,
    event-time and partition-date derivation.  Pure map-side; it takes a
    streaming or a batch ``events`` frame alike."""
    return stream.select(
        F.col("event_id"),
        F.col("user_id").alias("station_code"),
        F.get_json_object("props", "$.k").cast("bigint").alias("k"),
        F.col("event_type"),
        F.col("value").alias("bikes_available"),
        F.col("ts").alias("last_reported"),
        F.date_format(F.to_date("ts"), "yyyy-MM-dd").alias("date"),
    )


SILVER_SCHEMA = (
    "event_id bigint, station_code bigint, k bigint, event_type string,"
    " bikes_available double, last_reported timestamp, date string"
)


def run_silver_stream(
    spark: SparkSession, sf_dir: str, out_dir: str, checkpoint_dir: str
) -> dict:
    """Drain the stream into the date-partitioned silver log table
    (AvailableNow + checkpoint); read it back with
    ``read_table(spark, out_dir, SILVER_SCHEMA)``.

    Each micro-batch is one idempotent ``commit_stream_batch``
    (sources/snapshots.py) from ``foreachBatch``: a batch Spark replays
    after a crash between the log commit and its own checkpoint commit
    is dropped by the log, so every event lands exactly once.

    Returns run metadata from the query's progress (rows processed, batch
    count — the observability surface the reference logs per
    materialization, reference src/assets/silver.py:73-82).
    """
    # one writer task per micro-batch: one output file per date per
    # batch, the small-file compaction the reference does with
    # coalesce(1) (reference src/assets/velib_alerte.py:72), with no
    # shuffle.  A 5-minute tick is ~1.5k rows; a large backfill drained
    # as one batch also writes from one task.
    silver = silver_transform(_event_stream(spark, sf_dir)).coalesce(1)

    def commit(batch: DataFrame, batch_id: int) -> None:
        commit_stream_batch(out_dir, "silver", batch_id, batch, "date")

    query = (
        silver.writeStream.foreachBatch(commit)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    progress = [p for p in query.recentProgress if p]
    return {
        "rows_processed": sum(int(p["numInputRows"]) for p in progress),
        "n_batches": len(progress),
    }
