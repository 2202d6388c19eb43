"""Serving layer: the reference's API endpoints, answered once per lake version.

The reference serves two analytical endpoints from a per-request DuckDB
over the lake (reference src/api.py:37-84 ``/alerts/critical``,
src/api.py:87-142 ``/health/pipeline``) and computes the severity bands
in Python from the rows it fetched (src/api.py:73-74).  Here both
payloads are kept in a module-level cache, one entry per lake directory,
keyed by ``path -> (size, mtime)`` of each file they read.  A request
walks those files (one ``stat`` per file, so a hit's cost grows with the
number of landed files): if the key matches the cached one, it returns
the stored payload and runs no Spark job; otherwise it recomputes both
payloads under a lock.

Bronze is read through the silver stream's contract
(``streaming/silver.py``): the paths ``BRONZE_GLOB`` matches, read with
``BRONZE_SCHEMA`` and mapped to silver's columns by
``silver_transform``.  The key walks those same paths, so key and data
agree.  This module owns its query, as the reference keeps its serving
SQL in its API module: :func:`station_summary` says what is summarised
per station of a silver-shaped frame, and ``_compute`` how both payloads
fold from it, in one pass over bronze plus a ``customer`` count.  The
registry's ``sparkline``, ``alert_bands`` and ``health``
(``operators/velib.py``) are the same fold as Spark projections of the
summary; the core imports no registry module and no ``catalog``.  Each
version also stores each route's JSON body, encoded once, which the HTTP
handler sends as is.  Once serving answers from what the tick committed,
only the summary's input changes to silver, and the Spark summary goes
back to ``operators/velib.py``.

Freshness contract: an answer reflects at least the ``events*.parquet``
files (each a file or a directory of part files) and ``customer.parquet``
present at request time.  This rests on one assumption, the same one
Spark's file index makes: landed files are immutable, and new data
arrives under new file names (the Kafka/S3 append the reference uses,
and what a tick landing does: write, then rename into the table
directory).  A file that lands while Spark reads the lake may be in the
answer already; the next request lists it and recomputes.  Files
Spark's reader skips (names starting with ``.`` or ``_``) are not part
of the key.

Each endpoint is a function returning the JSON-able dict the
reference's FastAPI handler emits; ``serve`` puts them on the stdlib
HTTP server.  The payload dicts are shared between requests: callers
must not mutate them.
"""

from __future__ import annotations

import glob
import hashlib
import json
import logging
import os
import threading
from decimal import ROUND_HALF_UP, Decimal
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from velib_lakehouse_spark.functions.collections import ordered_collect
from velib_lakehouse_spark.functions.timeseries import DEC
from velib_lakehouse_spark.pipeline import ALERT_MAX, CRITICAL_MAX
from velib_lakehouse_spark.streaming.silver import BRONZE_GLOB, BRONZE_SCHEMA, silver_transform

# Rescaled serving threshold (events.value plays bikes_available).
TARGET_MAX = 60.0  # reference: gold scan keeps bikes <= 5 (src/api.py:45)

ALERTS = "/alerts/critical"
HEALTH = "/health/pipeline"
_CENT = Decimal("0.01")


class _Version(NamedTuple):
    key: dict  # path -> (st_size, st_mtime_ns) of each file the payloads read
    etag: str
    payloads: dict  # route -> payload dict
    bodies: dict  # route -> the payload encoded as the JSON response body


_log = logging.getLogger(__name__)
_CACHE: dict[str, _Version] = {}  # abspath(sf_dir) -> the last computed version
_LOCK = threading.Lock()


def _walk(path: str, key: dict) -> None:
    """Add ``path -> (st_size, st_mtime_ns)`` to ``key`` for each file
    Spark reads at ``path``: a single parquet file, or a directory of
    part files (names starting with ``.`` or ``_`` skipped)."""
    try:
        entries = os.scandir(path)
    except NotADirectoryError:
        st = os.stat(path)
        key[path] = (st.st_size, st.st_mtime_ns)
        return
    with entries:
        for entry in entries:
            if entry.name.startswith((".", "_")):
                continue
            try:
                if entry.is_dir():
                    _walk(entry.path, key)
                else:
                    st = entry.stat()
                    key[entry.path] = (st.st_size, st.st_mtime_ns)
            except FileNotFoundError:  # renamed away since the scan listed it
                continue


def _lake(root: str) -> tuple[list[str], dict]:
    """The bronze paths at ``root`` (the ``BRONZE_GLOB`` matches) and the
    cache key: every file under them and under ``customer.parquet``."""
    bronze = sorted(glob.glob(os.path.join(root, BRONZE_GLOB)))
    key: dict = {}
    for path in bronze + [os.path.join(root, "customer.parquet")]:
        _walk(path, key)
    return bronze, key


def station_summary(silver: DataFrame) -> DataFrame:
    """One row per station of a silver-shaped frame (``silver_transform``'s
    columns): everything the two serving routes read.

    One scan, one ``row_number`` window on ``station_code`` ordered
    newest first (``last_reported DESC, event_id DESC``) and one
    ``groupBy`` on the same key, so the plan has a single Exchange.
    Columns:

    * ``current_bikes``: the rank-1 (latest) ``bikes_available``;
    * ``sparkline_data``: the rank <= 5 readings in time order (W2 + A5,
      the ``LIST(ORDER BY)`` idiom);
    * ``value_sum``: the exact ``DECIMAL(18,4)`` sum of the readings;
    * ``n_events`` and ``latest_sync_ms``: the count and the newest
      ``last_reported`` in epoch millis.

    ``_compute`` folds both payloads from its collected rows (at most
    one per station); the registry's ``velib.sparkline``,
    ``alert_bands`` and ``health`` are projections of it.
    """
    w = Window.partitionBy("station_code").orderBy(
        F.col("last_reported").desc(), F.col("event_id").desc()
    )
    bikes, ts_ms = F.col("bikes_available"), F.unix_millis("last_reported")
    return (
        silver.withColumn("rank", F.row_number().over(w))
        .groupBy("station_code")
        .agg(
            F.max(F.when(F.col("rank") == 1, bikes)).alias("current_bikes"),
            ordered_collect(
                bikes, ts_ms, F.col("event_id"), where=F.col("rank") <= 5
            ).alias("sparkline_data"),
            F.sum(bikes.cast(DEC)).alias("value_sum"),
            F.count(F.lit(1)).alias("n_events"),
            F.max(ts_ms).alias("latest_sync_ms"),
        )
    )


def _compute(spark: SparkSession, root: str, bronze: list[str]) -> dict:
    """Both route payloads, folded on the driver from one collected
    :func:`station_summary` over the ``bronze`` paths (read with
    ``BRONZE_SCHEMA``, mapped by ``silver_transform``) and the
    ``customer`` count.

    The fold is what the registry's ``sparkline``, ``alert_bands`` and
    ``health`` projections compute in Spark; the exact decimal sum is
    rounded the way ``ROUND(x, 2)`` does (half up) before it becomes a
    float.
    """
    events = spark.read.schema(BRONZE_SCHEMA).parquet(*bronze)
    rows = station_summary(silver_transform(events)).collect()
    total_expected = spark.read.parquet(os.path.join(root, "customer.parquet")).count()
    stations = [r for r in rows if r.station_code is not None]
    latest = [r.current_bikes for r in rows if r.current_bikes is not None]
    targets = sorted(
        (
            r
            for r in stations
            if r.current_bikes is not None and r.current_bikes <= TARGET_MAX
        ),
        key=lambda r: (r.current_bikes, r.station_code),
    )
    sums = [r.value_sum for r in rows if r.value_sum is not None]
    syncs = [r.latest_sync_ms for r in rows if r.latest_sync_ms is not None]
    zombies = total_expected - len(stations)
    return {
        ALERTS: {
            "stations": [
                {
                    "station_code": r.station_code,
                    "current_bikes": r.current_bikes,
                    "sparkline": list(r.sparkline_data),
                }
                for r in targets
            ],
            "critical_count": sum(v < CRITICAL_MAX for v in latest),
            "warning_count": sum(
                CRITICAL_MAX <= v < ALERT_MAX for v in latest
            ),
            "total_stations": len(rows),
        },
        HEALTH: {
            "total_expected": total_expected,
            "active_stations": len(stations),
            "zombie_stations": zombies,
            "latest_sync_ms": max(syncs, default=None),
            "total_value": (
                float(sum(sums).quantize(_CENT, ROUND_HALF_UP)) if sums else None
            ),
            "status": "degraded" if zombies > 0 else "healthy",
        },
    }


def _payloads(spark: SparkSession, sf_dir: str) -> dict:
    """Both route payloads for the lake version at ``sf_dir`` right now.

    A hit on the cached key returns the stored payloads without touching
    Spark.  A miss lists the files again under the lock, so a request
    that waited on another thread's computation reuses it, then computes
    once from the bronze paths of that listing and stores the result
    under its key; a computation that raises leaves no entry.
    """
    root = os.path.abspath(sf_dir)
    version = _CACHE.get(root)
    if version is None or version.key != _lake(root)[1]:
        with _LOCK:
            bronze, key = _lake(root)
            version = _CACHE.get(root)
            if version is None or version.key != key:
                _CACHE.pop(root, None)
                listing = repr(sorted(key.items())).encode()
                etag = '"%s"' % hashlib.sha1(listing).hexdigest()[:20]
                payloads = _compute(spark, root, bronze)
                bodies = {r: json.dumps(p).encode() for r, p in payloads.items()}
                version = _CACHE[root] = _Version(key, etag, payloads, bodies)
    return version.payloads


def critical_alerts_payload(spark: SparkSession, sf_dir: str) -> dict:
    """``/alerts/critical``: per-station sparklines + severity bands."""
    return _payloads(spark, sf_dir)[ALERTS]


def pipeline_health_payload(spark: SparkSession, sf_dir: str) -> dict:
    """``/health/pipeline``: expected-vs-observed reconciliation audit."""
    return _payloads(spark, sf_dir)[HEALTH]


ROUTES = {
    ALERTS: critical_alerts_payload,
    HEALTH: pipeline_health_payload,
}


def serve(spark: SparkSession, sf_dir: str, host: str = "127.0.0.1", port: int = 0):
    """Serve the two reference endpoints over HTTP with the stdlib only.

    The reference mounts these routes on FastAPI, which this build does
    not ship (DELTA_ATTEMPT.md), so they run on ``http.server``: same
    paths as reference src/api.py, same JSON payloads.  Returns a
    started ``ThreadingHTTPServer`` (daemon thread); callers own
    ``shutdown()``.  ``port=0`` binds an ephemeral port, exposed as
    ``server.server_address[1]``.

    Each request calls its ``ROUTES`` function, so it is answered from
    the cached payloads of the lake version listed at request time; only
    the first request after a file lands runs the Spark queries.  When
    the function returns that version's payload, the handler sends the
    body encoded once with it; any other dict is encoded per request.  A
    200 response carries an ``ETag`` derived from that listing: it
    changes when a file lands and stays the same otherwise.  An engine
    failure is a 500 with the error text in a JSON body.
    """
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

    class Handler(BaseHTTPRequestHandler):
        def do_GET(self):  # noqa: N802 - http.server contract
            fn = ROUTES.get(self.path)
            if fn is None:
                self.send_error(404, "unknown route")
                return
            try:
                status, body = 200, fn(spark, sf_dir)
            except Exception as exc:
                _log.exception("GET %s failed", self.path)
                # the status line holds one line of text: the error goes in the body
                status, body = 500, {"error": type(exc).__name__, "detail": str(exc)}
            version = _CACHE.get(os.path.abspath(sf_dir))
            if version is None or body is not version.payloads.get(self.path):
                version, data = None, json.dumps(body).encode()
            else:
                data = version.bodies[self.path]
            self.send_response(status)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(data)))
            if version is not None:
                self.send_header("ETag", version.etag)
            self.end_headers()
            self.wfile.write(data)

        def log_message(self, *args):  # quiet test output
            pass

    server = ThreadingHTTPServer((host, port), Handler)
    thread = threading.Thread(target=server.serve_forever, daemon=True)
    thread.start()
    return server
