"""DuckDB checks of the benchmark's outputs (run outside the timed spans).

* ``gold_mismatches``   the committed gold snapshot against a DuckDB mirror
  of ``pipeline.build_history`` + ``pipeline.build_alerts`` over every
  bronze file landed so far, including the pipeline's
  ``bikes_available DESC`` tiebreak on the latest reading;
* ``payload_mismatches``  ``/alerts/critical`` and ``/health/pipeline``
  payloads against the package's own ``registry.ORACLE`` SQL for
  ``velib_sparkline``, ``velib_alert_bands`` and ``velib_health``.

Each returns a list of human-readable differences; empty means correct.
"""

from __future__ import annotations

import math
import os

import duckdb

from velib_lakehouse_spark.operators.velib import ALERT_MAX, CRITICAL_MAX
from velib_lakehouse_spark.registry import ORACLE

GOLD_SQL = f"""
WITH h AS (
  SELECT user_id AS station_code,
         value AS bikes_available,
         value - lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS net_flow,
         ROUND(CAST(SUM(CAST(value AS DECIMAL(18,4))) OVER wr AS DOUBLE)
               / COUNT(value) OVER wr, 6) AS moving_avg_1h,
         ts AS last_reported
  FROM events
  WINDOW wr AS (PARTITION BY user_id
                ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
                RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
),
recent AS (
  SELECT h.* FROM h, (SELECT max(last_reported) AS mx FROM h) m
  WHERE h.last_reported >= m.mx - INTERVAL 4 HOUR
),
latest AS (
  SELECT * FROM recent
  QUALIFY row_number() OVER (PARTITION BY station_code
                             ORDER BY last_reported DESC, bikes_available DESC) = 1
)
SELECT station_code, bikes_available, net_flow, moving_avg_1h,
       epoch_us(last_reported) AS last_reported_us,
       CASE WHEN bikes_available < {CRITICAL_MAX} THEN 'CRITICAL_EMPTY'
            ELSE 'WARNING_LOW' END AS alert_level
FROM latest
WHERE bikes_available < {ALERT_MAX} AND net_flow <= 0
ORDER BY station_code
"""

GOLD_COLUMNS = (
    "station_code",
    "bikes_available",
    "net_flow",
    "moving_avg_1h",
    "last_reported_us",
    "alert_level",
)


def _connect(event_files: list[str], customer: str | None = None):
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet({event_files!r})")
    if customer:
        con.execute(f"CREATE VIEW customer AS SELECT * FROM read_parquet('{customer}')")
    return con


def _rows(con, sql: str) -> list[dict]:
    cur = con.execute(sql)
    names = [d[0] for d in cur.description]
    return [dict(zip(names, r)) for r in cur.fetchall()]


def _same(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return math.isclose(a, b, rel_tol=1e-12, abs_tol=1e-9)
    return a == b


def expected_gold(event_files: list[str]) -> list[tuple]:
    con = _connect(event_files)
    try:
        return [tuple(r[c] for c in GOLD_COLUMNS) for r in _rows(con, GOLD_SQL)]
    finally:
        con.close()


def read_gold(version_dir: str) -> list[tuple]:
    """The rows of one committed gold version, in the mirror's shape."""
    con = duckdb.connect()
    try:
        con.execute("SET TimeZone = 'UTC'")
        path = os.path.join(version_dir, "*.parquet")
        rows = _rows(
            con,
            f"SELECT station_code, bikes_available, net_flow, moving_avg_1h,"
            f" epoch_us(last_reported) AS last_reported_us, alert_level"
            f" FROM read_parquet('{path}') ORDER BY station_code",
        )
    finally:
        con.close()
    return [tuple(r[c] for c in GOLD_COLUMNS) for r in rows]


def gold_mismatches(got: list[tuple], want: list[tuple]) -> list[str]:
    if len(got) != len(want):
        return [f"gold has {len(got)} rows, mirror has {len(want)}"]
    out = []
    for g, w in zip(got, want):
        if not all(_same(x, y) for x, y in zip(g, w)):
            out.append(f"gold row {g} != mirror {w}")
    return out


def expected_payloads(event_files: list[str], customer: str) -> dict:
    """The two endpoint payloads computed from ``registry.ORACLE`` SQL."""
    con = _connect(event_files, customer)
    try:
        spark_rows = _rows(con, ORACLE["velib_sparkline"])
        bands = _rows(con, ORACLE["velib_alert_bands"])[0]
        health = _rows(con, ORACLE["velib_health"])[0]
    finally:
        con.close()
    return {
        "/alerts/critical": {
            "stations": {
                r["station_code"]: (r["current_bikes"], r["sparkline_csv"])
                for r in spark_rows
            },
            "critical_count": bands["critical_count"],
            "warning_count": bands["warning_count"],
            "total_stations": bands["total_stations"],
        },
        "/health/pipeline": {
            "total_expected": health["total_expected"],
            "active_stations": health["active_stations"],
            "zombie_stations": health["zombie_stations"],
            "latest_sync_ms": health["latest_sync_ms"],
            "total_value": health["total_value"],
            "status": "degraded" if health["zombie_stations"] > 0 else "healthy",
        },
    }


def _sparkline_csv(values: list[float]) -> str:
    return ",".join(str(int(round(v * 100))) for v in values)


def payload_mismatches(route: str, payload: dict, want: dict) -> list[str]:
    """Differences between one served payload and the oracle's."""
    expect = want[route]
    if route == "/health/pipeline":
        return [
            f"{route} {k}: {payload.get(k)!r} != {v!r}"
            for k, v in expect.items()
            if not _same(payload.get(k), v)
        ]
    out = [
        f"{route} {k}: {payload.get(k)!r} != {expect[k]!r}"
        for k in ("critical_count", "warning_count", "total_stations")
        if payload.get(k) != expect[k]
    ]
    # ties in current_bikes come back in any order: compare keyed by station
    got = {
        s["station_code"]: (s["current_bikes"], _sparkline_csv(s["sparkline"]))
        for s in payload.get("stations", [])
    }
    if set(got) != set(expect["stations"]):
        out.append(f"{route} station sets differ ({len(got)} vs {len(expect['stations'])})")
    for code in sorted(set(got) & set(expect["stations"])):
        g, w = got[code], expect["stations"][code]
        if not (_same(g[0], w[0]) and g[1] == w[1]):
            out.append(f"{route} station {code}: {g} != {w}")
    bikes = [s["current_bikes"] for s in payload.get("stations", [])]
    if bikes != sorted(bikes):
        out.append(f"{route} stations not ordered by current_bikes")
    return out
