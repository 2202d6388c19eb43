"""Golden pipeline tests on hand-built fixtures (SURVEY.md §5 strategy 2).

Tiny series with hand-computable expectations pin the reconstructed
history semantics (net_flow/moving_avg, FIXTURES.md §A3) and the alert
business rules as gold applies them (``pipeline.build_alerts``):
drain-to-zero alerts, refilling stations don't, the bikes<threshold
boundary is exclusive, NULL trend never alerts, dedup tie-breaks
deterministically, and a (station, ts) tie keeps the higher
bikes_available in gold, in the registry's ``velib_alerts`` and in its
DuckDB mirror alike.
"""

from __future__ import annotations

import datetime as dt
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from velib_lakehouse_spark import registry
from velib_lakehouse_spark.catalog import TABLES
from velib_lakehouse_spark.functions.timeseries import (
    latest_per_key,
    net_flow,
    trailing_avg_seconds,
)
from velib_lakehouse_spark.pipeline import build_alerts, build_history, run_medallion
from velib_lakehouse_spark.sources.snapshots import read_snapshot
from velib_lakehouse_spark.streaming.silver import SILVER_SCHEMA
from tests.conftest import SF_DIR
from tests.oracle_harness import compare

T0 = dt.datetime(2024, 1, 1, 12, 0, 0)


def _mk(spark, rows):
    return spark.createDataFrame(
        [(eid, sc, T0 + dt.timedelta(minutes=m), float(v)) for eid, sc, m, v in rows],
        "event_id long, station_code string, ts timestamp, value double",
    )


def test_net_flow_lag_and_null_first_row(spark):
    df = _mk(spark, [(1, "a", 0, 10), (2, "a", 5, 7), (3, "a", 10, 9), (4, "b", 0, 5)])
    out = df.withColumn(
        "nf", net_flow("station_code", "ts", "event_id", "value")
    ).orderBy("event_id")
    flows = [r.nf for r in out.collect()]
    assert flows == [None, -3.0, 2.0, None]


def test_trailing_avg_range_frame_inclusive_boundary(spark):
    # 12:00=10, 12:30=20, 13:00=30: at 13:00 the 1h frame includes 12:00
    # (RANGE is inclusive at both ends) -> avg(10,20,30)=20
    df = _mk(spark, [(1, "a", 0, 10), (2, "a", 30, 20), (3, "a", 60, 30)])
    out = df.withColumn(
        "ma", trailing_avg_seconds("station_code", "ts", "value", 3600)
    ).orderBy("event_id")
    assert [r.ma for r in out.collect()] == [10.0, 15.0, 20.0]
    # one second past the hour drops the first reading
    df2 = _mk(spark, [(1, "a", 0, 10), (3, "a", 61, 30)])
    out2 = df2.withColumn(
        "ma", trailing_avg_seconds("station_code", "ts", "value", 3600)
    ).orderBy("event_id")
    assert [r.ma for r in out2.collect()] == [10.0, 30.0]


def test_dedup_latest_tiebreak(spark):
    # two readings at the identical timestamp: highest event_id wins
    df = _mk(spark, [(1, "a", 0, 10), (2, "a", 0, 20), (3, "b", 0, 1)])
    out = latest_per_key(df, "station_code", "ts", "event_id")
    got = {r.station_code: (r.event_id, r.value) for r in out.collect()}
    assert got == {"a": (2, 20.0), "b": (3, 1.0)}


def _silver(spark, rows):
    """(event_id, minute, value) rows of station 1, in silver's shape."""
    return spark.createDataFrame(
        [
            (eid, 1, None, "status", float(v), T0 + dt.timedelta(minutes=m), "2024-01-01")
            for eid, m, v in rows
        ],
        SILVER_SCHEMA,
    )


@pytest.mark.parametrize(
    "series,expect_alert,expect_level",
    [
        # monotone drain to zero -> CRITICAL (value<10, trend<=0)
        ([(1, 0, 30), (2, 30, 10), (3, 60, 0)], True, "CRITICAL_EMPTY"),
        # low but refilling (trend>0) -> no alert
        ([(1, 0, 10), (2, 30, 20), (3, 60, 40)], False, None),
        # exactly at the threshold -> no alert (strict <)
        ([(1, 0, 60), (2, 30, 50), (3, 60, 50.0)], False, None),
        # low-ish, flat trend -> WARNING
        ([(1, 0, 30), (2, 30, 30), (3, 60, 30)], True, "WARNING_LOW"),
        # single reading: NULL trend never alerts (pinned null policy)
        ([(1, 0, 5)], False, None),
    ],
)
def test_alert_rules(spark, series, expect_alert, expect_level):
    """The rules as gold applies them: ``pipeline.build_alerts`` over
    ``pipeline.build_history``."""
    rows = build_alerts(build_history(_silver(spark, series))).collect()
    assert bool(rows) == expect_alert
    if expect_alert:
        assert rows[0].alert_level == expect_level


# Two stations whose latest readings tie on ts with different values:
# gold keeps the higher bikes_available of the tied rows.  Station 1
# alerts either way but on a different row; station 2's kept row (55)
# is above the threshold, its tied twin (45) is below it.
TIE_EVENTS = [
    (1, 0, 1, 40.0),
    (2, 5, 1, 30.0),
    (3, 5, 1, 20.0),
    (4, 0, 2, 60.0),
    (5, 5, 2, 55.0),
    (6, 5, 2, 45.0),
]


@pytest.fixture
def tie_lake(tmp_path):
    """``SF_DIR`` with ``TIE_EVENTS`` as its ``events`` table."""
    root = tmp_path / "bronze"
    root.mkdir()
    for t in TABLES:
        if t != "events":
            os.symlink(f"{SF_DIR}/{t}.parquet", root / f"{t}.parquet")
    events = pa.table(
        {
            "event_id": pa.array([e[0] for e in TIE_EVENTS], pa.int64()),
            "ts": pa.array(
                [T0 + dt.timedelta(minutes=e[1]) for e in TIE_EVENTS],
                pa.timestamp("us"),
            ),
            "user_id": pa.array([e[2] for e in TIE_EVENTS], pa.int64()),
            "event_type": ["status"] * len(TIE_EVENTS),
            "value": [e[3] for e in TIE_EVENTS],
            "props": ['{"k": 0}'] * len(TIE_EVENTS),
        }
    )
    pq.write_table(events, root / "events.parquet")
    return str(root)


def test_alerts_tie_is_gold_tiebreak(spark, tie_lake, tmp_path):
    """The registry's ``velib_alerts`` is the alert rule gold commits:
    on a (station, ts) tie both keep the row with the higher
    ``bikes_available``, and both equal the DuckDB mirror."""
    query = registry.QUERIES["velib_alerts"](spark, tie_lake)
    meta = run_medallion(spark, tie_lake, str(tmp_path / "lake"))
    gold = (
        read_snapshot(spark, meta["gold_table"])
        .withColumn("last_reported_ms", F.unix_millis("last_reported"))
        .select(*query.columns)
    )
    got = sorted(tuple(r) for r in query.collect())
    assert got == sorted(tuple(r) for r in gold.collect())
    assert compare(query, registry.ORACLE["velib_alerts"], tie_lake) == []
    assert compare(gold, registry.ORACLE["velib_alerts"], tie_lake) == []
    assert [(r[0], r[1], r[2]) for r in got] == [(1, 30.0, -10.0)]
