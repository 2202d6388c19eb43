"""Faults the medallion must survive, each checked against the DuckDB mirror.

A seeded ``perfbench/gen.StationFeed`` (40 stations) lands tick files in
a bronze directory; each step calls ``run_medallion`` and asserts that
the committed gold version equals ``perfbench/oracle.expected_gold`` over
every file landed so far.  The faults:

* an empty tick file;
* a late tick (older timestamps), inside the 1 h average horizon and
  beyond the 4 h alert horizon;
* a station silent for more than 4 h, which drops out and then reports
  again, its ``net_flow`` taken against its pre-silence reading;
* a reader looping on ``read_snapshot`` while gold commits.
"""

from __future__ import annotations

import os
import sys
import threading

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "perfbench"))

import gen  # noqa: E402
import oracle  # noqa: E402

from velib_lakehouse_spark.pipeline import run_medallion  # noqa: E402
from velib_lakehouse_spark.sources.snapshots import read_snapshot  # noqa: E402

HISTORY_TICKS = 6
HOUR_US = 3600 * 1_000_000
TICK_US = gen.TICK_S * 1_000_000


class Lake:
    """A bronze directory fed tick by tick, and the lake built from it."""

    def __init__(self, spark, root) -> None:
        self.spark = spark
        self.bronze = str(root / "bronze")
        self.lake = str(root / "lake")
        self.staging = str(root / "staging")
        os.makedirs(self.staging)
        self.feed = gen.StationFeed(7, 40, 4)
        gen.make_lake(self.feed, self.bronze, HISTORY_TICKS)
        self.landed = HISTORY_TICKS

    def land(self, table: pa.Table) -> None:
        """Land one tick file atomically (staged, then renamed in)."""
        name = f"part-{self.landed:05d}.parquet"
        tmp = os.path.join(self.staging, name)
        pq.write_table(table, tmp)
        os.replace(tmp, os.path.join(gen.events_dir(self.bronze), name))
        self.landed += 1

    def step(self) -> tuple[dict, list[tuple]]:
        """Run the medallion; gold must equal the mirror over every file."""
        meta = run_medallion(self.spark, self.bronze, self.lake)
        vdir = os.path.join(meta["gold_table"], f"v={meta['gold_version']}")
        got = oracle.read_gold(vdir)
        want = oracle.expected_gold(gen.event_files(self.bronze))
        assert oracle.gold_mismatches(got, want) == []
        assert meta["alerts"] == len(got)
        assert meta["critical"] == sum(r[5] == "CRITICAL_EMPTY" for r in got)
        return meta, got


def _shifted(table: pa.Table, by_us: int) -> pa.Table:
    ts = pc.cast(table["ts"], pa.int64()).to_numpy() + by_us
    return table.set_column(
        table.schema.get_field_index("ts"), "ts", pa.array(ts, pa.timestamp("us"))
    )


def _with_value(table: pa.Table, station: int, value: float) -> pa.Table:
    values = table["value"].to_numpy().copy()
    values[table["user_id"].to_numpy() == station] = value
    return table.set_column(
        table.schema.get_field_index("value"), "value", pa.array(values, pa.float64())
    )


def _without(table: pa.Table, station: int) -> pa.Table:
    return table.filter(pc.not_equal(table["user_id"], station))


@pytest.fixture
def lake(spark, tmp_path) -> Lake:
    lake = Lake(spark, tmp_path)
    lake.step()
    return lake


def test_empty_tick_leaves_gold_unchanged(lake):
    _, before = lake.step()
    lake.land(gen.EVENTS_SCHEMA.empty_table())
    meta, after = lake.step()
    assert meta["silver_rows"] == 0
    assert after == before


@pytest.mark.parametrize("hours_late", [0.5, 5])
def test_late_tick(lake, hours_late):
    """A tick landing ``hours_late`` behind the newest reading.  Half an
    hour late it enters the 1 h moving averages; 5 h late it is beyond
    the 4 h alert horizon and changes no alert."""
    lake.land(lake.feed.tick())
    _, before = lake.step()
    late = _shifted(lake.feed.tick(), -int(hours_late * HOUR_US) - TICK_US)
    lake.land(late)
    meta, after = lake.step()
    assert meta["silver_rows"] == late.num_rows
    late_max_us = pc.max(pc.cast(late["ts"], pa.int64())).as_py()
    assert all(r[4] > late_max_us for r in after)
    assert max(r[4] for r in after) == max(r[4] for r in before)
    if hours_late > 4:
        assert after == before


def test_station_silent_more_than_4h_drops_out_then_returns(lake):
    station = int(lake.feed.stations[0])
    # two readings falling 9 -> 8 bikes: a critical alert
    lake.land(_with_value(lake.feed.tick(), station, 9.0))
    lake.land(_with_value(lake.feed.tick(), station, 8.0))
    _, got = lake.step()
    assert [r[:3] for r in got if r[0] == station] == [(station, 8.0, -1.0)]

    # every other station reports 4 h 05 min later; this one is silent
    gap = 4 * HOUR_US + TICK_US
    lake.land(_shifted(_without(lake.feed.tick(), station), gap))
    _, got = lake.step()
    assert station not in {r[0] for r in got}

    # it reports again: net_flow against its pre-silence reading, and the
    # 1 h average restarts from this one reading
    lake.land(_shifted(_with_value(lake.feed.tick(), station, 2.5), gap))
    _, got = lake.step()
    assert [r[:4] + r[5:] for r in got if r[0] == station] == [
        (station, 2.5, -5.5, 2.5, "CRITICAL_EMPTY")
    ]


def test_reader_sees_whole_versions_while_gold_commits(spark, lake):
    table = os.path.join(lake.lake, "gold", "alerts_current")
    stop = threading.Event()
    reads: list[list[tuple]] = []
    errors: list[Exception] = []

    def reader() -> None:
        while not stop.is_set():
            try:
                rows = read_snapshot(spark, table).collect()
            except Exception as exc:  # noqa: BLE001 - reported below
                errors.append(exc)
                return
            reads.append(sorted(tuple(r) for r in rows))

    thread = threading.Thread(target=reader)
    thread.start()
    try:
        for _ in range(3):
            lake.land(lake.feed.tick())
            meta, _ = lake.step()
    finally:
        stop.set()
        thread.join(timeout=120)
    assert not thread.is_alive()
    assert errors == []
    assert reads
    versions = [
        sorted(tuple(r) for r in read_snapshot(spark, table, version=v).collect())
        for v in range(meta["gold_version"] + 1)
    ]
    assert all(rows in versions for rows in reads)
