"""End-to-end medallion integration: one call, bronze -> serving."""

from __future__ import annotations

import os

import pytest

from velib_lakehouse_spark.pipeline import run_medallion
from velib_lakehouse_spark.sources.snapshots import (
    live_files,
    read_snapshot,
    read_table,
)
from velib_lakehouse_spark.streaming import silver as silver_mod
from tests.conftest import SF_DIR


def test_medallion_end_to_end(spark, tmp_path):
    lake = str(tmp_path / "lake")
    meta = run_medallion(spark, SF_DIR, lake, retention_min_date="2024-01-10")

    expected_rows = spark.read.parquet(f"{SF_DIR}/events.parquet").count()
    assert meta["silver_rows"] == expected_rows
    assert meta["gold_version"] == 0
    assert meta["alerts"] >= meta["critical"] >= 0
    assert meta["partitions_retired"] > 0

    # silver landed partitioned, with old partitions retired from the
    # log AND from disk: the drain wrote every date into one batch
    # directory, and the retired dates' directories must still go
    silver_dir = os.path.join(lake, "silver", "velib_stats")
    live = {part for _, part in live_files(silver_dir)}
    assert live and all(d >= "2024-01-10" for d in live)
    on_disk = {
        name.split("=", 1)[1]
        for _root, dirs, _files in os.walk(silver_dir)
        for name in dirs
        if name.startswith("part=")
    }
    assert on_disk == live

    # gold is a committed snapshot with the alert schema
    gold = read_snapshot(spark, meta["gold_table"])
    assert set(gold.columns) == {
        "station_code",
        "bikes_available",
        "net_flow",
        "moving_avg_1h",
        "last_reported",
        "alert_level",
    }
    levels = {r.alert_level for r in gold.select("alert_level").distinct().collect()}
    assert levels <= {"CRITICAL_EMPTY", "WARNING_LOW"}
    assert meta["alerts"] == gold.count()
    assert meta["critical"] == gold.filter("alert_level = 'CRITICAL_EMPTY'").count()

    # a second run: streaming reprocesses nothing, gold gets version 1
    meta2 = run_medallion(spark, SF_DIR, lake)
    assert meta2["silver_rows"] == 0  # checkpoint made the restart a no-op
    assert meta2["gold_version"] == 1
    versions = sorted(d for d in os.listdir(meta["gold_table"]) if d.startswith("v="))
    assert versions == ["v=0", "v=1"]
    # both gold versions remain queryable (time travel)
    assert read_snapshot(spark, meta["gold_table"], version=0).count() >= 0


def test_crash_between_silver_and_gold_commits(spark, tmp_path, monkeypatch):
    """The silver foreachBatch dies right after its log commit, before
    Spark checkpoints the batch and before gold is built.  The rerun
    replays the batch, the log drops the replay, and gold equals a
    one-shot run over the same bronze."""
    original = silver_mod.commit_stream_batch
    committed = []

    def crash_once(*args, **kwargs):
        entry = original(*args, **kwargs)
        if not committed:
            committed.append(entry)
            raise RuntimeError("injected crash after the silver log commit")
        return entry

    monkeypatch.setattr(silver_mod, "commit_stream_batch", crash_once)
    lake = str(tmp_path / "lake")
    with pytest.raises(Exception, match="injected crash"):
        run_medallion(spark, SF_DIR, lake)
    assert committed[0] is not None  # the batch reached the silver log
    assert not os.path.exists(os.path.join(lake, "gold"))

    meta = run_medallion(spark, SF_DIR, lake)
    assert meta["gold_version"] == 0
    silver = read_table(
        spark, os.path.join(lake, "silver", "velib_stats"), silver_mod.SILVER_SCHEMA
    )
    expected_rows = spark.read.parquet(f"{SF_DIR}/events.parquet").count()
    assert silver.count() == silver.select("event_id").distinct().count() == expected_rows

    one_shot = run_medallion(spark, SF_DIR, str(tmp_path / "one_shot"))
    got = read_snapshot(spark, meta["gold_table"])
    want = read_snapshot(spark, one_shot["gold_table"])
    assert want.count() > 0
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0
    assert (meta["alerts"], meta["critical"]) == (one_shot["alerts"], one_shot["critical"])
