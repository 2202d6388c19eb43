"""End-to-end medallion integration: one call, bronze -> serving."""

from __future__ import annotations

import os
import subprocess
import sys

import pytest
from pyspark.sql import functions as F

from velib_lakehouse_spark import pipeline, registry
from velib_lakehouse_spark.pipeline import run_medallion
from velib_lakehouse_spark.sources import snapshots
from velib_lakehouse_spark.sources.snapshots import (
    live_files,
    read_snapshot,
    read_table,
)
from velib_lakehouse_spark.streaming import silver as silver_mod
from tests.conftest import SF_DIR
from tests.oracle_harness import compare


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
    # and it is the registry's alert rule: gold equals the DuckDB mirror
    # of velib_alerts over the same bronze
    gold_ms = gold.withColumn(
        "last_reported_ms", F.unix_millis("last_reported")
    ).drop("last_reported")
    assert compare(gold_ms, registry.ORACLE["velib_alerts"], SF_DIR) == []

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


def _gold_plan(spark, silver_dir: str) -> str:
    gold = pipeline.build_alerts(
        pipeline.build_history(read_table(spark, silver_dir, silver_mod.SILVER_SCHEMA))
    )
    return gold._jdf.queryExecution().executedPlan().toString()


def test_gold_is_one_pass_over_silver(spark, tmp_path):
    """Gold scans silver once and shuffles once, on the station: the 4 h
    cutoff runs over the latest rows in the write's single partition,
    not as a second scan joined back in."""
    silver_dir = str(tmp_path / "silver")
    silver_mod.run_silver_stream(spark, SF_DIR, silver_dir, str(tmp_path / "ckpt"))
    plan = _gold_plan(spark, silver_dir)
    exchanges = [l for l in plan.splitlines() if "Exchange" in l]
    assert len(exchanges) == 1, plan
    assert "hashpartitioning(station_code" in exchanges[0], plan
    assert "Broadcast" not in plan and "NestedLoopJoin" not in plan, plan
    assert plan.count("FileScan") == 1, plan


def test_medallion_reads_no_gold_back(spark, tmp_path, monkeypatch):
    """The alert counts come from the write itself: ``run_medallion``
    never reads the committed gold snapshot back."""

    def no_read_back(*_a, **_kw):
        raise AssertionError("run_medallion read the gold snapshot back")

    monkeypatch.setattr(pipeline, "read_snapshot", no_read_back)
    monkeypatch.setattr(snapshots, "read_snapshot", no_read_back)
    meta = pipeline.run_medallion(spark, SF_DIR, str(tmp_path / "lake"))
    monkeypatch.undo()

    gold = read_snapshot(spark, meta["gold_table"])
    assert meta["alerts"] == gold.count() > 0
    assert meta["critical"] == gold.filter("alert_level = 'CRITICAL_EMPTY'").count()


def test_core_imports_no_showcase_module():
    """The medallion core (pipeline + serving) loads no registry code: no
    query inventory (a module with ``QUERIES``), no ``operators`` module
    (serving owns its query), not the registry's ``functions.exact``
    helpers and not ``catalog`` (serving reads bronze through the silver
    stream's contract).  The registry depends on the core, never the
    reverse."""
    probe = (
        "import sys\n"
        "import velib_lakehouse_spark.pipeline, velib_lakehouse_spark.serving\n"
        "print(sorted(n for n, m in list(sys.modules.items())"
        " if n.startswith('velib_lakehouse_spark.operators')"
        " or n in ('velib_lakehouse_spark.functions.exact', 'velib_lakehouse_spark.catalog')"
        " or (n.startswith('velib_lakehouse_spark') and hasattr(m, 'QUERIES'))))"
    )
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    path = os.pathsep.join(filter(None, [repo, os.environ.get("PYTHONPATH")]))
    env = {**os.environ, "PYTHONPATH": path}
    out = subprocess.run(
        [sys.executable, "-c", probe], capture_output=True, text=True,
        check=True, env=env, cwd=repo,
    ).stdout
    assert out.strip() == "[]"
