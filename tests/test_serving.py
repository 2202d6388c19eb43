"""Served payloads: parity with the DuckDB mirrors, the per-version cache,
the ETag, and the HTTP error path."""

from __future__ import annotations

import json
import os
import sys
import threading
import urllib.error
import urllib.request

import pyarrow.parquet as pq
import pytest
from pyspark.sql.readwriter import DataFrameReader

from velib_lakehouse_spark import serving
from velib_lakehouse_spark.catalog import TABLES
from velib_lakehouse_spark.pipeline import read_snapshot, run_medallion
from velib_lakehouse_spark.registry import ORACLE
from tests.conftest import SF_DIR, SF_DIR_MED
from tests.oracle_harness import run_oracle


def _oracle_rows(name: str, sf_dir: str) -> list[dict]:
    cols, rows = run_oracle(ORACLE[name], sf_dir)
    return [dict(zip(cols, r)) for r in rows]


def _centi(values) -> str:
    return ",".join(str(int(round(v * 100))) for v in values)


def _expected(sf_dir: str) -> dict:
    """Both payloads from the registry's DuckDB mirrors, stations keyed by
    code and sparklines as centi-unit ints (``perfbench/oracle.py``)."""
    bands = _oracle_rows("velib_alert_bands", sf_dir)[0]
    health = _oracle_rows("velib_health", sf_dir)[0]
    return {
        "stations": {
            r["station_code"]: (r["current_bikes"], r["sparkline_csv"])
            for r in _oracle_rows("velib_sparkline", sf_dir)
        },
        **{k: bands[k] for k in ("critical_count", "warning_count", "total_stations")},
        **{
            k: health[k]
            for k in (
                "total_expected",
                "active_stations",
                "zombie_stations",
                "latest_sync_ms",
                "total_value",
            )
        },
        "status": "degraded" if health["zombie_stations"] > 0 else "healthy",
    }


def _served(spark, sf_dir: str) -> dict:
    alerts = serving.critical_alerts_payload(spark, sf_dir)
    health = serving.pipeline_health_payload(spark, sf_dir)
    bikes = [s["current_bikes"] for s in alerts["stations"]]
    assert bikes == sorted(bikes)
    return {
        "stations": {
            s["station_code"]: (s["current_bikes"], _centi(s["sparkline"]))
            for s in alerts["stations"]
        },
        **{k: alerts[k] for k in ("critical_count", "warning_count", "total_stations")},
        **health,
    }


@pytest.mark.parametrize("sf_dir", [SF_DIR, SF_DIR_MED])
def test_served_payloads_equal_oracle(spark, sf_dir):
    serving._CACHE.pop(os.path.abspath(sf_dir), None)  # compute, not recall
    got, want = _served(spark, sf_dir), _expected(sf_dir)
    assert len(got["stations"]) == len(want["stations"]) > 0
    assert got == want  # total_value compared exactly


def test_cache_miss_is_one_events_pass(spark, monkeypatch):
    """A miss collects one per-station summary: one read of the bronze
    files and at most 5 Spark jobs for both payloads (18 jobs and 3
    ``events`` loads when each serving query ran on its own)."""
    reads = []
    parquet = DataFrameReader.parquet

    def counted(self, *paths, **options):
        reads.append(paths)
        return parquet(self, *paths, **options)

    monkeypatch.setattr(DataFrameReader, "parquet", counted)
    serving._CACHE.pop(os.path.abspath(SF_DIR), None)
    sc = spark.sparkContext
    try:
        sc.setJobGroup("serving-miss", "cache miss")
        serving.critical_alerts_payload(spark, SF_DIR)
        serving.pipeline_health_payload(spark, SF_DIR)
        jobs = sc.statusTracker().getJobIdsForGroup("serving-miss")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert reads.count((f"{SF_DIR}/events.parquet",)) == 1
    assert len(reads) == 2  # bronze and customer.parquet
    assert 0 < len(jobs) <= 5


def test_cache_hit_runs_no_spark_job(spark):
    sc = spark.sparkContext
    serving.critical_alerts_payload(spark, SF_DIR)
    try:
        sc.setJobGroup("serving-hit", "cache hit")
        first = serving.critical_alerts_payload(spark, SF_DIR)
        assert serving.critical_alerts_payload(spark, SF_DIR) is first
        serving.pipeline_health_payload(spark, SF_DIR)
        assert sc.statusTracker().getJobIdsForGroup("serving-hit") == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len([k for k in serving._CACHE if k == os.path.abspath(SF_DIR)]) == 1


def _land(dest: str, table) -> None:
    """Write-then-rename, the way a tick lands: readers never see a partial file."""
    tmp = os.path.join(os.path.dirname(dest), "." + os.path.basename(dest))
    pq.write_table(table, tmp)
    os.replace(tmp, dest)


def _link_tables(root) -> None:
    """Link every ``SF_DIR`` table but ``events`` into ``root``."""
    root.mkdir(parents=True, exist_ok=True)
    for t in TABLES:
        if t != "events":
            os.symlink(f"{SF_DIR}/{t}.parquet", root / f"{t}.parquet")


@pytest.fixture
def lake(tmp_path):
    """A copy of ``SF_DIR`` whose ``events.parquet`` is a directory holding
    the first two thirds of the events as two part files; returns
    ``(lake, the remaining third)``."""
    root = tmp_path / "lake"
    (root / "events.parquet").mkdir(parents=True)
    _link_tables(root)
    events = pq.read_table(f"{SF_DIR}/events.parquet")
    third = events.num_rows // 3
    for i in range(2):
        pq.write_table(
            events.slice(i * third, third), root / "events.parquet" / f"part-{i}.parquet"
        )
    return str(root), events.slice(2 * third)


def test_per_fetch_bronze_files_are_read_whole(spark, tmp_path):
    """Bronze landed as per-fetch files (``events.parquet`` and
    ``events_late1.parquet``) is one table to serving and to the silver
    stream alike: the payloads equal the oracle over one ``events.parquet``
    holding the rows of both, and so does ``run_medallion``'s gold."""
    split, merged = tmp_path / "split", tmp_path / "merged"
    _link_tables(split)
    _link_tables(merged)
    events = pq.read_table(f"{SF_DIR}/events.parquet")
    third = events.num_rows // 3
    pq.write_table(events.slice(0, third), split / "events.parquet")
    pq.write_table(events.slice(third), split / "events_late1.parquet")
    pq.write_table(events, merged / "events.parquet")

    assert _served(spark, str(split)) == _expected(str(merged))

    got = run_medallion(spark, str(split), str(tmp_path / "lake_split"))
    want = run_medallion(spark, str(merged), str(tmp_path / "lake_merged"))
    assert got["silver_rows"] == want["silver_rows"] == events.num_rows
    g, w = read_snapshot(spark, got["gold_table"]), read_snapshot(spark, want["gold_table"])
    assert w.count() > 0
    assert g.exceptAll(w).count() == 0 and w.exceptAll(g).count() == 0


def _get(port: int, route: str):
    with urllib.request.urlopen(f"http://127.0.0.1:{port}{route}", timeout=120) as r:
        assert r.status == 200
        return r.headers["ETag"], json.load(r)


def test_cache_follows_landed_files(spark, lake):
    root, rest = lake
    server = serving.serve(spark, root)
    port = server.server_address[1]
    try:
        tag0, health0 = _get(port, "/health/pipeline")
        assert tag0
        assert _get(port, "/health/pipeline") == (tag0, health0)
        assert _get(port, "/alerts/critical")[0] == tag0
        assert _served(spark, root) == _expected(root)

        _land(os.path.join(root, "events.parquet", "part-2.parquet"), rest)
        tag1, health1 = _get(port, "/health/pipeline")
        assert tag1 != tag0 and health1 != health0
        assert _get(port, "/alerts/critical")[0] == tag1
        assert _served(spark, root) == _expected(root)

        customer = pq.read_table(f"{SF_DIR}/customer.parquet")
        _land(os.path.join(root, "customer.parquet"), customer.slice(0, 100))
        tag2, health = _get(port, "/health/pipeline")
        assert tag2 not in (tag0, tag1)
        assert health["total_expected"] == 100
        assert _served(spark, root) == _expected(root)
    finally:
        server.shutdown()
        server.server_close()
    assert list(serving._CACHE).count(os.path.abspath(root)) == 1


def test_hit_sends_the_stored_body(spark, lake, monkeypatch):
    """A hit writes the body encoded with the lake version: the bytes are
    the payload's JSON, and no request encodes it again."""
    root, _ = lake
    server = serving.serve(spark, root)
    port = server.server_address[1]
    try:
        _get(port, "/alerts/critical")
        encoded = []
        dumps = json.dumps
        monkeypatch.setattr(json, "dumps", lambda *a, **kw: encoded.append(1) or dumps(*a, **kw))
        for route in ("/alerts/critical", "/health/pipeline", "/alerts/critical"):
            url = f"http://127.0.0.1:{port}{route}"
            with urllib.request.urlopen(url, timeout=120) as r:
                body = r.read()
            version = serving._CACHE[os.path.abspath(root)]
            assert r.headers["ETag"] == version.etag
            assert body == dumps(version.payloads[route]).encode()
        assert encoded == []
    finally:
        server.shutdown()
        server.server_close()


def test_failed_computation_is_not_cached(spark, lake, monkeypatch):
    root, rest = lake
    serving.pipeline_health_payload(spark, root)
    _land(os.path.join(root, "events.parquet", "part-2.parquet"), rest)

    def broken(*args, **kwargs):
        raise RuntimeError("engine down")

    monkeypatch.setattr(serving, "station_summary", broken)
    with pytest.raises(RuntimeError, match="engine down"):
        serving.pipeline_health_payload(spark, root)
    assert os.path.abspath(root) not in serving._CACHE
    monkeypatch.undo()
    assert _served(spark, root) == _expected(root)


def test_concurrent_misses_compute_once(spark, lake, monkeypatch):
    """More threads than cores hit a cold cache at once: one computes, the
    others wait on the lock and get the same stored payload."""
    root, _ = lake
    calls = []
    compute = serving._compute

    def counted(*args):
        calls.append(1)
        return compute(*args)

    monkeypatch.setattr(serving, "_compute", counted)
    got = []
    threads = [
        threading.Thread(target=lambda: got.append(serving.critical_alerts_payload(spark, root)))
        for _ in range(2 * os.cpu_count())
    ]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert len(calls) == 1
    assert len(got) == len(threads) and all(p is got[0] for p in got)


def test_engine_error_is_a_clean_500(spark, monkeypatch):
    def fail(spark, sf_dir):
        raise RuntimeError("query failed\n\tat org.apache.spark.Foo(Foo.java:1)\n")

    monkeypatch.setitem(serving.ROUTES, "/alerts/critical", fail)
    server = serving.serve(spark, SF_DIR)
    try:
        url = f"http://127.0.0.1:{server.server_address[1]}/alerts/critical"
        with pytest.raises(urllib.error.HTTPError) as err:
            urllib.request.urlopen(url, timeout=60)
        assert err.value.code == 500
        assert err.value.reason == "Internal Server Error"
        assert err.value.headers["Content-Type"] == "application/json"
        assert "ETag" not in err.value.headers
        body = json.load(err.value)
        assert body["error"] == "RuntimeError"
        assert "Foo.java:1" in body["detail"]
    finally:
        server.shutdown()
        server.server_close()
