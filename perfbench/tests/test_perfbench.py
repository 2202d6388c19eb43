"""Tests of the benchmark itself: inputs, output checks and a smoke run.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import filecmp
import json
import os
import shutil
import subprocess
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import gen  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402


def _lake(path, seed=3, ticks=4, stations=30, zombies=3):
    gen.make_lake(gen.StationFeed(seed, stations, zombies), str(path), ticks)
    return str(path)


def test_generator_is_byte_identical_per_seed(tmp_path):
    a, b, c = (_lake(tmp_path / n, seed=s) for n, s in (("a", 5), ("b", 5), ("c", 6)))
    names = sorted(os.listdir(gen.events_dir(a)))
    assert names == sorted(os.listdir(gen.events_dir(b)))
    cmp = filecmp.cmpfiles(gen.events_dir(a), gen.events_dir(b), names, shallow=False)
    assert cmp[0] == names
    assert filecmp.cmp(f"{a}/customer.parquet", f"{b}/customer.parquet", shallow=False)
    assert not filecmp.cmp(
        f"{a}/events.parquet/{names[0]}", f"{c}/events.parquet/{names[0]}", shallow=False
    )


def test_feed_advanced_tick_by_tick_matches_one_pass(tmp_path):
    whole = _lake(tmp_path / "whole", ticks=5)
    feed = gen.StationFeed(3, 30, 3)
    part = _lake(tmp_path / "part", ticks=0)
    os.makedirs(tmp_path / "staging")
    for _ in range(5):
        gen.write_tick(feed, part, str(tmp_path / "staging"))
    names = sorted(os.listdir(gen.events_dir(whole)))
    cmp = filecmp.cmpfiles(gen.events_dir(whole), gen.events_dir(part), names, shallow=False)
    assert cmp[0] == names


def test_generated_events_have_the_documented_shape(tmp_path):
    lake = _lake(tmp_path / "l", ticks=30, stations=200, zombies=10)
    events = pa.concat_tables(pq.read_table(f) for f in gen.event_files(lake)).to_pandas()
    assert events["event_id"].is_monotonic_increasing and events["event_id"].is_unique
    assert events["user_id"].nunique() == 200
    assert events.groupby("user_id").size().eq(30).all()
    assert (events["value"] < 10).any() and (events["value"] < 50).any()
    flow = events.sort_values("event_id").groupby("user_id")["value"].diff()
    assert (flow > 0).any() and (flow < 0).any()
    assert events["props"].str.fullmatch(r'\{"k": \d+\}').all()
    customer = pq.read_table(f"{lake}/customer.parquet")
    assert customer.column_names == ["c_custkey", "c_name", "c_acctbal", "c_mktsegment"]
    assert customer.num_rows - events["user_id"].nunique() == 10


def _write_gold(rows, vdir):
    os.makedirs(vdir)
    cols = list(zip(*rows)) if rows else [[] for _ in oracle.GOLD_COLUMNS]
    table = pa.table(
        {
            "station_code": pa.array(cols[0], pa.int64()),
            "bikes_available": pa.array(cols[1], pa.float64()),
            "net_flow": pa.array(cols[2], pa.float64()),
            "moving_avg_1h": pa.array(cols[3], pa.float64()),
            "last_reported": pa.array(cols[4], pa.timestamp("us")),
            "alert_level": pa.array(cols[5], pa.string()),
        }
    )
    pq.write_table(table, os.path.join(vdir, "part-0.parquet"))


def test_gold_check_rejects_a_tampered_row(tmp_path):
    lake = _lake(tmp_path / "l", ticks=24, stations=120)
    want = oracle.expected_gold(gen.event_files(lake))
    assert want, "the seeded walk must raise alerts"
    _write_gold(want, str(tmp_path / "v=0"))
    assert oracle.gold_mismatches(oracle.read_gold(str(tmp_path / "v=0")), want) == []
    tampered = list(want)
    row = list(tampered[0])
    row[1] += 1.0
    tampered[0] = tuple(row)
    _write_gold(tampered, str(tmp_path / "v=1"))
    bad = oracle.gold_mismatches(oracle.read_gold(str(tmp_path / "v=1")), want)
    assert len(bad) == 1
    _write_gold(want[1:], str(tmp_path / "v=2"))
    assert oracle.gold_mismatches(oracle.read_gold(str(tmp_path / "v=2")), want)


def _served(want):
    """Payloads shaped as ``serving`` returns them, built from the oracle."""
    alerts = want["/alerts/critical"]
    stations = [
        {
            "station_code": code,
            "current_bikes": bikes,
            "sparkline": [int(x) / 100 for x in csv.split(",")],
        }
        for code, (bikes, csv) in alerts["stations"].items()
    ]
    stations.sort(key=lambda s: s["current_bikes"])
    alerts_payload = {k: v for k, v in alerts.items() if k != "stations"}
    alerts_payload["stations"] = stations
    return {
        "/alerts/critical": json.loads(json.dumps(alerts_payload)),
        "/health/pipeline": json.loads(json.dumps(want["/health/pipeline"])),
    }


def test_payload_check_rejects_a_tampered_payload(tmp_path):
    lake = _lake(tmp_path / "l", ticks=12, stations=80, zombies=5)
    want = oracle.expected_payloads(gen.event_files(lake), f"{lake}/customer.parquet")
    assert want["/health/pipeline"]["zombie_stations"] == 5
    served = _served(want)
    for route, payload in served.items():
        assert oracle.payload_mismatches(route, payload, want) == []

    alerts = served["/alerts/critical"]
    alerts["stations"][0]["sparkline"][-1] += 0.01
    assert oracle.payload_mismatches("/alerts/critical", alerts, want)

    health = served["/health/pipeline"]
    health["total_value"] += 0.5
    assert oracle.payload_mismatches("/health/pipeline", health, want)


def test_tail_percentile_keeps_ten_samples_beyond():
    xs = [float(i) for i in range(1, 201)]
    p, value, beyond = run.tail(xs)
    assert (p, value, beyond) == (95, 190.0, 10)
    assert run.tail(xs[:40])[0] == 75


def _bench(tmp_path, workload, trace):
    proc = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
         "--seed", "2", "--seconds", "2", "--trace", str(trace), "--size", "tiny"],
        cwd=tmp_path, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", run.WORKLOADS)
def test_tiny_smoke_run(tmp_path, workload):
    result = _bench(tmp_path, workload, 0)
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    assert set(result["metrics"]) == set(run.END_TO_END_UNITS)
    assert all(m["value"] > 0 for m in result["metrics"].values())
    assert not (tmp_path / ".perfbench").exists()  # the run cleaned up after itself
    traced = _bench(tmp_path, workload, 1)
    assert traced["correct"]
    assert set(traced["metrics"]) == set(run.PER_LAYER_UNITS)
    # spans excepted
    assert [p.name for p in (tmp_path / ".perfbench").iterdir()] == [
        f"spans-{workload}-2.json"
    ]


def test_fails_without_the_package(tmp_path):
    shutil.copytree(BENCH, tmp_path / "perfbench")
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "api_reads", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
        env={k: v for k, v in os.environ.items() if k != "PYTHONPATH"},
    )
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
