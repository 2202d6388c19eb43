"""Medallion benchmark: backfill drain, 5-minute tick refresh, API reads.

    python3 perfbench/run.py --workload tick_refresh --seed 1 --seconds 15 --trace 0

Runs one seeded workload against the package's public entry points
(``pipeline.run_medallion``, ``serving.serve`` and the ``serving.ROUTES``
payload functions), checks every output against DuckDB, and prints one
JSON object as the last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones listed in
``BENCHMARK.json``; with ``--trace 1`` they are the per-layer ones, taken
by wrapping the calls into each layer (``tracing.py``).  The line before
it carries the workload-specific details (the wall-clock latencies and
rates, sample counts, percentiles, per-operation CPU seconds, sizes,
machine settings and the CPU steal during the timed window).

Workloads (sizes in ``SIZES``; every input comes from ``gen.py`` and the
seed):

* ``backfill_drain``  each operation drains the whole tick backlog into a
  fresh lake with one ``run_medallion`` call (one AvailableNow batch).
  Not listed in ``BENCHMARK.json``: with a JVM start and a JIT warm-up
  in every run, a third workload leaves too short a window per run for
  steady figures within the checked time budget;
* ``tick_refresh``    a history is drained during set-up, then each
  operation lands one tick file and calls ``run_medallion`` (closed loop);
* ``api_reads``       one client thread sends a seeded 3:1 mix of
  ``/alerts/critical`` and ``/health/pipeline`` GETs to ``serving.serve``
  over a static lake (closed loop).

Each run works in ``.perfbench/`` under the current directory (Spark's
warehouse and scratch lakes land there) and removes its files at exit;
with ``--trace 1`` it leaves its spans in ``.perfbench/spans-*.json``.
"""

from __future__ import annotations

import argparse
import http.client
import itertools
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time


def _process_age_s() -> float:
    """Seconds since this process started (from /proc, 10 ms resolution)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


PROCESS_START = time.perf_counter() - _process_age_s()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import numpy as np  # noqa: E402

import gen  # noqa: E402
import oracle  # noqa: E402
from tracing import Tracer  # noqa: E402
from velib_lakehouse_spark import pipeline, serving  # noqa: E402
from velib_lakehouse_spark.session import get_spark  # noqa: E402

WORKLOADS = ("backfill_drain", "tick_refresh", "api_reads")

SIZES = {
    "full": {
        "stations": 1500,
        "zombies": 50,
        "backlog_ticks": 36,  # backfill_drain: 3 h backlog per drain
        "warm_ticks": 12,  # backfill_drain: warm-up drains of 1 h
        "warm_drains": 3,
        "warm_ticks_refresh": 2,  # tick_refresh: untimed ticks after the history
        "history_ticks": 36,  # tick_refresh: 3 h drained in set-up
        "api_ticks": 24,  # api_reads: 2 h static lake
        "warm_requests": 12,
        "route_mix": {"/alerts/critical": 3, "/health/pipeline": 1},
    },
    "tiny": {
        "stations": 40,
        "zombies": 4,
        "backlog_ticks": 6,
        "warm_ticks": 2,
        "warm_drains": 1,
        "warm_ticks_refresh": 1,
        "history_ticks": 6,
        "api_ticks": 6,
        "warm_requests": 4,
        "route_mix": {"/alerts/critical": 3, "/health/pipeline": 1},
    },
}

# CPU seconds, not wall time: on a shared host the hypervisor steals up to
# a fifth of the machine's CPU time over a run, and wall times moved with it
# by up to 2x; the wall-clock figures are in the details line
END_TO_END_UNITS = {
    "setup_s": "s",
    "op_cpu_s": "s",
    "ops_per_cpu_s": "1/s",
}

PER_LAYER_UNITS = {
    "bench.gen_s": "s",
    "process.peak_rss_mb": "MB",
    "session.start_s": "s",
    "catalog.load_table_calls": "count",
    "catalog.load_table_s": "s",
    "silver.drain_s": "s",
    "silver.rows": "count",
    "silver.batches": "count",
    "silver.get_batch_ms": "ms",
    "silver.add_batch_ms": "ms",
    "silver.start_overhead_s": "s",
    "silver.latest_offset_ms": "ms",
    "silver.query_planning_ms": "ms",
    "silver.wal_commit_ms": "ms",
    "silver.commit_offsets_ms": "ms",
    "gold.plan_s": "s",
    "gold.write_s": "s",
    "gold.verify_s": "s",
    "gold.rows": "count",
    "gold.jobs": "count",
    "gold.tasks": "count",
    "lake.silver_files": "count",
    "lake.silver_partitions": "count",
    "lake.silver_bytes": "bytes",
    "snapshot.versions": "count",
    "snapshot.bytes": "bytes",
    "serving.alerts_payload_s": "s",
    "serving.health_payload_s": "s",
    "serving.http_overhead_ms": "ms",
    "serving.response_bytes": "bytes",
    "velib.jobs_per_request": "count",
    "velib.stages_per_request": "count",
    "velib.tasks_per_request": "count",
    "trace.op_p50_s": "s",
    "trace.overhead_s": "s",
}

# per-layer metric <- tracer sample key (median over traced operations)
_SAMPLE_KEYS = {
    "velib.jobs_per_request": "velib.jobs",
    "velib.stages_per_request": "velib.stages",
    "velib.tasks_per_request": "velib.tasks",
}


# ---- statistics -----------------------------------------------------------


def percentile(xs: list[float], p: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(xs)
    return s[max(0, math.ceil(p / 100 * len(s)) - 1)]


def tail(xs: list[float]) -> tuple[float, float, int]:
    """(percentile, value, samples beyond it) for the latency tail.

    The tail is the highest of p99.9..p75 with at least ten samples
    beyond it.  Short runs have fewer than forty samples; they report
    p75 and the (smaller) number of samples beyond it.
    """
    n = len(xs)
    for p in (99.9, 99, 95, 90, 75):
        if n * (1 - p / 100) >= 10:
            break
    value = percentile(xs, p)
    return p, value, sum(1 for x in xs if x > value)


def latency_summary(xs: list[float]) -> dict:
    p, value, beyond = tail(xs)
    return {
        "n": len(xs),
        "p50_s": statistics.median(xs),
        "tail_s": value,
        "tail_percentile": p,
        "tail_beyond": beyond,
    }


# ---- machine and process --------------------------------------------------


def machine_settings() -> dict:
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "SPARK_GRAFT_DRIVER_MEM": os.environ.get("SPARK_GRAFT_DRIVER_MEM"),
        "loadavg_start": os.getloadavg(),
    }


def cpu_ticks() -> list[int]:
    """Machine-wide CPU ticks from /proc/stat (user .. steal)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def cpu_shares(t0: list[int], t1: list[int]) -> dict:
    """Busy and steal shares of the CPU time between two ``cpu_ticks``.

    Steal is time the hypervisor gave to other guests; it is the part of
    host load that shows inside this machine.
    """
    d = [b - a for a, b in zip(t0, t1)]
    total = sum(d) or 1
    return {"busy": (total - d[3] - d[4] - d[7]) / total, "steal": d[7] / total}


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def process_cpu_s() -> float:
    """CPU seconds used so far by this process and every descendant (the
    JVM and its Python workers), children they have reaped included.

    Time the hypervisor steals from the machine is accounted as steal, not
    to the process: on a shared host, wall time swings with other tenants'
    load and CPU time much less.
    """
    ticks = 0
    for pid in _descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return ticks / os.sysconf("SC_CLK_TCK")


def peak_rss_mb() -> float:
    """Peak RSS (VmHWM) of this process plus every descendant (the JVM)."""
    total_kb = 0
    for pid in _descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024


def start_session():
    spark = get_spark(
        app_name="perfbench", extra_confs={"spark.ui.showConsoleProgress": "false"}
    )
    # per-tick FileStreamSink warnings carry stack traces; keep them out
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM child to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def dir_stats(path: str) -> tuple[int, int, int]:
    """(data files, partition dirs, bytes) under a lake directory."""
    files = size = 0
    parts = set()
    for root, dirs, names in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(root, n))
                parts.add(root)
    return files, len(parts), size


# ---- workloads ------------------------------------------------------------


class Run:
    """State of one benchmark run: inputs, session, samples and failures."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool, sizes: dict):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.sizes = sizes
        self.spark = None
        self.tracer: Tracer | None = None
        self.latencies: list[float] = []
        self.cpu_costs: list[float] = []  # CPU seconds of each operation
        self.traced_flags: list[bool] = []
        self.attempted = 0
        self.failures: dict[str, str] = {}  # failed operation -> first reason
        self.details: dict = {}
        self.layer: dict[str, float] = {}
        self.gen_s = 0.0
        self.gen_cpu_s = 0.0
        self.setup_cpu_s = 0.0
        self.window_s = 0.0
        self.t_first_op: float | None = None
        self.setup_gen_s = 0.0
        self.session_start_s = 0.0
        self.cpu_first_op: list[int] = []
        self.t_session = 0.0
        self.gen_before_session = 0.0

    # -- helpers --

    def gen(self, fn, *args):
        t, c = time.perf_counter(), time.process_time()
        out = fn(*args)
        self.gen_s += time.perf_counter() - t
        self.gen_cpu_s += time.process_time() - c
        return out

    def feed(self) -> gen.StationFeed:
        return gen.StationFeed(self.seed, self.sizes["stations"], self.sizes["zombies"])

    def session(self) -> None:
        t = time.perf_counter()
        self.spark = start_session()
        self.t_session = time.perf_counter()
        self.session_start_s = self.t_session - t
        self.gen_before_session = self.gen_s
        if self.trace:
            self.tracer = Tracer(self.spark)
            self.tracer.install()

    def first_op(self) -> None:
        """Mark the end of set-up (input generation so far is excluded)."""
        if self.t_first_op is None:
            self.t_first_op = time.perf_counter()
            self.setup_gen_s = self.gen_s
            self.setup_cpu_s = process_cpu_s() - self.gen_cpu_s
            self.cpu_first_op = cpu_ticks()

    def end_window(self) -> None:
        """Record the machine's CPU shares over the timed window."""
        self.details["cpu_window"] = cpu_shares(self.cpu_first_op, cpu_ticks())

    def fail(self, op: str, msg: str) -> None:
        self.failures.setdefault(op, msg)

    def medallion(self, bronze: str, lake: str, traced: bool):
        """One timed ``run_medallion`` call; returns (metadata, seconds,
        CPU seconds)."""
        self.first_op()
        cpu = process_cpu_s()
        if traced:
            self.tracer.enabled = True
            try:
                meta = self.tracer.span("op", pipeline.run_medallion, self.spark, bronze, lake)
            finally:
                self.tracer.enabled = False
            sid, start, end = self.tracer.last_span()
        else:
            start = time.perf_counter()
            meta = pipeline.run_medallion(self.spark, bronze, lake)
            end = time.perf_counter()
        cpu = process_cpu_s() - cpu
        if traced:
            self.tracer.close_medallion(sid, end)
            self.tracer.sample("gold.rows", meta["alerts"])
        return meta, end - start, cpu

    def check_gold(self, op: str, lake: str, version: int, want: list[tuple]) -> None:
        vdir = os.path.join(lake, "gold", "alerts_current", f"v={version}")
        bad = oracle.gold_mismatches(oracle.read_gold(vdir), want)
        if bad:
            self.fail(op, f"{vdir}: {bad[:3]}")

    def lake_layers(self, lake: str) -> None:
        files, parts, size = dir_stats(os.path.join(lake, "silver", "velib_stats"))
        self.layer["lake.silver_files"] = files
        self.layer["lake.silver_partitions"] = parts
        self.layer["lake.silver_bytes"] = size
        gold = os.path.join(lake, "gold", "alerts_current")
        self.layer["snapshot.versions"] = sum(1 for d in os.listdir(gold) if d.startswith("v="))
        self.layer["snapshot.bytes"] = dir_stats(gold)[2]

    # -- backfill_drain --

    def backfill_drain(self) -> None:
        s = self.sizes
        self.gen(gen.make_lake, self.feed(), "bronze", s["backlog_ticks"])
        self.gen(gen.make_lake, self.feed(), "warm", s["warm_ticks"])
        events = s["backlog_ticks"] * s["stations"]
        self.session()
        # the JVM needs a few drains before their time settles
        for i in range(s["warm_drains"]):
            pipeline.run_medallion(self.spark, "warm", f"lake_warm{i}")

        drains = []
        t0 = time.perf_counter()
        while time.perf_counter() - t0 < self.seconds:
            i = len(drains)
            traced = self.trace and i % 2 == 1
            self.attempted += 1
            try:
                meta, dt, cpu = self.medallion("bronze", f"lake{i}", traced)
            except Exception as exc:  # noqa: BLE001 - counted, run goes on
                self.fail(f"drain {i}", f"raised {exc!r}")
                continue
            drains.append((i, meta))
            self.latencies.append(dt)
            self.cpu_costs.append(cpu)
            self.traced_flags.append(traced)
        self.window_s = time.perf_counter() - t0
        self.end_window()

        want = oracle.expected_gold(gen.event_files("bronze"))
        for i, meta in drains:
            if meta["silver_rows"] != events:
                self.fail(f"drain {i}", f"silver rows {meta['silver_rows']} != {events}")
            self.check_gold(f"drain {i}", f"lake{i}", meta["gold_version"], want)
        if self.trace and drains:
            self.lake_layers(f"lake{drains[-1][0]}")
        untraced = [x for x, t in zip(self.latencies, self.traced_flags) if not t]
        self.details["drain_events"] = events
        self.details["drain_events_per_s"] = events / statistics.median(untraced or self.latencies)

    # -- tick_refresh --

    def tick_refresh(self) -> None:
        s = self.sizes
        feed = self.feed()
        self.gen(gen.make_lake, feed, "bronze", s["history_ticks"])
        os.makedirs("staging")
        self.session()
        pipeline.run_medallion(self.spark, "bronze", "lake")  # the history drain
        for _ in range(s["warm_ticks_refresh"]):
            self.gen(gen.write_tick, feed, "bronze", "staging")
            pipeline.run_medallion(self.spark, "bronze", "lake")

        ticks = []
        t0 = time.perf_counter()
        while time.perf_counter() - t0 < self.seconds:
            traced = self.trace and len(ticks) % 2 == 1
            n_files = feed.next_tick + 1
            self.gen(gen.write_tick, feed, "bronze", "staging")
            self.attempted += 1
            try:
                meta, dt, cpu = self.medallion("bronze", "lake", traced)
            except Exception as exc:  # noqa: BLE001 - counted, run goes on
                self.fail(f"tick {n_files}", f"raised {exc!r}")
                continue
            ticks.append((n_files, meta))
            self.latencies.append(dt)
            self.cpu_costs.append(cpu)
            self.traced_flags.append(traced)
        # the window excludes landing the files (generation time)
        self.window_s = sum(self.latencies)
        self.end_window()

        files = gen.event_files("bronze")
        for n_files, meta in ticks:
            op = f"tick {n_files}"
            if meta["silver_rows"] != s["stations"]:
                self.fail(op, f"silver rows {meta['silver_rows']} != {s['stations']}")
            want = oracle.expected_gold(files[:n_files])
            self.check_gold(op, "lake", meta["gold_version"], want)
        if self.trace:
            self.lake_layers("lake")

    # -- api_reads --

    def api_reads(self) -> None:
        s = self.sizes
        self.gen(gen.make_lake, self.feed(), "bronze", s["api_ticks"])
        self.session()
        server = serving.serve(self.spark, "bronze")
        try:
            self._api_loop(server.server_address[1])
        finally:
            server.shutdown()
            server.server_close()

    def _get(self, port: int, route: str) -> tuple[int, bytes]:
        conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)
        try:
            conn.request("GET", route)
            resp = conn.getresponse()
            return resp.status, resp.read()
        finally:
            conn.close()

    def _mix(self, salt: int):
        """Routes in a seeded order: each block of ``route_mix`` requests is
        shuffled, so every run serves exactly the 3:1 proportion."""
        block = [r for r, n in self.sizes["route_mix"].items() for _ in range(n)]
        rng = np.random.default_rng([self.seed, salt])
        while True:
            for j in rng.permutation(len(block)):
                yield block[j]

    def _client(self, port: int, routes, deadline: float):
        """Closed loop of one client: it sends its next request when the
        last one is answered, until ``routes`` or the time runs out.

        One client, one dashboard: with a second one, requests queued
        behind each other's jobs in Spark's FIFO scheduler, every core was
        busy and latency followed the host's CPU steal more closely.  With
        one request in flight, the CPU the process and the JVM use between
        sending and the reply is that request's.
        """
        results: list[tuple[str, float, float, int, bytes]] = []
        for route in routes:
            if time.perf_counter() >= deadline:
                break
            cpu = process_cpu_s()
            start = time.perf_counter()
            try:
                status, body = self._get(port, route)
            except OSError as exc:
                status, body = 0, repr(exc).encode()
            took = time.perf_counter() - start
            results.append((route, took, process_cpu_s() - cpu, status, body))
        return results

    def _api_loop(self, port: int) -> None:
        s = self.sizes
        # the serving path keeps speeding up for a few dozen seconds
        # (JIT); warm it with the same client loop before timing
        warm = itertools.islice(self._mix(8), s["warm_requests"])
        self._client(port, warm, math.inf)

        self.first_op()
        if self.tracer is not None:
            self.tracer.enabled = True  # it traces every other request per route
        t0 = time.perf_counter()
        results = self._client(port, self._mix(7), t0 + self.seconds)
        self.window_s = time.perf_counter() - t0
        self.end_window()
        if self.tracer is not None:
            self.tracer.enabled = False

        want = oracle.expected_payloads(
            gen.event_files("bronze"), os.path.join("bronze", "customer.parquet")
        )
        by_route: dict[str, list[float]] = {r: [] for r in s["route_mix"]}
        for n, (route, dt, cpu, status, body) in enumerate(results):
            op = f"request {n}"
            self.attempted += 1
            self.latencies.append(dt)
            self.cpu_costs.append(cpu)
            self.traced_flags.append(self.trace)
            by_route[route].append(dt)
            if status != 200:
                self.fail(op, f"{route} -> HTTP {status}: {body[:200]!r}")
                continue
            bad = oracle.payload_mismatches(route, json.loads(body), want)
            if bad:
                self.fail(op, f"{route}: {bad[:3]}")
        for route, name in (("/alerts/critical", "alerts"), ("/health/pipeline", "health")):
            if by_route[route]:
                summary = latency_summary(by_route[route])
                self.details[f"{name}_latency"] = summary
        self.details["reads_per_s"] = len(results) / self.window_s
        handler = self.tracer.samples.get("serving.handler_s") if self.tracer else None
        if results and handler:
            self.layer["serving.http_overhead_ms"] = 1000 * (
                statistics.fmean(self.latencies) - statistics.fmean(handler)
            )
            self.layer["serving.response_bytes"] = statistics.fmean(len(r[4]) for r in results)

    # -- one run --

    def execute(self) -> dict:
        try:
            getattr(self, self.workload)()
            self.layer["process.peak_rss_mb"] = peak_rss_mb()
        finally:
            if self.spark is not None:
                if self.tracer is not None:
                    self.tracer.uninstall()
                stop_session(self.spark)
        return self.result()

    def result(self) -> dict:
        if not self.latencies:
            raise RuntimeError(f"no operation completed: {self.failures}")
        setup_s = self.t_first_op - PROCESS_START - self.setup_gen_s
        untraced = [x for x, t in zip(self.latencies, self.traced_flags) if not t]
        summary = latency_summary(untraced or self.latencies)
        cpu = [x for x, t in zip(self.cpu_costs, self.traced_flags) if not t] or self.cpu_costs
        self.details.update(
            {
                "workload": self.workload,
                "seed": self.seed,
                "sizes": self.sizes,
                "op_latency": summary,
                "op_p50_s": summary["p50_s"],
                "op_tail_s": summary["tail_s"],
                "ops_per_s": len(self.latencies) / self.window_s,
                "op_latencies_s": [round(x, 4) for x in self.latencies],
                "op_cpu_costs_s": self.cpu_costs,
                "gen_s": self.gen_s,
                "setup_wall_s": {
                    "total": setup_s,
                    "session_start": self.session_start_s,
                    # history drain, server start, warm-up operations
                    "after_session": self.t_first_op - self.t_session
                    - (self.setup_gen_s - self.gen_before_session),
                },
                "window_s": self.window_s,
                "peak_rss_mb": self.layer["process.peak_rss_mb"],
                "failed_ops_ratio": len(self.failures) / max(1, self.attempted),
                "failures": dict(list(self.failures.items())[:5]),
            }
        )
        if self.workload == "tick_refresh":
            self.details["tick_latency"] = summary
        if self.trace:
            metrics = self._layer_metrics()
        else:
            values = {
                "setup_s": self.setup_cpu_s,
                "op_cpu_s": statistics.median(cpu),
                "ops_per_cpu_s": len(cpu) / sum(cpu),
            }
            metrics = {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in values.items()}
        return {
            "correct": not self.failures,
            "attempted": self.attempted,
            "failed": len(self.failures),
            "metrics": metrics,
        }

    def _layer_metrics(self) -> dict:
        samples = self.tracer.samples
        values = {k: 0.0 for k in PER_LAYER_UNITS}
        for key in PER_LAYER_UNITS:
            xs = samples.get(_SAMPLE_KEYS.get(key, key))
            if xs:
                values[key] = statistics.median(xs)
        values.update(self.layer)
        values["bench.gen_s"] = self.gen_s
        values["session.start_s"] = self.session_start_s
        traced = [x for x, t in zip(self.latencies, self.traced_flags) if t]
        untraced = [x for x, t in zip(self.latencies, self.traced_flags) if not t]
        if traced:
            values["trace.op_p50_s"] = statistics.median(traced)
        if traced and untraced:
            values["trace.overhead_s"] = statistics.median(traced) - statistics.median(untraced)
        elif self.tracer.request_overhead() is not None:
            values["trace.overhead_s"] = self.tracer.request_overhead()
        self.details["self_time_s"] = self.tracer.self_times()
        return {k: {"value": v, "unit": PER_LAYER_UNITS[k]} for k, v in values.items()}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=sorted(SIZES), default="full")
    args = ap.parse_args(argv)

    # the session sizes itself from SPARK_GRAFT_CPUS; unset, it would run
    # local[*] with 32 shuffle partitions instead of one per core
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    settings = machine_settings()
    home = os.getcwd()
    out_dir = os.path.join(home, ".perfbench")
    work = os.path.join(out_dir, f"work-{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    # Spark's shuffle files, the JVM's and Python's temp files: all inside
    # the work directory, so the run writes nothing outside it
    scratch = os.path.join(work, "tmp")
    os.makedirs(scratch)
    os.environ["SPARK_LOCAL_DIRS"] = os.environ["TMPDIR"] = tempfile.tempdir = scratch
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        o for o in (os.environ.get("JAVA_TOOL_OPTIONS"), f"-Djava.io.tmpdir={scratch}") if o
    )
    # python workers import the package the way this process does
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    run = Run(args.workload, args.seed, args.seconds, bool(args.trace), SIZES[args.size])
    try:
        os.chdir(work)
        result = run.execute()
        if run.tracer is not None:
            spans = os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.json")
            run.tracer.dump(spans)
            run.details["spans_file"] = spans
    finally:
        os.chdir(home)
        shutil.rmtree(work, ignore_errors=True)
        if not os.listdir(out_dir):
            os.rmdir(out_dir)
    run.details["machine"] = settings
    print(json.dumps({"details": run.details}, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
