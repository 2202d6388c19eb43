"""Cost of the serving payloads: Spark jobs, bronze reads, wall and CPU.

    python3 tools/serving_cost.py --ticks 24 --rounds 10

Builds the ``api_reads`` lake of ``perfbench`` (seed 1, 1,500 stations,
``--ticks`` 5-minute tick files) in a temporary directory and calls both
route functions of ``serving.ROUTES`` once per round:

* cold: the serving cache is emptied before each round, so every round
  computes both payloads from the lake;
* hit: the cache is left alone, so only the first round computes.

It prints the first cold round on its own JSON line (``"mode": "first"``):
that is the first miss in a fresh JVM, the one ``api_reads`` ``setup_s``
includes; its ``jvm`` object splits the JVM's own CPU in that round by
thread class (``tools/jvm_cpu.py``).  Then, for each mode, one JSON line
with the median of the last half of the rounds (the first ones include
the JIT warm-up).  Each line holds Spark jobs, parquet reads of the
bronze files (``events*.parquet``), wall seconds, and CPU seconds of
this process and its descendants (the JVM and its Python workers).
"""

from __future__ import annotations

import argparse
import fnmatch
import itertools
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [os.path.join(ROOT, "perfbench"), ROOT]

import gen  # noqa: E402
import jvm_cpu  # noqa: E402
import run as bench  # noqa: E402

from pyspark.sql.readwriter import DataFrameReader  # noqa: E402

from velib_lakehouse_spark import serving  # noqa: E402
from velib_lakehouse_spark.streaming.silver import BRONZE_GLOB  # noqa: E402

_ROUND = itertools.count()  # one job group per round


def _count_reads(reads: list[tuple]) -> None:
    """Wrap the session's parquet reader, recording the paths of each read."""
    orig = DataFrameReader.parquet

    def parquet(self, *paths, **options):
        reads.append(paths)
        return orig(self, *paths, **options)

    DataFrameReader.parquet = parquet


def _bronze(paths: tuple) -> bool:
    return any(fnmatch.fnmatch(os.path.basename(p), BRONZE_GLOB) for p in paths)


def measure(spark, lake: str, rounds: int, cold: bool, reads: list[tuple]) -> list[dict]:
    sc = spark.sparkContext
    samples = []
    for _ in range(rounds):
        if cold:
            serving._CACHE.clear()
        group = f"serving-cost-{next(_ROUND)}"
        sc.setJobGroup(group, group)
        del reads[:]
        cpu, wall = bench.process_cpu_s(), time.perf_counter()
        for fn in serving.ROUTES.values():
            fn(spark, lake)
        samples.append(
            {
                "wall_s": time.perf_counter() - wall,
                "cpu_s": bench.process_cpu_s() - cpu,
                "jobs": len(sc.statusTracker().getJobIdsForGroup(group)),
                "bronze_reads": sum(map(_bronze, reads)),
            }
        )
    return samples


def median_line(samples: list[dict], mode: str) -> dict:
    tail = samples[len(samples) // 2 :]
    return {
        "mode": mode,
        "rounds": len(samples),
        **{k: statistics.median(s[k] for s in tail) for k in samples[0]},
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--ticks", type=int, default=24)
    ap.add_argument("--rounds", type=int, default=10)
    args = ap.parse_args()
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    work = tempfile.mkdtemp(prefix="serving-cost-")
    try:
        lake = os.path.join(work, "bronze")
        gen.make_lake(gen.StationFeed(1, 1500, 50), lake, args.ticks)
        reads: list[tuple] = []
        _count_reads(reads)
        spark = bench.start_session()
        try:
            threads = jvm_cpu.ThreadCpu(spark)
            threads.take()  # the session start
            cold = measure(spark, lake, 1, True, reads)
            print(json.dumps({"mode": "first", **cold[0], "jvm": threads.take()}))
            cold += measure(spark, lake, args.rounds - 1, True, reads)
            print(json.dumps(median_line(cold, "cold")))
            hit = measure(spark, lake, args.rounds, False, reads)
            print(json.dumps(median_line(hit, "hit")))
        finally:
            bench.stop_session(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
