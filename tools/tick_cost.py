"""Cost of one steady medallion tick: Spark jobs, stages, tasks, wall and CPU.

    python3 tools/tick_cost.py --ticks 6 [--history-ticks 36]

Builds the ``tick_refresh`` lake of ``perfbench`` (seed 1, 1,500 stations,
a history of ``--history-ticks`` 5-minute tick files, 36 = 3 h by default)
in a temporary directory, drains it with ``pipeline.run_medallion``, runs
two untimed warm-up ticks, then lands ``--ticks`` more tick files one at a
time, calling ``run_medallion`` after each.  It prints one JSON line for
the session start, one for the history drain, one per measured tick and a
last line with the medians.

Jobs are counted by job id across the whole tick, whatever thread
submitted them: the silver drain runs on the streaming query's own
thread under its own job group, so ``getJobIdsForGroup`` on the caller's
group would miss its jobs.  Stages and tasks are summed over those jobs
(skipped stages included, as ``perfbench/tracing.py`` counts them).  CPU
seconds are those of this process and its descendants (the JVM and its
Python workers); each line's ``jvm`` object splits the JVM's own CPU by
thread class (``tools/jvm_cpu.py``).
"""

from __future__ import annotations

import argparse
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

from velib_lakehouse_spark import pipeline  # noqa: E402


class JobCursor:
    """Walks the contiguous Spark job ids the status tracker has seen."""

    def __init__(self, sc) -> None:
        self.st = sc.statusTracker()
        self.next_id = 0
        self.take()

    def _settled(self, job_id: int) -> bool:
        info = self.st.getJobInfo(job_id)
        return info is not None and info.status in ("SUCCEEDED", "FAILED")

    def take(self, settle_s: float = 0.5) -> list[int]:
        """Job ids finished since the last call.  Listener events reach the
        tracker asynchronously, so a missing id is probed again once after
        ``settle_s`` before the walk stops."""
        ids = []
        retried = False
        while True:
            if self._settled(self.next_id):
                ids.append(self.next_id)
                self.next_id += 1
                retried = False
            elif not retried:
                time.sleep(settle_s)
                retried = True
            else:
                return ids

    def counts(self, ids: list[int]) -> tuple[int, int]:
        stages = tasks = 0
        for j in ids:
            for s in self.st.getJobInfo(j).stageIds:
                stage = self.st.getStageInfo(s)
                stages += 1
                tasks += stage.numTasks if stage else 0
        return stages, tasks


def measure(
    spark, threads, feed, bronze: str, lake: str, staging: str, ticks: int
) -> list[dict]:
    cursor = JobCursor(spark.sparkContext)
    samples = []
    for _ in range(ticks):
        gen.write_tick(feed, bronze, staging)
        cursor.take()
        threads.take()
        cpu, wall = bench.process_cpu_s(), time.perf_counter()
        meta = pipeline.run_medallion(spark, bronze, lake)
        wall, cpu = time.perf_counter() - wall, bench.process_cpu_s() - cpu
        jvm = threads.take()
        jobs = cursor.take()
        stages, tasks = cursor.counts(jobs)
        samples.append(
            {
                "gold_version": meta["gold_version"],
                "jobs": len(jobs),
                "stages": stages,
                "tasks": tasks,
                "wall_s": round(wall, 3),
                "cpu_s": round(cpu, 2),
                "jvm": jvm,
            }
        )
        print(json.dumps(samples[-1]), flush=True)
    return samples


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--ticks", type=int, default=6)
    ap.add_argument("--history-ticks", type=int, default=36)
    args = ap.parse_args()
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    work = tempfile.mkdtemp(prefix="tick-cost-")
    try:
        bronze, lake, staging = (os.path.join(work, d) for d in ("bronze", "lake", "staging"))
        os.makedirs(staging)
        feed = gen.StationFeed(1, 1500, 50)
        gen.make_lake(feed, bronze, args.history_ticks)
        spark = bench.start_session()
        try:
            threads = jvm_cpu.ThreadCpu(spark)
            print(json.dumps({"phase": "session_start", "jvm": threads.take()}), flush=True)
            pipeline.run_medallion(spark, bronze, lake)
            print(json.dumps({"phase": "history_drain", "jvm": threads.take()}), flush=True)
            for _ in range(2):
                gen.write_tick(feed, bronze, staging)
                pipeline.run_medallion(spark, bronze, lake)
            samples = measure(spark, threads, feed, bronze, lake, staging, args.ticks)
        finally:
            bench.stop_session(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    keys = ("jobs", "stages", "tasks", "wall_s", "cpu_s")
    median = {k: round(statistics.median(s[k] for s in samples), 3) for k in keys}
    median["jvm"] = {
        c: round(statistics.median(s["jvm"][c] for s in samples), 2) for c in samples[0]["jvm"]
    }
    print(json.dumps({"median": median}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
