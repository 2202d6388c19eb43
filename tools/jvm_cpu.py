"""CPU seconds of the local driver JVM, split by thread class.

``ThreadCpu(spark).take()`` returns the CPU the JVM used since the
previous call (since its launch on the first call), read from
``/proc/<pid>/task/*/stat`` and grouped by thread name (as the kernel
keeps it, cut to 15 characters):

* ``jit``: ``C1 CompilerThread*`` and ``C2 CompilerThread*``;
* ``gc``: ``GC Thread*`` and ``G1 *``;
* ``tasks``: ``Executor task launch*``;
* ``other``: every other live thread;
* ``unattributed``: the process CPU minus the sum over live threads, i.e.
  the CPU of threads that exited in between.  HotSpot retires idle
  compiler threads, and their CPU leaves ``/proc/<pid>/task`` with them,
  so ``jit`` is a lower bound.
"""

from __future__ import annotations

import os

CLASSES = (
    ("jit", ("C1 CompilerThre", "C2 CompilerThre")),
    ("gc", ("GC Thread", "G1 ")),
    ("tasks", ("Executor task l",)),
)
_TICK = os.sysconf("SC_CLK_TCK")


def _cpu_s(stat_path: str) -> tuple[str, float]:
    """(name, utime + stime in seconds) from one ``stat`` file."""
    with open(stat_path) as f:
        text = f.read()
    name = text[text.index("(") + 1 : text.rindex(")")]
    fields = text.rsplit(")", 1)[1].split()
    return name, (int(fields[11]) + int(fields[12])) / _TICK


def thread_class(name: str) -> str:
    for cls, prefixes in CLASSES:
        if name.startswith(prefixes):
            return cls
    return "other"


class ThreadCpu:
    """Per-class CPU deltas of the JVM behind ``spark``'s py4j gateway."""

    def __init__(self, spark) -> None:
        self.pid = spark.sparkContext._gateway.proc.pid
        self.threads: dict[str, float] = {}
        self.total = 0.0

    def take(self) -> dict[str, float]:
        task_dir = f"/proc/{self.pid}/task"
        threads = {}
        for tid in os.listdir(task_dir):
            try:
                threads[tid] = _cpu_s(f"{task_dir}/{tid}/stat")
            except OSError:  # the thread exited while listing
                continue
        _, total = _cpu_s(f"/proc/{self.pid}/stat")
        split = {cls: 0.0 for cls, _ in CLASSES}
        split["other"] = 0.0
        for tid, (name, cpu) in threads.items():
            split[thread_class(name)] += cpu - self.threads.get(tid, 0.0)
        split["unattributed"] = (total - self.total) - sum(split.values())
        self.threads = {tid: cpu for tid, (_, cpu) in threads.items()}
        self.total = total
        return {cls: round(v, 2) for cls, v in split.items()}
