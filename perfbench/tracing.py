"""Per-layer tracing for the medallion benchmark, from outside the package.

``Tracer.install`` replaces the module attributes the program calls
through with timing wrappers; nothing inside ``velib_lakehouse_spark``
changes:

* ``pipeline.run_silver_stream``  -> span ``silver.drain`` plus the
  micro-batch ``durationMs`` phases read by a ``StreamingQueryListener``
* ``pipeline.write_snapshot``     -> span ``gold.write`` (the lazy
  history/alert plan runs here) with its Spark jobs and tasks; the gap
  between the silver drain and this span is ``gold.plan``
* ``pipeline.read_snapshot``      -> span ``gold.read_snapshot``; it also
  opens ``gold.verify`` (the snapshot read plus the two counts), which
  the workload closes when ``run_medallion`` returns
* ``serving.ROUTES`` entries      -> op spans ``serving.alerts_payload`` /
  ``serving.health_payload`` with jobs, stages and tasks per request;
  every other request of a route runs untraced, for the overhead
* ``operators.velib.load_table``  -> span ``catalog.load_table``

Jobs are attributed with job groups and read back through
``statusTracker()``.  Spans stay in memory as (id, name, start, end,
parent, op id) and are written out once, when the run ends.  Wrappers
record only while ``Tracer.enabled`` is set, so a run can interleave
traced and untraced operations and report the tracing overhead.
"""

from __future__ import annotations

import json
import statistics
import threading
import time
from collections import defaultdict
from datetime import datetime

from pyspark.sql.streaming import StreamingQueryListener

PHASES = {
    "getBatch": "silver.get_batch_ms",
    "addBatch": "silver.add_batch_ms",
    "latestOffset": "silver.latest_offset_ms",
    "queryPlanning": "silver.query_planning_ms",
    "walCommit": "silver.wal_commit_ms",
    "commitOffsets": "silver.commit_offsets_ms",
}


class _ProgressListener(StreamingQueryListener):
    """Collects micro-batch progress per query id (called on a py4j thread)."""

    def __init__(self) -> None:
        self.cond = threading.Condition()
        self.progress: list[dict] = []
        self.terminated: set[str] = set()

    def onQueryStarted(self, event) -> None:  # noqa: N802 - listener contract
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        p = event.progress
        started = datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp()
        with self.cond:
            self.progress.append(
                {
                    "query": str(p.id),
                    "started": started,
                    "rows": int(p.numInputRows),
                    "durationMs": dict(p.durationMs),
                }
            )

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        with self.cond:
            self.terminated.add(str(event.id))
            self.cond.notify_all()

    def batches(self, t0: float, t1: float, timeout: float = 10.0) -> list[dict]:
        """Micro-batches that started between wall-clock ``t0`` and ``t1``.

        Listener events arrive asynchronously, after ``awaitTermination``
        has returned, so this waits (bounded) until a query with batches
        in the interval has reported its termination; the bus delivers a
        query's progress events before its termination event.
        """
        deadline = time.monotonic() + timeout
        with self.cond:
            while True:
                found = [b for b in self.progress if t0 <= b["started"] <= t1]
                if {b["query"] for b in found} & self.terminated:
                    return found
                if time.monotonic() >= deadline:
                    return found
                self.cond.wait(deadline - time.monotonic())


class Tracer:
    """Spans and per-operation layer samples for one benchmark run."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self.enabled = False
        self.spans: list[tuple[int, str, float, float, int | None, int]] = []
        self.samples: dict[str, list[float]] = defaultdict(list)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._next_id = 0
        self._verify_start: dict[int, float] = {}
        self._drains: list[tuple[float, float, float]] = []  # (wall0, wall1, drain_s)
        self._listener = _ProgressListener()
        self._restore: list[tuple[object, str, object]] = []

    # ---- spans ---------------------------------------------------------

    def _new_id(self) -> int:
        with self._lock:
            self._next_id += 1
            return self._next_id

    def _stack(self) -> list[tuple[int, int]]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _record(self, span: tuple[int, str, float, float, int | None, int]) -> None:
        with self._lock:
            self.spans.append(span)

    def sample(self, key: str, value: float) -> None:
        with self._lock:
            self.samples[key].append(value)

    def span(self, name: str, fn, *args, **kwargs):
        """Call ``fn`` inside a span; a span opened on an empty stack is an op."""
        stack = self._stack()
        parent, op = stack[-1] if stack else (None, None)
        sid = self._new_id()
        stack.append((sid, sid if op is None else op))
        start = time.perf_counter()
        try:
            return fn(*args, **kwargs)
        finally:
            end = time.perf_counter()
            stack.pop()
            self._record((sid, name, start, end, parent, sid if op is None else op))
            self._local.last = (sid, start, end)

    def last_span(self) -> tuple[int, float, float]:
        """(id, start, end) of the span this thread closed most recently."""
        return self._local.last

    def _job_counts(self, group: str) -> tuple[int, int, int]:
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        stages = tasks = 0
        for j in jobs:
            info = st.getJobInfo(j)
            for s in info.stageIds if info else ():
                stage = st.getStageInfo(s)
                stages += 1
                tasks += stage.numTasks if stage else 0
        return len(jobs), stages, tasks

    def grouped(self, prefix: str, name: str, fn, *args, **kwargs):
        """``span`` under its own job group; samples its jobs/stages/tasks."""
        group = f"perfbench-{self._new_id()}"
        self.sc.setJobGroup(group, name)
        try:
            return self.span(name, fn, *args, **kwargs)
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            jobs, stages, tasks = self._job_counts(group)
            self.sample(f"{prefix}.jobs", jobs)
            self.sample(f"{prefix}.stages", stages)
            self.sample(f"{prefix}.tasks", tasks)

    # ---- wrappers ------------------------------------------------------

    def _patch(self, owner, attr: str, wrapper) -> None:
        is_dict = isinstance(owner, dict)
        original = owner[attr] if is_dict else getattr(owner, attr)
        self._restore.append((owner, attr, original))
        if is_dict:
            owner[attr] = wrapper(original)
        else:
            setattr(owner, attr, wrapper(original))

    def install(self) -> None:
        from velib_lakehouse_spark import pipeline, serving
        from velib_lakehouse_spark.operators import velib

        self.spark.streams.addListener(self._listener)

        def silver(orig):
            def run_silver_stream(*a, **kw):
                if not self.enabled:
                    return orig(*a, **kw)
                wall0 = time.time()
                out = self.span("silver.drain", orig, *a, **kw)
                _, start, end = self.last_span()
                # its micro-batch progress is collected once the op has
                # returned (close_medallion): the listener wait stays outside
                with self._lock:
                    self._drains.append((wall0, time.time(), end - start))
                return out

            return run_silver_stream

        def write(orig):
            def write_snapshot(*a, **kw):
                if not self.enabled:
                    return orig(*a, **kw)
                return self.grouped("gold", "gold.write", orig, *a, **kw)

            return write_snapshot

        def read(orig):
            def read_snapshot(*a, **kw):
                if not self.enabled:
                    return orig(*a, **kw)
                stack = self._stack()
                if stack:
                    with self._lock:
                        self._verify_start.setdefault(stack[-1][1], time.perf_counter())
                return self.span("gold.read_snapshot", orig, *a, **kw)

            return read_snapshot

        calls: dict[str, int] = defaultdict(int)

        def route(name):
            def wrap(orig):
                def payload(*a, **kw):
                    if not self.enabled:
                        return orig(*a, **kw)
                    with self._lock:
                        calls[name] += 1
                        traced = calls[name] % 2 == 0
                    start = time.perf_counter()
                    if traced:
                        out = self.grouped("velib", f"serving.{name}_payload", orig, *a, **kw)
                        sid, s0, s1 = self.last_span()
                        self.sample(f"serving.{name}_payload_s", s1 - s0)
                        self._record_loads(sid)
                    else:
                        out = orig(*a, **kw)
                    # every other request per route runs untraced, for the overhead
                    took = time.perf_counter() - start
                    self.sample(f"trace.{'traced' if traced else 'untraced'}.{name}", took)
                    self.sample("serving.handler_s", took)
                    return out

                return payload

            return wrap

        def load(orig):
            def load_table(*a, **kw):
                if not self.enabled:
                    return orig(*a, **kw)
                return self.span("catalog.load_table", orig, *a, **kw)

            return load_table

        self._patch(pipeline, "run_silver_stream", silver)
        self._patch(pipeline, "write_snapshot", write)
        self._patch(pipeline, "read_snapshot", read)
        self._patch(serving.ROUTES, "/alerts/critical", route("alerts"))
        self._patch(serving.ROUTES, "/health/pipeline", route("health"))
        self._patch(velib, "load_table", load)

    def uninstall(self) -> None:
        for owner, attr, original in reversed(self._restore):
            if isinstance(owner, dict):
                owner[attr] = original
            else:
                setattr(owner, attr, original)
        self._restore.clear()
        self.spark.streams.removeListener(self._listener)

    # ---- derived samples -----------------------------------------------

    def _record_progress(self, batches: list[dict], drain_s: float) -> None:
        self.sample("silver.drain_s", drain_s)
        self.sample("silver.batches", len(batches))
        self.sample("silver.rows", sum(b["rows"] for b in batches))
        trigger_ms = sum(b["durationMs"].get("triggerExecution", 0) for b in batches)
        self.sample("silver.start_overhead_s", drain_s - trigger_ms / 1000)
        for phase, key in PHASES.items():
            self.sample(key, sum(b["durationMs"].get(phase, 0) for b in batches))

    def _record_loads(self, op: int) -> None:
        with self._lock:
            loads = [s for s in self.spans if s[1] == "catalog.load_table" and s[5] == op]
        self.sample("catalog.load_table_calls", len(loads))
        self.sample("catalog.load_table_s", sum(e - s for _, _, s, e, _, _ in loads))

    def close_medallion(self, op: int, end: float) -> None:
        """Derive the gold spans of the traced ``run_medallion`` op ``op``.

        ``gold.plan`` runs from the silver drain's end to the gold write:
        the batch read of silver (file listing, schema) and the history /
        alert plan.  ``gold.verify`` runs from ``read_snapshot`` to the
        return: the snapshot read plus the two counts.  Called after the op
        has returned, it also collects the op's micro-batch progress, so the
        wait for the listener's events is charged to no span.
        """
        with self._lock:
            verify_start = self._verify_start.pop(op, None)
            mine = {n: (s, e) for _, n, s, e, _, o in self.spans if o == op}
            drains, self._drains = self._drains, []
        for wall0, wall1, drain_s in drains:
            self._record_progress(self._listener.batches(wall0, wall1), drain_s)
        drain, write = mine.get("silver.drain"), mine.get("gold.write")
        for name, span in (
            ("gold.plan", (drain[1], write[0]) if drain and write else None),
            ("gold.verify", (verify_start, end) if verify_start is not None else None),
        ):
            if span is not None:
                self._record((self._new_id(), name, span[0], span[1], op, op))
                self.sample(f"{name}_s", span[1] - span[0])
        if write:
            self.sample("gold.write_s", write[1] - write[0])

    def request_overhead(self) -> float | None:
        """Traced minus untraced median handler time, averaged over routes."""
        diffs = []
        for name in ("alerts", "health"):
            traced = self.samples.get(f"trace.traced.{name}")
            untraced = self.samples.get(f"trace.untraced.{name}")
            if traced and untraced:
                diffs.append(statistics.median(traced) - statistics.median(untraced))
        return sum(diffs) / len(diffs) if diffs else None

    # ---- output --------------------------------------------------------

    def self_times(self) -> dict[str, float]:
        """Total self time per span name: duration minus child coverage."""
        children: dict[int, list[tuple[float, float]]] = defaultdict(list)
        for _, _, s, e, parent, _ in self.spans:
            if parent is not None:
                children[parent].append((s, e))
        totals: dict[str, float] = defaultdict(float)
        for sid, name, s, e, _, _ in self.spans:
            totals[name] += (e - s) - _covered(children.get(sid, []))
        return dict(totals)

    def dump(self, path: str) -> None:
        keys = ("id", "name", "start", "end", "parent", "op")
        with open(path, "w") as f:
            json.dump(
                {
                    "spans": [dict(zip(keys, span)) for span in self.spans],
                    "self_time_s": self.self_times(),
                },
                f,
            )


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``intervals``."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is not None and s <= cur_e:
            cur_e = max(cur_e, e)
            continue
        if cur_e is not None:
            total += cur_e - cur_s
        cur_s, cur_e = s, e
    if cur_e is not None:
        total += cur_e - cur_s
    return total
