"""Steadiness check: run workloads over several seeds and report spreads.

    python3 perfbench/steady.py --seeds 1-10 [--workloads tick_refresh,...]
        [--seconds 10] [--trace 0] [--out steady.json]

For every workload and end-to-end metric it prints the median of the
runs and the spread, the distance between the first and third quartile
(``statistics.quantiles(values, n=4)``) as a share of the median, next
to the metric's bound from ``BENCHMARK.json``.  Each run is a fresh
``run.py`` process started from the current directory.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def _seeds(spec: str) -> list[int]:
    if "-" in spec:
        lo, hi = spec.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in spec.split(",")]


def spread(values: list[float]) -> float:
    q = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return (q[2] - q[0]) / med if med else float("nan")


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    start = time.perf_counter()
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        capture_output=True, text=True, timeout=600,
    )
    wall = time.perf_counter() - start
    lines = proc.stdout.strip().splitlines()
    if proc.returncode or len(lines) < 2:
        raise RuntimeError(f"{workload} seed {seed} failed:\n{proc.stderr[-3000:]}")
    result = json.loads(lines[-1])
    details = json.loads(lines[-2])["details"]
    return {"seed": seed, "wall_s": wall, "result": result, "details": details}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--workloads", default=None)
    ap.add_argument("--seconds", type=int, default=None)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out", default=None)
    args = ap.parse_args()

    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    workloads = args.workloads.split(",") if args.workloads else [
        w["name"] for w in bench["workloads"]
    ]
    seconds = args.seconds or bench["run_seconds"]
    report = {}
    for workload in workloads:
        runs = []
        for seed in _seeds(args.seeds):
            r = run_once(workload, seed, seconds, args.trace)
            m = r["result"]["metrics"]
            steal = r["details"]["cpu_window"]["steal"]
            print(workload, seed, f"{r['wall_s']:.1f}s", r["result"]["correct"],
                  {k: round(v["value"], 4) for k, v in m.items()}, f"steal {steal:.3f}",
                  flush=True)
            runs.append(r)
        names = runs[0]["result"]["metrics"]
        summary = {}
        for name in names:
            values = [r["result"]["metrics"][name]["value"] for r in runs]
            summary[name] = {
                "median": statistics.median(values),
                "spread": spread(values) if len(values) > 1 else None,
                "bound": bounds.get(name),
            }
            print(f"  {name:28s} median {summary[name]['median']:.4f}"
                  f" spread {summary[name]['spread']:.3f} bound {bounds.get(name)}")
        walls = [r["wall_s"] for r in runs]
        print(f"  wall median {statistics.median(walls):.1f}s max {max(walls):.1f}s")
        report[workload] = {
            "seeds": [r["seed"] for r in runs],
            "all_correct": all(r["result"]["correct"] for r in runs),
            "wall_s": {"median": statistics.median(walls), "max": max(walls)},
            # host load seen inside the machine: CPU time stolen by the hypervisor
            "steal": statistics.median(r["details"]["cpu_window"]["steal"] for r in runs),
            "metrics": summary,
        }
    if args.out:
        with open(args.out, "w") as f:
            json.dump(report, f, indent=1)


if __name__ == "__main__":
    main()
