"""Run one workload on several seeds and report how much each metric
spreads between runs.

    python3 perfbench/steadiness.py --workload query --seeds 1-10

Runs ``perfbench/run.py`` once per seed (for ``--seconds``, by default
``run_seconds`` of ``BENCHMARK.json``), one run at a time, and prints for
each metric its median, its quartiles (``statistics.quantiles(n=4)``) and
the spread: the distance between the quartiles as a share of the median.
Then, per op shape, the median over runs of each 5 s window's p50, which
shows whether latency still trends across the timed phase (warm-up
evidence). Raw results are appended to
``.perfbench_work/steadiness-<workload>.jsonl``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def spread(values: list[float]) -> tuple[float, float, float, float]:
    """(median, first quartile, third quartile, IQR / median)."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", default="1-10", help="first-last, inclusive")
    p.add_argument("--seconds", type=float)
    args = p.parse_args()
    if args.seconds is None:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            args.seconds = json.load(f)["run_seconds"]
    os.makedirs(os.path.join(ROOT, ".perfbench_work"), exist_ok=True)
    log = os.path.join(ROOT, ".perfbench_work", f"steadiness-{args.workload}.jsonl")
    runs = []
    for seed in seeds(args.seeds):
        out = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(args.seconds), "--trace", "0"],
            cwd=ROOT, stdout=subprocess.PIPE, text=True, check=True,
        ).stdout.splitlines()
        result, detail = json.loads(out[-1]), json.loads(out[-2])["detail"]
        runs.append((result, detail))
        with open(log, "a") as f:
            f.write(json.dumps({"seed": seed, "result": result, "detail": detail}) + "\n")
        print(f"seed {seed}: correct={result['correct']} failed={result['failed']}/"
              f"{result['attempted']} run_s={detail['stamp']['run_s']:.0f} "
              f"steal={detail['stamp']['steal_pct']:.2f}% " + " ".join(
                  f"{k}={v['value']:.4g}" for k, v in result["metrics"].items()),
              flush=True)
    print(f"\n{args.workload}: {len(runs)} runs, seconds={args.seconds}")
    for name in runs[0][0]["metrics"]:
        med, q1, q3, sp = spread([r["metrics"][name]["value"] for r, _ in runs])
        print(f"  {name:24s} median={med:.4g} q1={q1:.4g} q3={q3:.4g} spread={sp:.3f}")
    for shape in runs[0][1]["shapes"]:
        by_window: dict[float, list[float]] = {}
        for _, d in runs:
            for t, _, p50 in d["shapes"][shape]["windows"]:
                by_window.setdefault(t, []).append(p50)
        print(f"  {shape} window p50s (start_s: median over runs): " + ", ".join(
            f"{t:g}: {statistics.median(v):.0f}" for t, v in sorted(by_window.items())
        ))
    return 0


if __name__ == "__main__":
    sys.exit(main())
