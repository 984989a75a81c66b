"""PromHouse benchmark: one workload, one run.

    python3 perfbench/run.py --workload {ingest,query,analytics} --seed N \\
        --seconds S --trace {0,1}

Run from the root of a checkout. Starts the program from the checkout's
source (the server, or a Spark process for ``analytics``), drives the
workload, checks every answer, and prints a report
and a detail line, then, as the last line of standard output, one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics``. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1`` the
program runs traced and the metrics are the per-layer ones (see
perfbench/README.md). Scratch files live in ``.perfbench_work/`` and are
removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import sys
import time

T_LAUNCH = time.perf_counter()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")


def overhead(workload: str, traced_e2e: dict) -> dict:
    """Traced minus untraced end-to-end, as a share of the last untraced
    run of the workload in this checkout (empty if there was none)."""
    try:
        with open(os.path.join(WORK_ROOT, f"last-{workload}.json")) as f:
            base = json.load(f)
    except (OSError, ValueError):
        return {}
    return {k: traced_e2e[k] / v - 1.0 for k, v in base.items() if v and k in traced_e2e}


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=("ingest", "query", "analytics"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "promhouse_spark", "server.py")):
        print(f"perfbench: no promhouse_spark/ beside {HERE}; run from a checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import layers
    import workloads
    from server import SPARK_CPUS

    work = os.path.join(WORK_ROOT, f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    try:
        res = workloads.WORKLOADS[args.workload](
            ROOT, work, args.seed, args.seconds, bool(args.trace)
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)

    detail = res["detail"]
    detail["stamp"] = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": os.cpu_count(), "spark_cpus": SPARK_CPUS,
        "loadavg_1m": detail["phase"]["loadavg_1m"],
        "steal_pct": detail["phase"]["steal_pct"], "python": platform.python_version(),
        "run_s": time.perf_counter() - T_LAUNCH,
    }
    if args.trace:
        detail["traced_e2e"] = res["e2e"]
        detail["tracing_overhead"] = overhead(args.workload, res["e2e"])
        chosen = {
            name: {"value": res["layers"][name], "unit": unit}
            for name, unit, _ in layers.METRICS
        }
    else:
        with open(os.path.join(WORK_ROOT, f"last-{args.workload}.json"), "w") as f:
            json.dump(res["e2e"], f)
        units = {name: unit for name, unit, _, _ in workloads.E2E}
        chosen = {name: {"value": res["e2e"][name], "unit": units[name]} for name in units}

    for shape, d in detail["shapes"].items():
        print(f"# {shape}: n={d['n']} p50={d.get('p50_ms', 0):.1f} ms "
              f"mean={d.get('mean_ms', 0):.1f} ms  windows(t_s, n, p50_ms)={d['windows']}")
    for name, m in chosen.items():
        print(f"# {name} = {m['value']:.6g} {m['unit']}")
    for name, v in detail.get("layers_by_shape", {}).items():
        print(f"# {name} = {v:.6g}")
    for name, v in detail.get("tracing_overhead", {}).items():
        print(f"# tracing overhead on {name} = {v:+.1%}")
    print(f"# failed/attempted = {res['failed']}/{res['attempted']}; answers "
          + ("correct" if res["correct"] else "WRONG: " + "; ".join(detail["problems"])))
    print(json.dumps({"detail": detail}))
    print(json.dumps({
        "correct": res["correct"], "attempted": res["attempted"],
        "failed": res["failed"], "metrics": chosen,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
