"""Per-query profiler for the optimization rounds: times every registry
query through the noop sink (guide §1.4) and captures
``explain("formatted")`` for each, so plan shape (Exchange count, join
strategy, PushedFilters, Python-eval nodes) can be diffed before/after a
change.

Usage:
    python3 tools/profile_queries.py [sf_dir] [--out DIR] [--runs N]
                                     [--plans-only] [query ...]

Writes <out>/<query>.txt (formatted plan) and prints one JSON line with
{name: {"median": s, "min": s, "max": s, "flags": {...}}}. Without --out
the plans go to a fresh temporary directory, whose path is printed, so a
run never overwrites the plan captures committed under plans/.
"""

from __future__ import annotations

import json
import os
import re
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from promhouse_spark.session import get_spark, load_table  # noqa: E402


def plan_flags(plan: str) -> dict:
    """Red-flag summary of a formatted physical plan (guide §7.2)."""
    return {
        "exchanges": len(re.findall(r"\bExchange\b", plan)),
        "sort_merge_joins": len(re.findall(r"\bSortMergeJoin\b", plan)),
        "broadcast_joins": len(re.findall(r"\bBroadcastHashJoin\b", plan)),
        "shuffled_hash_joins": len(re.findall(r"\bShuffledHashJoin\b", plan)),
        "nested_loop": len(re.findall(r"NestedLoopJoin", plan)),
        "cartesian": len(re.findall(r"CartesianProduct", plan)),
        "python_eval": len(
            re.findall(r"BatchEvalPython|ArrowEvalPython|MapInArrow|MapInPandas|FlatMapGroupsInPandas", plan)
        ),
        "codegen_spans": len(set(re.findall(r"WholeStageCodegen \((\d+)\)", plan))),
    }


def main() -> None:
    args = [a for a in sys.argv[1:]]
    out_dir = None
    runs = 3
    plans_only = False
    sf_dir = "/root/testdata/sf0.1"
    names: list[str] = []
    i = 0
    while i < len(args):
        a = args[i]
        if a == "--out":
            out_dir = args[i + 1]
            i += 2
        elif a == "--runs":
            runs = int(args[i + 1])
            i += 2
        elif a == "--plans-only":
            plans_only = True
            i += 1
        elif os.path.isdir(a):
            sf_dir = a
            i += 1
        else:
            names.append(a)
            i += 1

    import __spark_entry__ as entrymod

    queries = entrymod.queries()
    if names:
        queries = {n: queries[n] for n in names}

    if out_dir is None:
        out_dir = tempfile.mkdtemp(prefix="profile-queries-")
        print(f"plans: {out_dir}", file=sys.stderr)
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark(app_name="promhouse-profile")
    load_table(spark, sf_dir, "lineitem").count()  # session warm-up

    results: dict[str, dict] = {}
    for name, fn in queries.items():
        spark.sparkContext.setJobDescription(f"profile:{name}")
        try:
            df = fn(spark, sf_dir)
            plan = spark._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            with open(os.path.join(out_dir, f"{name}.txt"), "w") as f:
                f.write(plan)
            entry: dict = {"flags": plan_flags(plan)}
            if not plans_only:
                ts: list[float] = []
                for attempt in range(runs + 1):
                    t0 = time.time()
                    fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
                    if attempt > 0:  # attempt 0 absorbs codegen/JIT warm-up
                        ts.append(time.time() - t0)
                ts.sort()
                entry.update(
                    median=round(ts[len(ts) // 2], 3),
                    min=round(ts[0], 3),
                    max=round(ts[-1], 3),
                )
            results[name] = entry
        except Exception as e:  # noqa: BLE001 — keep profiling the rest
            results[name] = {"error": f"{type(e).__name__}: {e}"[:200]}
        finally:
            spark.sparkContext.setJobDescription(None)

    timed = {n: r.get("median", 0.0) for n, r in results.items() if "median" in r}
    print(json.dumps({"sf_dir": sf_dir, "total_median": round(sum(timed.values()), 3), "queries": results}))
    spark.stop()


if __name__ == "__main__":
    main()
