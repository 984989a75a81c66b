"""The ``analytics`` workload's Spark process: bench.py's headline
queries, in-process, through the noop sink.

    python perfbench/analytics.py --work DIR --seed N --passes P \\
        --launch T [--trace-dir DIR]

Set-up generates the ten testdata tables at scale factor ``SF`` with
``tools/gen_sf.py`` (seeded by ``--seed``), starts a Spark session and
resolves the table handles. The first pass runs every query with
``collect`` and compares its hash with the DuckDB twin
(``tools/check_oracle.py``); it is also the warm-up. Then ``--passes``
timed passes run every query through the noop sink, in ``bench.py``
order. ``--launch`` is the ``time.monotonic()`` at which the benchmark
began this run's set-up. The result goes to ``DIR/analytics.json``.

With ``--trace-dir`` Spark's event log is on and each query's jobs carry
its op id (the ``perfbench.op`` local property), so jobs fired while the
query was built (eager jobs) can be told from those of its execution.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, os.path.join(ROOT, "tools")]

import procfs  # noqa: E402
from eventlog import OP_PROPERTY, event_log_conf  # noqa: E402

SF = 0.01


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--work", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--passes", type=int, required=True)
    p.add_argument("--launch", type=float, required=True)
    p.add_argument("--trace-dir")
    args = p.parse_args()

    import gen_sf

    sf_dir = os.path.join(args.work, f"sf{SF}")
    gen_sf.generate(sf_dir, SF, seed=args.seed)

    import __spark_entry__ as entry
    from bench import HEADLINE
    from check_oracle import compare_query, duckdb_con
    from promhouse_spark.session import get_spark, register_testdata
    from promhouse_spark.workloads import QUERIES

    conf = event_log_conf(args.trace_dir) if args.trace_dir else None
    spark = get_spark(app_name="perfbench-analytics", extra_conf=conf)
    # the check goes through the driver contract's wrappers, the timed
    # passes call the builders as bench.py does
    checked, oracles = entry.queries(), entry.oracle_sql()
    register_testdata(spark, sf_dir)
    setup_done = time.monotonic()

    ops: list[dict] = []
    problems: dict[str, str] = {}

    def tag() -> None:
        spark.sparkContext.setLocalProperty(OP_PROPERTY, str(len(ops)))

    # answer check, which is also the warm-up pass
    con = duckdb_con(sf_dir)
    for name in HEADLINE:
        tag()
        t0 = time.perf_counter()
        try:
            found = compare_query(name, checked[name], oracles[name], spark, con, sf_dir)
        except Exception as e:  # noqa: BLE001 - a failing query is a failed op
            found = [f"{type(e).__name__}: {e}"[:300]]
        if found:
            problems[name] = "; ".join(found)
        ops.append({"shape": name, "timed": False, "t0": t0,
                    "latency_s": time.perf_counter() - t0})
    con.close()

    meter = procfs.PhaseMeter(os.getpid())
    meter.start()
    for _ in range(args.passes):
        for name in HEADLINE:
            tag()
            t0 = time.perf_counter()
            op = {"shape": name, "timed": True, "t0": t0}
            try:
                df = QUERIES[name](spark, sf_dir)
                op["build_end_ms"] = time.time() * 1000.0
                t1 = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
                t2 = time.perf_counter()
                op.update(latency_s=t2 - t0, build_s=t1 - t0, exec_s=t2 - t1)
            except Exception as e:  # noqa: BLE001
                op.update(latency_s=time.perf_counter() - t0,
                          problem=f"{name}: {type(e).__name__}: {e}"[:300])
            ops.append(op)
    reading = meter.stop()
    spark.stop()  # closes the event log of a traced run

    with open(os.path.join(args.work, "analytics.json"), "w") as f:
        json.dump({"setup_s": setup_done - args.launch, "sf": SF, "passes": args.passes,
                   "t_start": meter.t_start, "ops": ops, "phase": reading,
                   "problems": problems}, f)


if __name__ == "__main__":
    main()
