"""Per-query floor of a whole query family, to choose a workload's ops.

    python3 perfbench/survey.py --workload sql_cold

Runs every registered query of the workload's family (``FAMILIES``) in one
session, the same way the workload runs its ops: one untimed pass that
checks each output against its oracle digest, then ``--passes`` traced
passes. For each query it prints the median over the traced passes of its
latency, its build time (latency minus the time at the noop sink: table
loads, schema inference and plan construction) and its build-phase Spark
jobs, one JSON line each. The last line names the ``--pick`` queries that
passed the check and lie nearest the family's medians of build time, build
jobs and latency, by the sum of the three relative distances.
"""

from __future__ import annotations

import argparse
import json
import statistics
import sys

import run as bench
import tracing

FAMILIES = {
    "sql_cold": ("sql", "tpch"),
    "graph_session": ("graph", "iterative", "dedup", "similarity"),
}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(FAMILIES))
    ap.add_argument("--passes", type=int, default=2)
    ap.add_argument("--pick", type=int, default=5)
    args = ap.parse_args(argv)

    from etl_pipeline_spark.plans.registry import REGISTRY, _ensure_loaded

    _ensure_loaded()
    family = [n for n, q in REGISTRY.items() if set(q.tags) & set(FAMILIES[args.workload])]
    run = bench.Run(argparse.Namespace(workload=args.workload, seed=0, seconds=0, trace=1))
    run.order = family
    with bench.engine_env(run):
        bench.prepare_inputs(run)
        run.setup()
        run.untimed_pass()
        run.check_outputs()
        run.tracer = tracing.Tracer(run.spark)
        tracing.install(run.tracer, run.warehouse)
        samples: dict[str, list] = {n: [] for n in family}
        for _ in range(args.passes):
            if run.spec["clear"] == "pass":
                run._clear()
            for name in family:
                i = len(run.op_names)
                run.op_names.append(name)
                run._op(i, name)
                rec = run.layer_ops[-1]
                samples[name].append((run.lat[-1], rec["spark.build.jobs"],
                                      rec["spark.sink.self_s"]))

    rows = []
    for name in family:
        lat, jobs, sink = (statistics.median(x) for x in zip(*samples[name]))
        rows.append({"query": name, "op_s": round(lat, 4), "build_s": round(lat - sink, 4),
                     "build_jobs": jobs, "checked": name not in run.check_failures})
        print(json.dumps(rows[-1]))
    med = {k: statistics.median(r[k] for r in rows) for k in ("build_s", "build_jobs", "op_s")}

    def distance(r):
        return sum(abs(r[k] / m - 1) if m else r[k] for k, m in med.items())

    picked = sorted((r for r in rows if r["checked"]), key=distance)[:args.pick]
    print(json.dumps({
        "family": len(rows), "median": med,
        "failed_check": sorted(run.check_failures),
        "picked": [r["query"] for r in picked],
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
