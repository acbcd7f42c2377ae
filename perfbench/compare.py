"""Compare two captures of ``capture.py`` (or summarise one).

    python3 perfbench/compare.py perfbench/.out/base.jsonl perfbench/.out/change.jsonl

The two captures should come from one paired ``capture.py`` call (two
``--checkout``), so that the runs of one seed ran back to back. For every
workload and end-to-end metric (untraced runs) it prints each side's
median and quartiles, the quartile spread as a share of the median next to
the metric's bound, and how many seed-matched pairs the second capture won
(ties count for neither side). The verdict is GAIN when the second side
won at least 9 of 10 pairs and the medians differ by more than the first
side's quartile spread; REGRESSION when its median is worse by more than
the bound; UNRESOLVED when either side's spread is wider than the bound,
unless every run of the second side reads better than every run of the
first. For per-layer
metrics (traced runs) it prints both medians and the delta with its base,
and per side the tracing overhead: traced ``trace.op_p50_s`` minus
untraced ``op_p50_s``.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def load(path: str) -> dict:
    """{(workload, trace): {seed: metrics}} of one capture."""
    runs: dict = defaultdict(dict)
    with open(path) as f:
        for line in f:
            if line.strip():
                rec = json.loads(line)
                lab = rec["label"]
                metrics = {k: v["value"] for k, v in rec["result"]["metrics"].items()}
                metrics["_failed"] = rec["result"]["failed"]
                runs[(lab["workload"], lab["trace"])][lab["seed"]] = metrics
    return runs


def quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) < 2:
        v = values[0]
        return v, v, v
    q1, med, q3 = statistics.quantiles(values, n=4)
    return q1, med, q3


def _fmt(x: float) -> str:
    return f"{x:.4g}"


def main(argv=None) -> int:
    argv = sys.argv[1:] if argv is None else argv
    if len(argv) not in (1, 2):
        print(__doc__, file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    sides = [load(p) for p in argv]
    a = sides[0]
    b = sides[-1]
    workloads = [w["name"] for w in bench["workloads"]]

    print("== end to end (untraced runs)")
    for wl in workloads:
        ra, rb = a.get((wl, 0), {}), b.get((wl, 0), {})
        if not ra:
            continue
        print(f"-- {wl}: {len(ra)} runs" + (f" vs {len(rb)} runs" if len(sides) == 2 else ""))
        for m in bench["end_to_end"]:
            name, lower = m["name"], m["better"] == "lower"
            va = [r[name] for r in ra.values()]
            q1, med, q3 = quartiles(va)
            spread = (q3 - q1) / med if med else float("inf")
            line = (f"   {name:14s} A med {_fmt(med)} [{_fmt(q1)}, {_fmt(q3)}] "
                    f"spread {spread:.3f} (bound {m['bound']})")
            if len(sides) == 2 and rb:
                vb = [r[name] for r in rb.values()]
                b1, bmed, b3 = quartiles(vb)
                seeds = sorted(set(ra) & set(rb))
                won = sum((rb[s][name] < ra[s][name]) if lower else (rb[s][name] > ra[s][name])
                          for s in seeds)
                worse = (bmed - med) / med if lower else (med - bmed) / med
                b_spread = (b3 - b1) / bmed if bmed else float("inf")
                all_better = (max(vb) < min(va)) if lower else (min(vb) > max(va))
                verdict = "REGRESSION" if worse > m["bound"] else ""
                if (seeds and won >= 0.9 * len(seeds) and abs(bmed - med) > (q3 - q1)
                        and worse < 0):
                    verdict = "GAIN"
                if max(spread, b_spread) > m["bound"] and not all_better:
                    verdict = "UNRESOLVED"
                line += (f" | B med {_fmt(bmed)} [{_fmt(b1)}, {_fmt(b3)}] "
                         f"spread {b_spread:.3f} B won {won}/{len(seeds)} pairs {verdict}")
            print(line)
        fails = [r["_failed"] for s in sides for r in s.get((wl, 0), {}).values()]
        print(f"   failed ops per run: max {max(fails) if fails else 0}")

    print("== per layer (traced runs)")
    for wl in workloads:
        ta, tb = a.get((wl, 1), {}), b.get((wl, 1), {})
        if not ta:
            continue
        print(f"-- {wl}")
        for m in bench["per_layer"]:
            name = m["name"]
            ma = statistics.median(r[name] for r in ta.values())
            line = f"   {name:32s} A {_fmt(ma)}"
            if len(sides) == 2 and tb:
                mb = statistics.median(r[name] for r in tb.values())
                rel = f"{(mb - ma) / ma:+.1%} of {_fmt(ma)}" if ma else f"base {_fmt(ma)}"
                line += f"  B {_fmt(mb)}  delta {_fmt(mb - ma)} ({rel})"
            print(line)
        for tag, side in zip("AB", sides):
            t_p50 = [r["trace.op_p50_s"] for r in side.get((wl, 1), {}).values()]
            u_p50 = [r["op_p50_s"] for r in side.get((wl, 0), {}).values()]
            if t_p50 and u_p50:
                over = statistics.median(t_p50) - statistics.median(u_p50)
                print(f"   tracing overhead {tag}: {_fmt(over)} s on op_p50_s "
                      f"({over / statistics.median(u_p50):+.1%})")
    return 0


if __name__ == "__main__":
    sys.exit(main())
