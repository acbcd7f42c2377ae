"""Run the benchmark over several seeds and keep every run in a capture.

    python3 perfbench/capture.py --out perfbench/.out/base.jsonl --seeds 1-10
    python3 perfbench/capture.py --checkout PARENT --checkout CHANGE \
        --out perfbench/.out/parent.jsonl --out perfbench/.out/change.jsonl --seeds 1-10

With one checkout (by default this one), every seed of every workload runs
once. With two, the two checkouts run back to back for each seed, and
which of them goes first alternates from seed to seed, so that a drift of
the host's speed falls on both sides alike; each side goes to its own
``--out``. Each run is run by the checkout's own ``perfbench/run.py`` from
that checkout's root.

Each line of a capture is ``{"label": ..., "result": ..., "wall_s": ...}``:
the label line and the result line one run printed, and the run's wall
time. Runs are appended, so one capture can hold untraced and traced runs
of every workload; ``compare.py`` reads it. ``--seconds`` defaults to ``run_seconds`` of this checkout's
``BENCHMARK.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _seeds(spec: str) -> list[int]:
    out: list[int] = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def _run(checkout: str, workload: str, seed: int, seconds: int, trace: int) -> dict | None:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    t = time.perf_counter()
    proc = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True, timeout=900)
    wall_s = round(time.perf_counter() - t, 2)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or len(lines) < 2:
        print(f"{checkout} {workload} seed {seed}: exit {proc.returncode}\n"
              f"{proc.stderr[-2000:]}", file=sys.stderr)
        return None
    return {"label": json.loads(lines[-2])["label"], "result": json.loads(lines[-1]),
            "wall_s": wall_s}


def main(argv=None) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--checkout", action="append",
                    help="repository root to run; give it twice for paired runs")
    ap.add_argument("--out", action="append", required=True,
                    help="capture file, one per checkout")
    ap.add_argument("--seeds", default="1-10", help="e.g. 1-10 or 3,7,11")
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--seconds", type=int, default=bench["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    checkouts = [os.path.abspath(c) for c in (args.checkout or [ROOT])]
    if len(checkouts) > 2 or len(args.out) != len(checkouts):
        ap.error("give one or two --checkout, and one --out for each")

    for out in args.out:
        os.makedirs(os.path.dirname(os.path.abspath(out)), exist_ok=True)
    bad = 0
    for workload in args.workloads.split(","):
        for seed in _seeds(args.seeds):
            sides = list(range(len(checkouts)))
            if seed % 2:
                sides.reverse()
            for side in sides:
                rec = _run(checkouts[side], workload, seed, args.seconds, args.trace)
                if rec is None:
                    bad += 1
                    continue
                with open(args.out[side], "a") as f:
                    f.write(json.dumps(rec, ensure_ascii=False) + "\n")
                result = rec["result"]
                e2e = {k: round(v["value"], 4) for k, v in result["metrics"].items()}
                print(f"{'AB'[side]} {workload} seed {seed}: correct={result['correct']} "
                      f"failed={result['failed']}/{result['attempted']} {json.dumps(e2e)}",
                      flush=True)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
