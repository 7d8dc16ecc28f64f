#!/usr/bin/env python3
"""Runs the benchmark over several seeds and reports each metric's median
and spread (interquartile distance as a share of the median, from
statistics.quantiles(values, n=4)), plus each run's wall time.

Usage (from the repository root):
  python3 perfbench/spread.py --workload W --seeds 1-10 --seconds S \
      [--trace 0|1] [--out results.json]
"""
import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from stats import spread  # noqa: E402


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return range(int(lo), int(hi or lo) + 1)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out")
    args = ap.parse_args()
    runs = []
    for seed in seeds(args.seeds):
        t0 = time.time()
        p = subprocess.run([sys.executable, str(Path(__file__).with_name("run.py")),
                            "--workload", args.workload, "--seed", str(seed),
                            "--seconds", str(args.seconds), "--trace", str(args.trace)],
                           capture_output=True, text=True)
        wall = time.time() - t0
        lines = p.stdout.strip().splitlines()
        result = json.loads(lines[-1]) if lines else None
        # the full report line, for a failed run's checks and validity
        report = json.loads(lines[-2]) if len(lines) >= 2 else None
        runs.append({"seed": seed, "wall_s": wall, "rc": p.returncode, "result": result,
                     "report": report})
        vals = {k: round(v["value"], 4) for k, v in (result or {}).get("metrics", {}).items()}
        print(f"seed {seed} rc {p.returncode} wall {wall:.1f}s "
              f"correct {result and result['correct']} {vals}", flush=True)
        if p.returncode != 0:
            print(p.stderr[-2000:], file=sys.stderr)
    ok = [r["result"] for r in runs if r["result"] and r["result"]["correct"]]
    summary = {}
    if len(ok) >= 2:
        for k in ok[0]["metrics"]:
            vs = [r["metrics"][k]["value"] for r in ok]
            med = statistics.median(vs)
            summary[k] = {"median": med,
                          "spread": spread(vs) if med and len(vs) >= 2 else None}
    walls = [r["wall_s"] for r in runs]
    print(json.dumps({"workload": args.workload, "runs": len(runs), "correct": len(ok),
                      "wall_median_s": statistics.median(walls), "wall_max_s": max(walls),
                      "metrics": summary}, indent=1))
    if args.out:
        Path(args.out).write_text(json.dumps({"runs": runs, "summary": summary}, indent=1))


if __name__ == "__main__":
    main()
