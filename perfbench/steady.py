"""Steadiness check: run one workload N times, each in a fresh process.

    python3 perfbench/steady.py --workload browse --runs 10 [--first-seed 1]

Seeds are first-seed .. first-seed+N-1. For every end-to-end metric it
prints the median, the quartiles (``statistics.quantiles(n=4)``) and the
spread (q3 - q1) / median next to the metric's bound in BENCHMARK.json,
plus the share of failed calls. The last line is the same summary as JSON.
The bounds in BENCHMARK.json are set from this output.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run_once(workload: str, seed: int, seconds: int) -> dict:
    cmd = [sys.executable, os.path.join(ROOT, "perfbench", "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    t = time.perf_counter()
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    lines = proc.stdout.strip().splitlines()
    if not lines:
        raise RuntimeError(f"seed {seed}: no output (exit {proc.returncode})\n{proc.stderr[-3000:]}")
    out = json.loads(lines[-1])
    out["wall_s"] = time.perf_counter() - t
    out["exit"] = proc.returncode
    return out


def summarize(values: list[float]) -> dict[str, float]:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med if med else float("inf")}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    results = []
    for i in range(args.runs):
        seed = args.first_seed + i
        r = run_once(args.workload, seed, spec["run_seconds"])
        results.append(r)
        print(f"seed {seed}: exit {r['exit']} wall {r['wall_s']:.1f}s attempted {r['attempted']} "
              f"failed {r['failed']} " + " ".join(
                  f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()), flush=True)
    summary = {"workload": args.workload, "runs": args.runs,
               "failed_share": sorted({r["failed"] / r["attempted"] for r in results}),
               "wall_s": summarize([r["wall_s"] for r in results]), "metrics": {}}
    print(f"\n{'metric':<32} {'median':>12} {'q1':>12} {'q3':>12} {'spread':>8} {'bound':>6}")
    for m in spec["end_to_end"]:
        s = summarize([r["metrics"][m["name"]]["value"] for r in results])
        summary["metrics"][m["name"]] = s
        bound = m["bound"]
        flag = "ok" if s["spread"] < bound / 3 else "WIDE" if s["spread"] >= bound else ">1/3"
        print(f"{m['name']:<32} {s['median']:>12.4g} {s['q1']:>12.4g} {s['q3']:>12.4g} "
              f"{s['spread']:>8.3f} {bound:>6}  {flag}")
    print(f"failed share: {summary['failed_share']}  wall per run: median {summary['wall_s']['median']:.1f}s")
    print(json.dumps(summary))
    return 0 if all(r["exit"] == 0 for r in results) else 1


if __name__ == "__main__":
    sys.exit(main())
