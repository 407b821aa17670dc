#!/usr/bin/env python3
"""Steadiness tool: run one workload N times, each with another seed, and
print per metric the median, the quartiles, the spread (Q3 - Q1) as a
share of the median, and max/min.

    python3 perfbench/steady.py --workload osm_ingest --runs 10 [--first-seed 1]
        [--seconds 15] [--trace 0] [--out results.json]

Runs are sequential, from the repository root, with the command and
flags in BENCHMARK.json.  ``--out`` saves every run's JSON result and
run information next to the summary.
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
ROOT = os.path.dirname(HERE)


def summarize(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": med, "q1": q1, "q3": q3, "iqr_share": (q3 - q1) / med,
            "max_over_min": max(values) / min(values), "n": len(values)}


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--first-seed", type=int, default=1)
    p.add_argument("--seconds", type=int, default=None, help="default: BENCHMARK.json")
    p.add_argument("--trace", type=int, default=0)
    p.add_argument("--out", default=None)
    args = p.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = args.seconds or bench["run_seconds"]
    runs = []
    for i in range(args.runs):
        seed = args.first_seed + i
        cmd = [*bench["command"], "--workload", args.workload, "--seed", str(seed),
               "--seconds", str(seconds), "--trace", str(args.trace)]
        t0 = time.perf_counter()
        proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
        wall = time.perf_counter() - t0
        lines = proc.stdout.strip().splitlines()
        env = [l for l in proc.stderr.splitlines() if l.startswith("perfbench: env ")]
        result = json.loads(lines[-1]) if proc.returncode == 0 and lines else None
        runs.append({"seed": seed, "exit": proc.returncode, "wall_s": wall, "result": result,
                     "env": json.loads(env[-1][len("perfbench: env "):]) if env else None})
        brief = {k: round(v["value"], 4) for k, v in (result or {}).get("metrics", {}).items()}
        print(f"seed {seed}: exit {proc.returncode} wall {wall:.1f}s "
              f"correct={result and result['correct']} {brief}", flush=True)
        if result is None:
            print(proc.stderr[-4000:], file=sys.stderr)
    ok = [r["result"] for r in runs if r["result"]]
    summary = {}
    if len(ok) >= 2:
        for name in ok[0]["metrics"]:
            summary[name] = summarize([r["metrics"][name]["value"] for r in ok])
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    print(f"{'metric':<40} {'median':>12} {'q1':>12} {'q3':>12} {'iqr/med':>8} "
          f"{'max/min':>8} {'bound':>6}")
    for name, s in summary.items():
        print(f"{name:<40} {s['median']:>12.4f} {s['q1']:>12.4f} {s['q3']:>12.4f} "
              f"{s['iqr_share']:>8.4f} {s['max_over_min']:>8.4f} {bounds.get(name) or '':>6}")
    if args.out:
        with open(args.out, "w") as f:
            json.dump({"workload": args.workload, "seconds": seconds, "trace": args.trace,
                       "summary": summary, "runs": runs}, f, indent=1, sort_keys=True)
    return 0 if len(ok) == args.runs else 1


if __name__ == "__main__":
    sys.exit(main())
