#!/usr/bin/env python3
"""Run the serve benchmark over several seeds and report each end-to-end
metric's median and quartile spread against its bound in BENCHMARK.json.

    python3 servebench/spread.py --workloads live_follow,query_mix --seeds 1-10

Each run's result is printed as one JSON line as soon as it ends, then a
summary per workload.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds_of(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", required=True)
    ap.add_argument("--seeds", default="1-10")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    runs = []
    for w in a.workloads.split(","):
        for s in seeds_of(a.seeds):
            t0 = time.time()
            p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                                "--seed", str(s), "--seconds", str(bench["run_seconds"]),
                                "--trace", "0"], cwd=ROOT, stdout=subprocess.PIPE, text=True)
            run = {"workload": w, "seed": s, "exit": p.returncode, "wall_s": time.time() - t0,
                   "result": json.loads(p.stdout.strip().splitlines()[-1]) if p.returncode == 0 else None}
            runs.append(run)
            print(json.dumps(run), flush=True)
    for w in a.workloads.split(","):
        rs = [r for r in runs if r["workload"] == w and r["result"]]
        if not rs:
            continue
        walls = [r["wall_s"] for r in rs]
        bad = sum(1 for r in rs if not r["result"]["correct"])
        print(f"\n{w}: {len(rs)} runs, wall median {statistics.median(walls):.1f} s, "
              f"max {max(walls):.1f} s, incorrect {bad}")
        for name, bound in bounds.items():
            vals = [r["result"]["metrics"][name]["value"] for r in rs]
            med = statistics.median(vals)
            q = statistics.quantiles(vals, n=4) if len(vals) > 1 else [med, med, med]
            spread = (q[2] - q[0]) / med if med else float("inf")
            flag = "ok" if spread < bound / 3 else ("WITHIN" if spread < bound else "OVER")
            print(f"  {name:24s} median {med:12.4f}  spread {spread:6.3f}  bound {bound:.2f}  {flag}")


if __name__ == "__main__":
    main()
