#!/usr/bin/env python3
"""Checks how steady the benchmark is: runs it once per seed and prints,
for every end-to-end metric, the median and the distance between the first
and third quartile as a share of the median, next to the metric's bound
from BENCHMARK.json (the spread should stay below a third of it).

    python3 perfbench/spread.py --workload write_path --seeds 1-5 --seconds 8

Full records land in .bench_build/results/ as usual; the per-seed summary
lines are also written to .bench_build/spread-<workload>.jsonl.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=float, required=True)
    args = ap.parse_args()
    bounds = {}
    bench = os.path.join(ROOT, "BENCHMARK.json")
    if os.path.exists(bench):
        with open(bench) as f:
            bounds = {m["name"]: m["bound"] for m in json.load(f)["end_to_end"]}
    values = {}
    out = os.path.join(ROOT, ".bench_build", f"spread-{args.workload}.jsonl")
    with open(out, "a") as log:
        for s in seeds(args.seeds):
            p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                                "--workload", args.workload, "--seed", str(s),
                                "--seconds", str(args.seconds), "--trace", "0"],
                               cwd=ROOT, capture_output=True, text=True)
            if p.returncode != 0:
                sys.exit(f"seed {s}: exit {p.returncode}\n{p.stderr[-2000:]}")
            line = json.loads(p.stdout.strip().splitlines()[-1])
            log.write(json.dumps({"seed": s, **line}) + "\n")
            if not line["correct"]:
                print(f"seed {s}: NOT correct ({line['failed']} failed)")
            for k, v in line["metrics"].items():
                values.setdefault(k, []).append(v["value"])
            print(f"seed {s}: " + " ".join(f"{k}={v['value']:.4g}" for k, v in line["metrics"].items()),
                  flush=True)
    for k, vs in values.items():
        med = statistics.median(vs)
        q = statistics.quantiles(vs, n=4)
        spread = (q[2] - q[0]) / med
        b = bounds.get(k)
        verdict = "" if b is None else ("ok" if spread < b / 3 else "TOO WIDE")
        print(f"{k:14s} median={med:.4g} spread={spread:.3f} bound={b} {verdict}")


if __name__ == "__main__":
    main()
