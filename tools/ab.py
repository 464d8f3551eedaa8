#!/usr/bin/env python3
"""Parent/change A/B of the repo benchmark (perfbench) on one workload.

    python3 tools/ab.py PARENT_DIR CHANGE_DIR --workload batch_queries \\
        --seeds 911-920 --seconds 5

PARENT_DIR and CHANGE_DIR are two checkouts of the repository (make the
parent one with `git clone`; each builds its own .bench_build/). For each
seed the script runs `python3 perfbench/run.py --workload W --seed S
--seconds X --trace 0` once in each checkout, alternating which side runs
first (the parent on even pair indexes, the change on odd ones), and reads
the summary line run.py prints last. It only runs perfbench; it does not
import or edit it.

It prints one line per pair (each side's end-to-end metrics, `correct` and
`failed`), then per metric each side's median and quartiles, the change's
win count (ties count for neither side), and two verdicts taken from the
rules for comparing a parent and a change in a small sandbox:
- gain: the change wins at least nine tenths of the pairs and the medians
  differ by more than the parent's interquartile range;
- bound: the change's median is no worse than the parent's by more than
  the metric's `bound` in BENCHMARK.json (a fraction of the parent's
  median). When the parent's IQR is wider than the bound, the result is
  "unresolved" unless every change run beats every parent run.
Last, per operation, each side's median over its runs of the run's own
median seconds (`op_seconds` in the full record each run leaves in
`<checkout>/.bench_build/results/`), so an A/B shows which operation moved.
Exit code 0 when every run was correct with no failed operation, else 1.
Before any run it exits 1, naming the path, when a side's
`.bench_build/target/classpath.txt` lists a classes dir outside that
checkout: a `.bench_build` copied from another checkout runs that
checkout's classes, and its first rebuild deletes them.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys


def seed_list(spec):
    """'911-920' or '911,915,930' (or a mix) -> list of ints."""
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi) + 1)) if hi else [int(lo)]
    return out


def borrowed_classes(checkout):
    """Classpath entries of `checkout`'s benchmark build that are not jars
    and lie outside the checkout (run.py writes absolute paths)."""
    cp = os.path.join(checkout, ".bench_build", "target", "classpath.txt")
    if not os.path.exists(cp):
        return []
    root = os.path.realpath(checkout)
    with open(cp) as f:
        entries = [line.strip() for line in f if line.strip()]
    return [e for e in entries if not e.endswith(".jar") and
            os.path.commonpath([os.path.realpath(e), root]) != root]


def run_once(checkout, workload, seed, seconds):
    """One run.py run in `checkout`; returns its summary line as a dict,
    with the full record's `op_seconds` added under the same key."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-4000:])
        sys.exit(f"ab: run.py exited {p.returncode} in {checkout} (seed {seed})")
    summary = json.loads(lines[-1])
    record = os.path.join(checkout, ".bench_build", "results",
                          f"{workload}-seed{seed}-trace0-full.json")
    with open(record) as f:
        summary["op_seconds"] = json.load(f)["op_seconds"]
    return summary


def quartiles(xs):
    """(q1, median, q3) of xs, inclusive method (the data's own range)."""
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def verdict(parent, change, better, bound):
    """Per-metric summary for two equal-length lists of paired values."""
    sign = 1 if better == "lower" else -1  # > 0 means the change is better
    gains = [sign * (p - c) for p, c in zip(parent, change)]
    wins = sum(g > 0 for g in gains)
    pq1, pmed, pq3 = quartiles(parent)
    cq1, cmed, cq3 = quartiles(change)
    iqr = pq3 - pq1
    gap = sign * (pmed - cmed)
    gain = wins * 10 >= 9 * len(parent) and gap > iqr
    within = "yes" if -gap <= bound * pmed else "no"
    all_better = (min(change) > max(parent) if better == "higher"
                  else max(change) < min(parent))
    if iqr > bound * pmed and not all_better:
        within = "unresolved"
    return {"parent": {"q1": pq1, "median": pmed, "q3": pq3},
            "change": {"q1": cq1, "median": cmed, "q3": cq3},
            "wins": wins, "pairs": len(parent), "parent_iqr": iqr,
            "median_gap": gap, "ratio": cmed / pmed,
            "gain": gain, "within_bound": within}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 911-920 or 911,913")
    ap.add_argument("--seconds", type=float, required=True)
    args = ap.parse_args()

    with open(os.path.join(args.change, "BENCHMARK.json")) as f:
        spec = {m["name"]: m for m in json.load(f)["end_to_end"]}
    sides = {"parent": os.path.abspath(args.parent),
             "change": os.path.abspath(args.change)}

    for s, checkout in sides.items():
        borrowed = borrowed_classes(checkout)
        if borrowed:
            sys.exit(f"ab: {s} checkout {checkout}: .bench_build/target/"
                     f"classpath.txt lists classes outside it: "
                     f"{', '.join(borrowed)}; delete its .bench_build")

    pairs = []
    for i, seed in enumerate(seed_list(args.seeds)):
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        got = {s: run_once(sides[s], args.workload, seed, args.seconds)
               for s in order}
        pairs.append(got)
        cells = []
        for s in ("parent", "change"):
            m = got[s]["metrics"]
            cells.append(f"{s} " + " ".join(
                f"{n}={m[n]['value']:.3f}" for n in sorted(m)) +
                f" correct={got[s]['correct']} failed={got[s]['failed']}")
        print(f"seed {seed} ({order[0]} first): " + " | ".join(cells),
              flush=True)

    names = sorted(pairs[0]["parent"]["metrics"])
    print(f"\n{args.workload}, {len(pairs)} pairs, --seconds {args.seconds}")
    for n in names:
        v = verdict([p["parent"]["metrics"][n]["value"] for p in pairs],
                    [p["change"]["metrics"][n]["value"] for p in pairs],
                    spec[n]["better"], spec[n]["bound"])
        pp, cc = v["parent"], v["change"]
        print(f"{n}: parent median {pp['median']:.3f} [q1 {pp['q1']:.3f}, "
              f"q3 {pp['q3']:.3f}]  change median {cc['median']:.3f} "
              f"[q1 {cc['q1']:.3f}, q3 {cc['q3']:.3f}]  change/parent "
              f"{v['ratio']:.3f}  wins {v['wins']}/{v['pairs']}  "
              f"gap {v['median_gap']:.3f} vs parent IQR {v['parent_iqr']:.3f}"
              f"  gain={'yes' if v['gain'] else 'no'}"
              f"  within_bound={v['within_bound']}")
    print("\nper-operation medians (s) over each side's runs:")
    for op in sorted({op for p in pairs for s in p for op in p[s]["op_seconds"]}):
        med = {}
        for s in ("parent", "change"):
            xs = [p[s]["op_seconds"][op] for p in pairs
                  if op in p[s]["op_seconds"]]
            med[s] = statistics.median(xs) if xs else None
        cells = "  ".join(f"{s} " + ("-" if med[s] is None else f"{med[s]:.3f}")
                          for s in ("parent", "change"))
        ratio = (f"  change/parent {med['change'] / med['parent']:.3f}"
                 if med["parent"] and med["change"] is not None else "")
        print(f"{op}: {cells}{ratio}")
    ok = all(p[s]["correct"] and p[s]["failed"] == 0
             for p in pairs for s in ("parent", "change"))
    print(f"all runs correct with failed 0: {'yes' if ok else 'no'}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
