#!/usr/bin/env python3
"""Compares two benchmark result records (the JSON files run.py keeps in
.bench_build/results/):

    python3 perfbench/compare.py BASE.json NEW.json

Prints each metric of the two records with NEW/BASE. Refuses, with exit
code 2, to compare records taken on different core counts or of different
workloads, sizes or run lengths: such numbers are not comparable.
"""

import json
import sys

MUST_MATCH = [("env", "nproc"), ("env", "cores"), ("env", "size"), ("env", "seconds"),
              ("workload",), ("trace",)]


def field(rec, path):
    for k in path:
        rec = rec.get(k) if isinstance(rec, dict) else None
    return rec


def comparable(a, b):
    """None when the records may be compared, else the reason they may not."""
    for path in MUST_MATCH:
        x, y = field(a, path), field(b, path)
        if x != y:
            return f"{'.'.join(path)} differs: {x} vs {y}"
    return None


def main(argv):
    if len(argv) != 3:
        sys.exit(__doc__)
    with open(argv[1]) as f:
        base = json.load(f)
    with open(argv[2]) as f:
        new = json.load(f)
    why = comparable(base, new)
    if why:
        print(f"refusing to compare: {why}", file=sys.stderr)
        return 2
    for section in ("metrics", "per_layer"):
        for name in sorted(set(base.get(section, {})) | set(new.get(section, {}))):
            x = base.get(section, {}).get(name, {}).get("value")
            y = new.get(section, {}).get(name, {}).get("value")
            ratio = f"{y / x:.3f}" if isinstance(x, (int, float)) and isinstance(y, (int, float)) and x else "-"
            unit = (new.get(section, {}).get(name) or base[section][name])["unit"]
            print(f"{name:40s} {x!s:>22} {y!s:>22} {unit:>6} x{ratio}")
    for key in ("correct", "failed", "attempted"):
        print(f"{key:40s} {base.get(key)!s:>22} {new.get(key)!s:>22}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
