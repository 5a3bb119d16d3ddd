#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics over sets of run records.

    python3 perfbench/spread.py perfbench/runs/set-a perfbench/runs/set-b

Each argument is a directory of run records (``.perfbench_work/records``
files of untraced runs). Per set and workload it prints every
``end_to_end`` metric's median and its spread, the distance between the
first and third quartile (``statistics.quantiles(n=4)``) as a share of
the median, next to the metric's bound; with two or more sets it also
prints each later set's median change against the first. Exits non-zero
when a record failed, a spread other than ``setup_s``'s exceeds its
bound, or a median got worse by more than its bound.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load(set_dir: str) -> dict:
    """``{workload: {metric: [values]}}`` of one set's correct records."""
    out: dict = {}
    for path in sorted(glob.glob(os.path.join(set_dir, "*_t0_*.json"))):
        with open(path) as f:
            rec = json.load(f)
        if not rec["correct"]:
            raise SystemExit(f"failed run in the set: {path}")
        workload = os.path.basename(path).split("_s")[0]
        for name, value in rec["metrics"].items():
            out.setdefault(workload, {}).setdefault(name, []).append(value)
    return out


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = {m["name"]: m for m in json.load(f)["end_to_end"]}
    sets = [(d, load(d)) for d in sys.argv[1:]]
    ok = True
    first: dict = {}
    for set_dir, data in sets:
        for workload, metrics in sorted(data.items()):
            print(f"{set_dir} {workload}")
            for name, m in spec.items():
                xs = metrics[name]
                med = statistics.median(xs)
                q1, _, q3 = statistics.quantiles(xs, n=4)
                spread = (q3 - q1) / med
                line = (f"  {name:14s} n={len(xs):2d} median {med:10.4f} "
                        f"{m['unit']:3s} spread {spread:.3f} "
                        f"bound {m['bound']}")
                if name != "setup_s" and spread > m["bound"]:
                    ok = False
                    line += "  SPREAD ABOVE BOUND"
                key = (workload, name)
                if key in first:
                    change = med / first[key] - 1
                    worse = change if m["better"] == "lower" else -change
                    line += f"  vs first set {change:+.3f}"
                    if worse > m["bound"]:
                        ok = False
                        line += "  WORSE THAN BOUND"
                else:
                    first[key] = med
                print(line)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
