#!/usr/bin/env python3
"""Parent-vs-change comparison of benchmark result files.

    python3 perfbench/compare.py <parent results dir> <change results dir>

Each directory holds result files written by run.py (.perfbench/results
of each checkout, or copies). For every workload and end-to-end metric
it prints both medians, their quartile spreads, the change's ratio to
the parent and REGRESSION when the change is worse than the parent's
median by more than the metric's bound in BENCHMARK.json. Exits 1 if
any metric regressed.
"""
import glob
import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load(d):
    out = {}
    for f in sorted(glob.glob(os.path.join(d, "*.json"))):
        if f.endswith(".spans.json"):
            continue
        with open(f) as fh:
            r = json.load(fh)
        if r.get("context", {}).get("trace") == 0:
            out.setdefault(r["context"]["workload"], []).append(r["metrics"])
    return out


def spread(vals):
    if len(vals) < 2:
        return 0.0
    q = statistics.quantiles(vals, n=4)
    return (q[2] - q[0]) / statistics.median(vals)


def main():
    parent, change = load(sys.argv[1]), load(sys.argv[2])
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = {m["name"]: m for m in json.load(f)["end_to_end"]}
    bad = 0
    print(f"{'workload':20s} {'metric':20s} {'parent':>12s} {'change':>12s} {'ratio':>7s} "
          f"{'spread p/c':>12s}")
    for w in sorted(set(parent) & set(change)):
        for name, m in spec.items():
            p = [r[name]["value"] for r in parent[w]]
            c = [r[name]["value"] for r in change[w]]
            mp, mc = statistics.median(p), statistics.median(c)
            worse = (mc - mp) / mp if m["better"] == "lower" else (mp - mc) / mp
            flag = "REGRESSION" if worse > m["bound"] else ""
            bad += bool(flag)
            print(f"{w:20s} {name:20s} {mp:12.4f} {mc:12.4f} {mc / mp:7.3f} "
                  f"{spread(p):5.3f}/{spread(c):5.3f} {flag}")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
