#!/usr/bin/env python3
"""Compares two sets of benchmark run records, metric by metric.

    python3 perfbench/compare.py BASE_DIR CHANGE_DIR

Each directory holds the records that perfbench/run.py keeps under
.bench_build/records/. For every workload both sets ran, prints each
metric's median and quartiles per set, and the change of the medians. Refuses
to compare records made with different core counts (nproc).
"""
import glob
import json
import os
import statistics
import sys


def load(d):
    recs = []
    for f in sorted(glob.glob(os.path.join(d, "*.json"))):
        r = json.load(open(f))
        if "record" in r:
            recs.append(r)
    if not recs:
        sys.exit(f"no run records in {d}")
    return recs


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], statistics.median(xs), q[2]


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    base, change = load(sys.argv[1]), load(sys.argv[2])
    cores = {r["record"]["nproc"] for r in base + change}
    if len(cores) != 1:
        sys.exit(f"refusing to compare records made with different nproc: {sorted(cores)}")

    def group(recs):
        g = {}
        for r in recs:
            key = (r["record"]["workload"], r["record"]["trace"])
            for name, m in r["metrics"].items():
                g.setdefault(key, {}).setdefault(name, (m["unit"], []))[1].append(m["value"])
        return g

    gb, gc = group(base), group(change)
    print(f"nproc {cores.pop()}")
    for key in sorted(set(gb) & set(gc)):
        print(f"\n{key[0]} ({'traced' if key[1] else 'untraced'})")
        for name in gb[key]:
            if name not in gc[key]:
                continue
            unit, xb = gb[key][name]
            xc = gc[key][name][1]
            (b1, bm, b3), (c1, cm, c3) = quartiles(xb), quartiles(xc)
            delta = (cm - bm) / bm if bm else float("nan")
            print(f"  {name:32s} {bm:12.5g} [{b1:.5g}, {b3:.5g}] n={len(xb):<3d}"
                  f" -> {cm:12.5g} [{c1:.5g}, {c3:.5g}] n={len(xc):<3d} {delta:+.1%} {unit}")


if __name__ == "__main__":
    main()
