#!/usr/bin/env python3
"""Compare the per-layer traces of two commits.

    python3 perfbench/layerdiff.py PARENT CHANGE

PARENT and CHANGE are directories holding the ``trace-<workload>-seed<n>.json``
files that traced runs (``run.py --trace 1``) write to ``perfbench/out/``:
copy that directory aside after running the parent, then run the change.
For every workload (and input base) found on both sides, and every layer,
the tool prints each metric's quartiles on each side over that side's runs
and the difference of the medians, absolute and relative to the parent.
"""
import glob
import json
import os
import statistics
import sys


def load(path):
    """{"workload (base)": {metric: [values, one per run]}}"""
    runs = {}
    for f in sorted(glob.glob(os.path.join(path, "trace-*.json"))):
        with open(f) as fh:
            rec = json.load(fh)
        metrics = dict(rec["metrics"], **{"job.job_s": rec["job_s"]})
        per = runs.setdefault(f"{rec['workload']} ({rec['base']})", {})
        for k, v in metrics.items():
            per.setdefault(k, []).append(v)
    return runs


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    return tuple(statistics.quantiles(xs, n=4, method="inclusive"))


def main(argv):
    if len(argv) != 3:
        sys.exit(__doc__)
    parent, change = load(argv[1]), load(argv[2])
    if not parent or not change:
        sys.exit("no trace-*.json files found on one side")
    for w in sorted(set(parent) & set(change)):
        p, c = parent[w], change[w]
        n_p = max(len(v) for v in p.values())
        n_c = max(len(v) for v in c.values())
        print(f"== {w}  (parent runs {n_p}, change runs {n_c})")
        print(f"  {'metric':<34} {'parent q1/med/q3':>30} {'change q1/med/q3':>30} "
              f"{'diff':>10} {'rel':>8}")
        layer = None
        for k in sorted(set(p) & set(c)):
            if k.split(".")[0] != layer:
                layer = k.split(".")[0]
                print(f"  [{layer}]")
            pq, cq = quartiles(p[k]), quartiles(c[k])
            d = cq[1] - pq[1]
            rel = f"{d / pq[1]:+.1%}" if pq[1] else "n/a"
            print(f"  {k:<34} {pq[0]:10.4g}{pq[1]:10.4g}{pq[2]:10.4g} "
                  f"{cq[0]:10.4g}{cq[1]:10.4g}{cq[2]:10.4g} {d:+10.4g} {rel:>8}")
        for k in sorted(set(p) ^ set(c)):
            print(f"  {k:<34} only on the {'parent' if k in p else 'change'} side")


if __name__ == "__main__":
    main(sys.argv)
