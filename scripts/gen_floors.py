#!/usr/bin/env python3
"""Build BENCH_FLOORS.json from graft.Bench captures taken on this host.

The floors file is what graft.Bench reads for its `contended` verdict and
`floor_sum_ratio`; it is calibration data, so it is generated from
captures and never hand-edited. Each input file may hold any mix of
lines (a scripts/bench_sweep.sh log, a copy of BENCH_LOCAL.json): every
line carrying Bench's full JSON object, i.e. one with a "queries" map,
is one capture. sbt's "[info] " prefix and the totals-only last line
(no "queries") are skipped.

Written, at the repository root:
  keys          per-key MIN of "queries" across the captures (the
                engine's demonstrated capability on this host; a
                too-tight floor can only flag a capture `contended`,
                never change a reported time);
  sf            the captures' "sf" (mixed scale factors are refused:
                per-key floors are sf-specific);
  sentinel_cpu  MIN of "sentinel_final_cpu_s" across the captures;
  sentinel_io   MIN of "sentinel_final_io_s" across the captures.

Prints each key's old -> new floor and lists the keys whose new floor is
above 1.5x the floor it replaces.

Usage: gen_floors.py CAPTURE [CAPTURE ...]
"""
import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
FLOORS = os.path.join(REPO, "BENCH_FLOORS.json")
# a new floor this far above the one it replaces is worth a look: the same
# factor Bench's `contended` verdict applies per key
RISE = 1.5


def read_captures(paths):
    """Every full Bench JSON object (one with a "queries" map) in the files."""
    caps = []
    for p in paths:
        with open(p) as f:
            for line in f:
                i = line.find('{"metric"')
                if i < 0:
                    continue
                try:
                    obj = json.loads(line[i:])
                except json.JSONDecodeError:
                    continue
                if isinstance(obj.get("queries"), dict):
                    caps.append(obj)
    return caps


def build(caps):
    """The floors document for a list of captures."""
    if not caps:
        sys.exit("no Bench capture (a JSON line with \"queries\") in the inputs")
    sfs = {c.get("sf") for c in caps}
    if len(sfs) != 1 or None in sfs:
        sys.exit(f"captures must share one sf, got {sorted(map(str, sfs))}")
    keys = {}
    for c in caps:
        for k, v in c["queries"].items():
            keys[k] = min(v, keys.get(k, v))
    return {
        "sf": sfs.pop(),
        "sentinel_cpu": min(c["sentinel_final_cpu_s"] for c in caps),
        "sentinel_io": min(c["sentinel_final_io_s"] for c in caps),
        "keys": keys,
    }


def report(old, new):
    """Old -> new per key and sentinel leg, then the keys that rose >RISE x."""
    ok, nk = old.get("keys", {}), new["keys"]
    lines = []
    for k in sorted(set(ok) | set(nk)):
        o, n = ok.get(k), nk.get(k)
        lines.append(f"{k}: {'-' if o is None else o} -> {'-' if n is None else n}")
    for leg in ("sentinel_cpu", "sentinel_io"):
        lines.append(f"{leg}: {old.get(leg, '-')} -> {new[leg]}")
    lines.append(f"sum of key floors: {sum(ok.values()):.3f} ({len(ok)} keys) -> "
                 f"{sum(nk.values()):.3f} ({len(nk)} keys)")
    risen = [k for k in sorted(nk) if k in ok and nk[k] > RISE * ok[k]]
    lines.append(f"above {RISE}x the floor they replace: "
                 + (", ".join(risen) if risen else "none"))
    return lines


def main(paths):
    if not paths:
        sys.exit(__doc__)
    caps = read_captures(paths)
    doc = build(caps)
    try:
        with open(FLOORS) as f:
            old = json.load(f)
    except (FileNotFoundError, json.JSONDecodeError):
        old = {}
    print("\n".join(report(old, doc)))
    with open(FLOORS, "w") as f:
        json.dump(doc, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"{FLOORS}: {len(doc['keys'])} key floors from {len(caps)} captures at {doc['sf']}")


if __name__ == "__main__":
    main(sys.argv[1:])
