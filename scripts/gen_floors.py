#!/usr/bin/env python3
"""Consolidate BASELINE.md's '## Bench minima <tag>' sections into
BENCH_FLOORS.json — the single floor map graft.Bench reads at runtime
for its `contended` verdict and `floor_sum_ratio` (r10 VERDICT #1).

Floor = per-key MINIMUM across every minima section (the engine's
demonstrated capability on this host; a too-tight floor can only flag a
capture `contended`, never change a reported time — Bench re-times
nothing on what the floors say).

Sentinel leg floors (cpu/io) ride along under "sentinel_cpu"/"sentinel_io":
pass them explicitly (--sentinel-cpu / --sentinel-io) to update, else the
values already in BENCH_FLOORS.json are kept.

Usage: gen_floors.py [--baseline BASELINE.md] [--out BENCH_FLOORS.json]
                     [--sentinel-cpu S] [--sentinel-io S]
"""
import json
import re
import sys


def main():
    args = sys.argv[1:]
    baseline, out = "BASELINE.md", "BENCH_FLOORS.json"
    sent = {}
    i = 0
    while i < len(args):
        if args[i] == "--baseline":
            baseline = args[i + 1]; i += 2
        elif args[i] == "--out":
            out = args[i + 1]; i += 2
        elif args[i] == "--sentinel-cpu":
            sent["sentinel_cpu"] = float(args[i + 1]); i += 2
        elif args[i] == "--sentinel-io":
            sent["sentinel_io"] = float(args[i + 1]); i += 2
        else:
            sys.exit(f"unknown arg {args[i]}")
    with open(baseline) as f:
        text = f.read()
    floors = {}
    n_sections = 0
    for sec in re.finditer(r"^## Bench minima .*?$", text, re.M):
        n_sections += 1
        body = text[sec.end():]
        nxt = re.search(r"^## ", body, re.M)
        if nxt:
            body = body[:nxt.start()]
        for row in re.finditer(r"^\| (\S+) \| ([0-9.]+) \| \d+ \|$", body, re.M):
            k, v = row.group(1), float(row.group(2))
            if k not in floors or v < floors[k]:
                floors[k] = v
    try:
        with open(out) as f:
            prev = json.load(f)
    except (FileNotFoundError, json.JSONDecodeError):
        prev = {}
    doc = {
        "sf": prev.get("sf", "/root/testdata/sf0.1"),
        "sentinel_cpu": sent.get("sentinel_cpu", prev.get("sentinel_cpu")),
        "sentinel_io": sent.get("sentinel_io", prev.get("sentinel_io")),
        "keys": floors,
    }
    with open(out, "w") as f:
        json.dump(doc, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"{out}: {len(floors)} key floors from {n_sections} sections; "
          f"sentinel cpu={doc['sentinel_cpu']} io={doc['sentinel_io']}")


if __name__ == "__main__":
    main()
