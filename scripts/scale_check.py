#!/usr/bin/env python3
"""Scaling-exponent smoke test: the empirical 100x question.

Runs the heaviest keys at two scale factors (sf0.01 and sf0.1 — a 10x
data ratio) via graft.Bench's SPARK_GRAFT_ONLY filter, one Bench run per
sf (Bench reports each key's minimum over its own repetitions in
`queries`), and computes the growth exponent

    e = log(t_big / t_small) / log(10)

(--sf-small / --sf-big override the two fixture dirs; the 10x data ratio
is assumed — e.g. sf0.1 vs a ScaleGen-built sf1.)

e ~ 1 is linear scaling, e < 1 is fixed-overhead-dominated (expected for
sub-second keys), e > FLAG (default 1.35 — linear plus log-factor
headroom) is super-linear and gets flagged: at 1000x more data a flagged
key's plan is quadratic-suspect and needs adjudication (see BASELINE.md
scale-exponent sections for written verdicts). This is the check that
catches an O(n^2) edge builder without a judge reading plans.

Usage:
  scale_check.py [--keys k1,k2,...] [--top N] [--flag E]
                 [--append BASELINE.md --tag r7]

Default key set: the top N (15) slowest keys from the LAST '## Bench
minima' section of BASELINE.md. Requires the sbt lock (runs sbt itself).
"""
import json
import math
import os
import re
import subprocess
import sys
from datetime import date

SF_SMALL = "/root/testdata/sf0.01"   # --sf-small overrides
SF_BIG = "/root/testdata/sf0.1"      # --sf-big overrides
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def last_minima_section(baseline):
    with open(baseline) as f:
        text = f.read()
    sections = re.split(r"^## Bench minima ", text, flags=re.M)[1:]
    if not sections:
        sys.exit("no '## Bench minima' sections in BASELINE.md")
    rows = re.findall(r"^\| (\S+) \| ([0-9.]+) \| \d+ \|$", sections[-1], re.M)
    return {k: float(v) for k, v in rows}


def bench_minima_env(keys, sf_dir):
    env = dict(os.environ,
               SPARK_GRAFT_SF_DIR=sf_dir,
               SPARK_GRAFT_ONLY=",".join(keys))
    out = subprocess.run(
        ["sbt", "runMain graft.Bench"], cwd=REPO, env=env,
        capture_output=True, text=True, timeout=3600)
    found = None
    for line in out.stdout.splitlines():
        m = re.search(r'\{"metric".*\}', line)
        if not m:
            continue
        try:
            obj = json.loads(m.group(0))
        except json.JSONDecodeError:
            continue
        if isinstance(obj.get("queries"), dict):
            found = obj["queries"]
    if found is None:
        print(f"WARN: the run at {sf_dir} produced no bench JSON "
              f"(rc={out.returncode})", file=sys.stderr)
        return {}
    print(f"  {sf_dir} done", file=sys.stderr)
    return found


def main():
    args = sys.argv[1:]

    def opt(name, default=None):
        if name in args:
            i = args.index(name)
            v = args[i + 1]
            del args[i:i + 2]
            return v
        return default

    keys_arg = opt("--keys")
    sf_small = opt("--sf-small", SF_SMALL)
    sf_big = opt("--sf-big", SF_BIG)
    top = int(opt("--top", "15"))
    flag = float(opt("--flag", "1.35"))
    append_to = opt("--append")
    tag = opt("--tag", "r?")

    if keys_arg:
        keys = keys_arg.split(",")
    else:
        floor = last_minima_section(os.path.join(REPO, "BASELINE.md"))
        keys = sorted(floor, key=floor.get, reverse=True)[:top]
    print(f"keys: {','.join(keys)}", file=sys.stderr)

    small = bench_minima_env(keys, sf_small)
    big = bench_minima_env(keys, sf_big)

    header = (
        f"## Scale exponents {tag} ({date.today().isoformat()}, "
        f"{sf_small} vs {sf_big}, flag > {flag})\n\n"
        f"e = log10(t_big / t_small): ~1 linear, <1 overhead-bound, "
        f">{flag} super-linear (needs adjudication or a fix).\n\n"
        "| key | t(small) | t(big) | exponent | verdict |\n"
        "| --- | --- | --- | --- | --- |\n"
    )
    rows, flagged = [], []
    for k in keys:
        if k not in small or k not in big or small[k] <= 0:
            rows.append(f"| {k} | ? | ? | ? | no-data |\n")
            continue
        e = math.log10(big[k] / small[k])
        verdict = "FLAG" if e > flag else "ok"
        if e > flag:
            flagged.append((k, e))
        rows.append(f"| {k} | {small[k]:.3f} | {big[k]:.3f} | {e:.2f} "
                    f"| {verdict} |\n")
    table = header + "".join(rows)
    print(table)
    if append_to:
        with open(append_to, "a") as f:
            f.write("\n" + table)
        print(f"-- appended to {append_to}", file=sys.stderr)
    if flagged:
        print("FLAGGED super-linear keys: "
              + ", ".join(f"{k} (e={e:.2f})" for k, e in flagged),
              file=sys.stderr)
        sys.exit(1)


if __name__ == "__main__":
    main()
