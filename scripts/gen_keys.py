#!/usr/bin/env python3
"""Generate KEYS.md — the as-built operator inventory, from the code.

SURVEY §2's hand-written tables drifted from Registry.all every round a
batch of keys landed late (r9 VERDICT: q_skyline et al. existed only in
prose). This generator makes the inventory un-driftable:

  1. `sbt runMain graft.KeysDump` prints every declared key + whether it
     carries a DuckDB oracle (the Registry is the single source of truth);
  2. each key's defining file is grepped from src/main ("<key>" -> Q(...));
     the file only, no line number: a line number in a generated file
     drifts with every edit above it;
  3. plan-audit coverage is grepped from PlanAuditSpec;
  4. the streaming surfaces (st_*, ScalaTest-only by contract) are listed
     from Streams.scala scaladoc tags with their spec evidence.

KeysSpec then asserts KEYS.md's table matches Registry.all exactly and
that each row's file defines its key, so a new key without a regenerated
KEYS.md fails the suite.

Usage: scripts/gen_keys.py [--dump keysdump.tsv]   (no --dump: runs sbt)
"""
import os
import re
import subprocess
import sys
from datetime import date

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def registry_dump(dump_path):
    if dump_path:
        with open(dump_path) as f:
            text = f.read()
    else:
        out = subprocess.run(["sbt", "-batch", "runMain graft.KeysDump"],
                             cwd=REPO, capture_output=True, text=True,
                             timeout=600)
        text = out.stdout
    keys = {}
    for line in text.splitlines():
        line = re.sub(r"^\[info\] ", "", line.strip())
        m = re.match(r"^(\S+)\t(true|false)$", line)
        if m:
            keys[m.group(1)] = m.group(2) == "true"
    if not keys:
        sys.exit("KeysDump produced no key lines")
    return keys


def defining_sites():
    sites = {}
    src = os.path.join(REPO, "src", "main", "scala", "graft")
    for dirpath, _, filenames in os.walk(src):
        for fn in sorted(filenames):
            if not fn.endswith(".scala"):
                continue
            path = os.path.join(dirpath, fn)
            rel = os.path.relpath(path, REPO)
            with open(path, encoding="utf-8") as f:
                for line in f:
                    m = re.search(r'"([A-Za-z0-9_]+)" -> Q\(', line)
                    if m:
                        sites.setdefault(m.group(1), rel)
    return sites


def plan_audited():
    path = os.path.join(REPO, "src", "test", "scala", "graft",
                        "PlanAuditSpec.scala")
    with open(path, encoding="utf-8") as f:
        return f.read()


def streaming_rows():
    """(surface, file, spec evidence) for the ScalaTest-only st_ keys."""
    site = "src/main/scala/graft/streaming/Streams.scala"
    rows = []
    with open(os.path.join(REPO, site), encoding="utf-8") as f:
        for line in f:
            m = re.search(r"/\*\* (st_[a-z0-9_]+|src_stream_file)", line)
            # one surface may have TWO implementations (the sessionizer
            # ships a flatMapGroupsWithState twin beside the
            # transformWithState primary): one row per surface
            if m and m.group(1) not in (k for k, _ in rows):
                rows.append((m.group(1), site))
    spec = os.path.join(REPO, "src", "test", "scala", "graft", "streaming",
                        "StreamingSpec.scala")
    with open(spec, encoding="utf-8") as f:
        spec_text = f.read()
    return [(k, site, "StreamingSpec" if k.replace("st_", "") in spec_text
             or k in spec_text else "-") for k, site in rows]


def main():
    dump = None
    if "--dump" in sys.argv:
        dump = sys.argv[sys.argv.index("--dump") + 1]
    keys = registry_dump(dump)
    sites = defining_sites()
    audit_text = plan_audited()

    lines = [
        "# KEYS — as-built operator inventory (GENERATED, do not edit)",
        "",
        f"Generated {date.today().isoformat()} by `scripts/gen_keys.py` from",
        "`graft.Registry.all` (the single source of truth the driver runs).",
        "KeysSpec pins this file against the Registry — a key added without",
        "regenerating KEYS.md fails `sbt test`.",
        "",
        f"**{len(keys)} declared keys** "
        f"({sum(1 for v in keys.values() if v)} DuckDB-oracled, "
        f"{sum(1 for v in keys.values() if not v)} rows-only), plus the",
        "ScalaTest-only streaming surfaces below.",
        "",
        "| key | defined at | oracle | plan-audit |",
        "| --- | --- | --- | --- |",
    ]
    missing_site = []
    for k in sorted(keys):
        site = sites.get(k)
        if not site:
            missing_site.append(k)
            site = "?"
        audited = "yes" if f'"{k}"' in audit_text else "-"
        lines.append(f"| {k} | {site} | {'duckdb' if keys[k] else 'rows-only'}"
                     f" | {audited} |")

    lines += [
        "",
        "## Adjudications (machine-readable)",
        "",
        "Keys whose scale behavior carries a standing adjudication — one",
        "JSON object per line, `role` ∈ {demo-anchor}: a demo-anchor is",
        "CORRECT and oracle-gated but deliberately super-linear; it exists",
        "as ground truth for a linear-scale production sibling and must",
        "not be read as the 100 TB plan.",
        "",
        "```json",
        '{"key": "fn_jaro", "role": "demo-anchor", "exponent_sf1": 1.35,'
        ' "production_sibling": "fn_jaro_snm", "reason": "exact all-pairs'
        ' Jaro-Winkler inside schema-fixed blocks is inherently quadratic'
        ' (BASELINE r8-sf1 adjudication: no lossless JW>=0.93 prefilter'
        ' exists for these names); kept as the kernel + recall ground'
        ' truth for fn_jaro_snm (e=0.37 at sf1, e=0.13 at sf10; recall is'
        ' W-SLA-tunable and MEASURED, not assumed — BASELINE fn_jaro_snm'
        ' measured recall r12: W=10 0.62,'
        ' 25 0.77, 50 0.90, 100 1.00 top-100 on the exact-name-deduped'
        ' corpus; the earlier recall-1.0-at-sf1 claim was tie-saturated'
        ' by ScaleGen verbatim name copies and is superseded)"}',
        '{"key": "llm_mutual_nn", "role": "demo-anchor",'
        ' "exponent_sf10": 1.73, "production_sibling": "llm_mutual_nn_snm",'
        ' "reason": "exact mutual-NN rides the banded cosPairs candidate'
        ' table, which is Sigma block^2 — and under ScaleGen +-1e-3-jitter'
        ' replication every replica stays inside the 0.2 cosine threshold,'
        ' so blocks grow x10/decade and candidates x100 (r13c-sf10 flag,'
        ' e=1.73). Kept as the recall ground truth for llm_mutual_nn_snm'
        ' (multi-pass sorted-neighborhood, P=8 projections x W=24 —'
        ' rows x 192 cosines, linear for any block distribution; measured'
        ' recall/precision vs this key: BASELINE llm_mutual_nn_snm'
        ' measured recall r13). The sibling-pair-emitter'
        ' keys on the same candidate table (llm_sim_pairs,'
        ' llm_dedup_thresholds, llm_dedup_embcos) are OUTPUT-bound: their'
        ' declared answer IS the pair set, which itself grows x100/decade'
        ' under near-dup replication — no plan emits quadratic rows in'
        ' sub-quadratic time."}',
        "```",
        "",
        "## Streaming surfaces (SURVEY §2i — batch-equivalence ScalaTest,",
        "no DuckDB oracle by contract)",
        "",
        "| surface | defined at | evidence |",
        "| --- | --- | --- |",
    ]
    for k, site, ev in streaming_rows():
        lines.append(f"| {k} | {site} | {ev} |")
    lines.append("")

    out = os.path.join(REPO, "KEYS.md")
    with open(out, "w") as f:
        f.write("\n".join(lines))
    print(f"{len(keys)} keys -> {out}")
    if missing_site:
        print(f"WARN: no defining site found for: {missing_site}",
              file=sys.stderr)
        sys.exit(1)


if __name__ == "__main__":
    main()
