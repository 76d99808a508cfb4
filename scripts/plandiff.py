#!/usr/bin/env python3
"""Compare two sets of graft.PlanDump output, key by key.

Usage: scripts/plandiff.py <parentDir> <changeDir>

Each directory holds `<key>_<suffix>.txt` files written by
`runMain graft.PlanDump <sfDir> <dir> <suffix>` (`.explain("formatted")`).
Before comparing, the text is stripped of what moves between two runs of
the same code: expression ids (`#123`), `plan_id=`, RDD ids, `Broadcast(n)`
handles, `@hash` identities, lambda class names, `.scala:N` call sites and
the checkout path in fixture and warehouse locations.

For every key it prints one line:
  identical      normalised text is the same
  text-differs   operator tree is the same, some node detail differs
                 (followed by the differing lines)
  TREE-DIFFERS   the operator tree differs (node names with join type
                 and build side, one per line, in tree order)
  MISSING        the key is dumped on one side only

Exits 1 when any key's operator tree differs or is missing, else 0.
"""
import difflib
import os
import re
import sys

NORMALISE = [
    (re.compile(r"#\d+"), "#"),
    (re.compile(r"plan_id=\d+"), "plan_id="),
    (re.compile(r"RDD\[\d+\]"), "RDD[]"),
    (re.compile(r"Broadcast\(\d+\)"), "Broadcast()"),
    (re.compile(r"Lambda\$[\w$/]*"), "Lambda"),
    (re.compile(r"@[0-9a-f]+\b"), "@"),
    (re.compile(r"\.scala:\d+"), ".scala:"),
    (re.compile(r"[^\s\[(]*/(target/graft_fixtures|spark-warehouse)/"), r"<checkout>/\1/"),
]
# an outline line: tree drawing, a node name, its operator id
TREE_LINE = re.compile(r"^([\s:+\-*]*)(\S.*?) \(\d+\)$")
MAX_SHOWN = 12


def normalise(text):
    for pat, rep in NORMALISE:
        text = pat.sub(rep, text)
    return text.splitlines()


def operator_tree(lines):
    tree = []
    for line in lines:
        if line.startswith("("):  # a node's detail header, "(7) Project"
            continue
        m = TREE_LINE.match(line)
        if m:
            tree.append(m.group(1) + m.group(2))
        elif "==" in line or line.startswith("Subquery:"):
            tree.append(line.strip())
    return tree


def load(d):
    plans = {}
    for name in sorted(os.listdir(d)):
        if name.endswith(".txt"):
            key = name[:-4].rsplit("_", 1)[0]
            with open(os.path.join(d, name), encoding="utf-8") as f:
                plans[key] = normalise(f.read())
    return plans


def main(argv):
    if len(argv) != 3:
        sys.exit(__doc__)
    parent, change = load(argv[1]), load(argv[2])
    counts = {"identical": 0, "text-differs": 0, "TREE-DIFFERS": 0, "MISSING": 0}
    for key in sorted(set(parent) | set(change)):
        if key not in parent or key not in change:
            status, shown = "MISSING", []
        else:
            p, c = parent[key], change[key]
            if p == c:
                status, shown = "identical", []
            elif operator_tree(p) == operator_tree(c):
                status = "text-differs"
                shown = [l for l in difflib.unified_diff(p, c, lineterm="", n=0)
                         if l[:1] in "+-" and not l.startswith(("+++", "---"))]
            else:
                status = "TREE-DIFFERS"
                shown = [l for l in difflib.unified_diff(
                             operator_tree(p), operator_tree(c), lineterm="", n=0)
                         if l[:1] in "+-" and not l.startswith(("+++", "---"))]
        counts[status] += 1
        print(f"{status:13} {key}")
        for line in shown[:MAX_SHOWN]:
            print(f"    {line}")
        if len(shown) > MAX_SHOWN:
            print(f"    ... {len(shown) - MAX_SHOWN} more lines")
    print(" ".join(f"{k}={v}" for k, v in counts.items()))
    return 1 if counts["TREE-DIFFERS"] or counts["MISSING"] else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
