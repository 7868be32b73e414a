#!/usr/bin/env python3
"""Diff two directories of `graft.Dev explain` output, gate by gate.

    python3 tools/plan_diff.py <before_dir> <after_dir>

Each `<gate>.txt` holds one gate's formatted physical plan. Tokens that
change from run to run are masked before the plans are compared: expression
ids (`#123`), RDD ids (`MapPartitionsRDD[45]`), exchange plan ids
(`plan_id=67`), the process id that ends a gate's scratch directory, and
the JVM's names for lambdas and object identities (`$Lambda$12/0x...`,
`[B@1f2e3d`).

Prints a summary line per gate whose masked plan differs, with the plan's
node count before and after, then the unified diff of each such gate. Gates
found in only one directory are listed too. The last line counts identical,
changed and unpaired gates.
"""
import difflib
import pathlib
import re
import sys

MASKS = [
    (re.compile(r"#\d+"), "#_"),
    (re.compile(r"RDD\[\d+\]"), "RDD[_]"),
    (re.compile(r"plan_id=\d+"), "plan_id=_"),
    (re.compile(r"(graft_gate_\w+?_[0-9a-f]+_)\d+"), r"\1_"),
    (re.compile(r"\$Lambda\$\d+/0x[0-9a-f]+"), "$Lambda$_"),
    (re.compile(r"(?<=[\w;$])@[0-9a-f]+\b"), "@_"),
]
NODE = re.compile(r"^\(\d+\) ")


def masked(path):
    text = path.read_text()
    for pattern, repl in MASKS:
        text = pattern.sub(repl, text)
    return text.splitlines()


def nodes(lines):
    """Operator count: the numbered detail sections of a formatted plan."""
    return sum(1 for line in lines if NODE.match(line))


def main(argv):
    if len(argv) != 3:
        sys.exit(__doc__)
    before, after = (pathlib.Path(a) for a in argv[1:])
    gates_b = {p.stem: p for p in before.glob("*.txt")}
    gates_a = {p.stem: p for p in after.glob("*.txt")}
    same, changed = 0, []
    for gate in sorted(gates_b.keys() & gates_a.keys()):
        b, a = masked(gates_b[gate]), masked(gates_a[gate])
        if a == b:
            same += 1
        else:
            changed.append((gate, b, a))
    only = sorted(gates_b.keys() ^ gates_a.keys())
    for gate, b, a in changed:
        print(f"CHANGED {gate}: {nodes(b)} -> {nodes(a)} nodes")
    for gate in only:
        print(f"ONLY IN {before if gate in gates_b else after}: {gate}")
    for gate, b, a in changed:
        print(f"\n=== {gate}")
        for line in difflib.unified_diff(b, a, "before", "after", n=1, lineterm=""):
            print(line)
    print(f"\n{same} identical, {len(changed)} changed, {len(only)} unpaired")


if __name__ == "__main__":
    main(sys.argv)
