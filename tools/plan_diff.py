#!/usr/bin/env python3
"""Compare two plan dumps of the registered queries, key by key.

Each dump is the stdout of

    sbt "runMain graft.Explain ALL <sfDir> formatted"

taken on two checkouts (say, a parent commit and a change). The script
splits each dump at its `===== <key> =====` headers, masks what differs
between any two runs of the same plan, and prints every key whose masked
plan differs, followed by the first differing lines. It exits 1 when a
key changed or appears in only one dump, 0 otherwise.

Masked, because they vary from run to run without the plan changing:
  - expression and object ids: `#123`, `#123L` -> `#N`, `#NL`
  - exchange, subquery and RDD ids: `plan_id=123` -> `plan_id=N`,
    `Subquery:N`, `MapPartitionsRDD[395]` -> `MapPartitionsRDD[N]`
  - lambda objects: `pkg.Cls$$$Lambda$123/0x7f..@1a2b3c` -> `<lambda>`
    (the enclosing class is masked too, so moving a closure from one
    object to another reads as no change)
  - object hashes: `ClassName@1a2b3c` -> `ClassName@H`
Trailing spaces and blank lines, and sbt's own `[info]`-style log lines,
are dropped.

Usage: python3 tools/plan_diff.py <parent_dump> <change_dump>
"""
import difflib
import re
import sys

HEADER = re.compile(r"^===== (.+) =====$")
SBT_LOG = re.compile(r"^\[(info|warn|error|success)\]")
MASKS = [
    (re.compile(r"[\w.$]*\$\$Lambda[$/\w]*(@[0-9a-f]+)?"), "<lambda>"),
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"Subquery:\d+"), "Subquery:N"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    (re.compile(r"@[0-9a-f]{4,}\b"), "@H"),
]


def split_dump(path):
    plans, lines = {}, None
    with open(path, encoding="utf-8", errors="replace") as f:
        for raw in f:
            line = raw.rstrip("\n")
            m = HEADER.match(line)
            if m:
                lines = plans[m.group(1)] = []
            elif lines is not None and not SBT_LOG.match(line):
                lines.append(mask(line))
    for lines in plans.values():
        while lines and not lines[-1]:
            lines.pop()
    return plans


def mask(line):
    for pat, rep in MASKS:
        line = pat.sub(rep, line)
    return line.rstrip()


def main(argv):
    if len(argv) != 3:
        print(__doc__)
        return 2
    a, b = split_dump(argv[1]), split_dump(argv[2])
    only_a = sorted(set(a) - set(b))
    only_b = sorted(set(b) - set(a))
    changed = sorted(k for k in set(a) & set(b) if a[k] != b[k])
    for k in changed:
        print(f"CHANGED {k}")
        diff = difflib.unified_diff(a[k], b[k], "parent", "change", n=3, lineterm="")
        for line in list(diff)[2:]:
            print("    " + line)
    for k in only_a:
        print(f"ONLY-IN-PARENT {k}")
    for k in only_b:
        print(f"ONLY-IN-CHANGE {k}")
    print(f"keys: parent {len(a)}, change {len(b)}, common {len(set(a) & set(b))}, "
          f"changed {len(changed)}, only-parent {len(only_a)}, only-change {len(only_b)}")
    return 1 if changed or only_a or only_b else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
