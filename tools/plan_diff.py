#!/usr/bin/env python3
"""Compare two sets of graft.tools.Probe plan dumps key by key.

Usage: python3 tools/plan_diff.py <dirA> <dirB> [key ...]

Each directory holds the files of one `Probe plan --out DIR --suffix S`
run (`<key>_<S>.txt`, one suffix per directory). The plans are compared
after normalizing what changes from run to run without changing the
plan: expression ids (`#123`), exchange plan ids (`[plan_id=12]`), RDD
ids (`MapPartitionsRDD[76]`) and the source line of an RDD's call site
(`localCheckpoint at package.scala:73`). With `--executed`, adaptive
execution numbers whole-stage codegen stages (`[codegen id : 3]`,
`*(3)`, `WholeStageCodegen (3)`) and query stages (a query stage's
`Arguments: 3`, `ShuffleQueryStage 3`) in the order its stages ran,
which can differ between runs of one plan; both are renumbered in
order of first appearance, so which operators share a stage is still
compared, and so are the adaptive decisions themselves (an
`AQEShuffleRead`'s `local` / `coalesced` / `skewed`, a join strategy).
Prints SAME/DIFF per key (a DIFF with the first differing lines) and
exits non-zero on any DIFF or on a key missing from either side.
Without keys, every key of either directory is compared.
"""
import difflib
import os
import re
import sys

RULES = [
    (re.compile(r"#\d+"), "#"),
    (re.compile(r"\[plan_id=\d+\]"), "[plan_id=]"),
    (re.compile(r"RDD\[\d+\]"), "RDD[]"),
    (re.compile(r"(\.scala):\d+"), r"\1:"),
]


# run-order ids: group 1 is the prefix, group 2 the id
CODEGEN = re.compile(r"(\[codegen id : |\*\(|WholeStageCodegen \()(\d+)")
STAGE = re.compile(r"(QueryStage )(\d+)")
# a formatted plan's node header and a query stage's id line under it
HEADER = re.compile(r"^\(\d+\) (\S+)")
STAGE_ARG = re.compile(r"^(Arguments: )(\d+)$")


def renumber(pattern, line, ids):
    """`pattern`'s ids in `line` replaced by their order of first appearance."""
    return pattern.sub(lambda m: m.group(1) + str(ids.setdefault(m.group(2), len(ids))), line)


def normalize(text):
    for pattern, repl in RULES:
        text = pattern.sub(repl, text)
    codegen, stages, node, lines = {}, {}, "", []
    for line in text.splitlines():
        header = HEADER.match(line)
        if header:
            node = header.group(1)
        line = renumber(CODEGEN, line, codegen)
        line = renumber(STAGE, line, stages)
        if node.endswith("QueryStage"):
            line = renumber(STAGE_ARG, line, stages)
        lines.append(line)
    return lines


def plans(d):
    """{key: path} of one dump directory; all files share one suffix."""
    stems = [f[:-4] for f in os.listdir(d) if f.endswith(".txt")]
    suffixes = {s.rsplit("_", 1)[-1] for s in stems}
    if len(suffixes) != 1:
        sys.exit(f"{d}: expected one plan suffix, found {sorted(suffixes)}")
    (suffix,) = suffixes
    return {s[: -len(suffix) - 1]: os.path.join(d, s + ".txt") for s in stems}


def main(argv):
    if len(argv) < 2:
        sys.exit(__doc__)
    a, b = plans(argv[0]), plans(argv[1])
    keys = argv[2:] or sorted(set(a) | set(b))
    bad = 0
    for k in keys:
        if k not in a or k not in b:
            print(f"MISSING {k} (absent from {argv[0] if k not in a else argv[1]})")
            bad += 1
            continue
        la, lb = (normalize(open(p[k]).read()) for p in (a, b))
        if la == lb:
            print(f"SAME {k}")
            continue
        bad += 1
        print(f"DIFF {k}")
        diff = difflib.unified_diff(la, lb, argv[0], argv[1], n=1, lineterm="")
        for line in list(diff)[:40]:
            print("  " + line)
    print(f"{len(keys) - bad}/{len(keys)} keys SAME")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
