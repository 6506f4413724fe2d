#!/usr/bin/env python3
"""Medians, quartiles and pair wins per end-to-end metric of the
alternating flowbench pairs in <dir>/raw: python3 plans/r22/summary.py plans/r22

Each raw file is `<workload>_s<seed>_<parent|change>.out`, the stdout of
`python3 flowbench/run.py --workload W --seed S --seconds 6` with the
exit code appended as its last line ("exit N").
"""
import glob
import json
import os
import re
import statistics as st
import sys


def quartiles(xs):
    q1, q2, q3 = st.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


d = sys.argv[1]
runs = {}
for f in sorted(glob.glob(os.path.join(d, "raw", "*.out"))):
    m = re.match(r"(\w+?)_s(\d+)_(parent|change)\.out$", os.path.basename(f))
    if not m:
        continue
    w, seed, side = m.group(1), int(m.group(2)), m.group(3)
    lines = open(f).read().splitlines()
    js = [l for l in lines if l.startswith("{")]
    if not js:
        continue
    runs.setdefault(w, {}).setdefault(seed, {})[side] = (json.loads(js[-1]), lines[-1])
out = []
for w, seeds in sorted(runs.items()):
    pairs = {s: v for s, v in seeds.items() if "parent" in v and "change" in v}
    out.append(f"== {w}: {len(pairs)} pairs (seeds {', '.join(map(str, sorted(pairs)))})")
    for m in ["setup_s", "wall_s", "cpu_s", "step_s"]:
        p = [pairs[s]["parent"][0]["metrics"][m]["value"] for s in sorted(pairs)]
        c = [pairs[s]["change"][0]["metrics"][m]["value"] for s in sorted(pairs)]
        better = sum(1 for a, b in zip(p, c) if b < a)
        (p1, p2, p3), (c1, c2, c3) = quartiles(p), quartiles(c)
        out.append(
            f"{m:8s} parent median {p2:6.2f} [q1 {p1:6.2f}, q3 {p3:6.2f}, iqr {p3 - p1:5.2f}]  "
            f"change median {c2:6.2f} [q1 {c1:6.2f}, q3 {c3:6.2f}, iqr {c3 - c1:5.2f}]  "
            f"ratio {c2 / p2:.3f}  gap {p2 - c2:+.2f}  change lower in {better}/{len(p)}")
        out.append("         pairs (parent/change): " + " ".join(f"{a:.2f}/{b:.2f}" for a, b in zip(p, c)))
    for side in ["parent", "change"]:
        rs = [pairs[s][side] for s in sorted(pairs)]
        out.append(f"{side}: failed ops {[r[0]['failed'] for r in rs]}, "
                   f"correct {sorted({r[0]['correct'] for r in rs})}, exits {sorted({r[1] for r in rs})}")
print("\n".join(out))
