#!/usr/bin/env python3
"""Medians and pair wins per end-to-end metric from plans/r19/raw: python3 plans/r19/summary.py plans/r19"""
import json, glob, os, re, statistics as st, sys
d = sys.argv[1]
runs = {}
for f in sorted(glob.glob(os.path.join(d, "raw", "*.out"))):
    m = re.match(r"(\w+?)_s(\d+)_(parent|change)\.out", os.path.basename(f))
    w, seed, side = m.group(1), int(m.group(2)), m.group(3)
    lines = open(f).read().splitlines()
    js = [l for l in lines if l.startswith("{")]
    if not js: continue
    r = json.loads(js[-1])
    figs = {l.split()[1]: float(l.split()[2]) for l in lines if l.startswith("figure ")}
    runs.setdefault(w, {}).setdefault(seed, {})[side] = (r, figs, lines[-1])
out = []
for w, seeds in sorted(runs.items()):
    pairs = {s: v for s, v in seeds.items() if "parent" in v and "change" in v}
    out.append(f"== {w}: {len(pairs)} pairs (seeds {', '.join(map(str, sorted(pairs)))})")
    for m in ["setup_s", "wall_s", "cpu_s", "step_s"]:
        p = [pairs[s]["parent"][0]["metrics"][m]["value"] for s in sorted(pairs)]
        c = [pairs[s]["change"][0]["metrics"][m]["value"] for s in sorted(pairs)]
        better = sum(1 for a, b in zip(p, c) if b < a)
        raw = " ".join(f"{a:.2f}/{b:.2f}" for a, b in zip(p, c))
        out.append(f"{m:8s} median parent {st.median(p):7.2f}  change {st.median(c):7.2f}  "
                   f"ratio {st.median(c)/st.median(p):.3f}  change lower in {better}/{len(p)}  pairs(parent/change): {raw}")
    for side in ["parent", "change"]:
        fails = [(s, pairs[s][side][0]["failed"], pairs[s][side][0]["correct"], pairs[s][side][2]) for s in sorted(pairs)]
        out.append(f"{side}: failed ops {[f[1] for f in fails]}, correct {[f[2] for f in fails]}, {[f[3] for f in fails]}")
    if w == "monitor_daily":
        for s in sorted(pairs):
            fp, fc = pairs[s]["parent"][1], pairs[s]["change"][1]
            out.append(f"seed {s}: alerts parent {fp.get('monitor.alerts')} change {fc.get('monitor.alerts')}; "
                       f"outside planted parent {fp.get('monitor.alerts_outside_planted')} change {fc.get('monitor.alerts_outside_planted')}")
print("\n".join(out))
