#!/usr/bin/env python3
"""Assemble ann_frontier.txt from the raw Probe and AnnRecallSpec outputs.

    python3 plans/r20/frontier.py > plans/r20/ann_frontier.txt

Reads raw/probe_<side>_<run>.txt (`Probe time --reps 5` TIME lines),
raw/specs_<side>.log (AnnRecallSpec output of a test run) and
raw/ann_recall_reps_<side>.txt (two more AnnRecallSpec runs) for the
sides parent and change.
"""
import os
import re

HERE = os.path.dirname(os.path.abspath(__file__))
SIDES = ("parent", "change")
# (label, raw file suffix): round 1 ran parent sf0.01, change sf0.01,
# change sf0.1, parent sf0.1; round 2 ran change sf0.01 then parent sf0.01
RUNS = (("sf0.01 r1", "sf0.01"), ("sf0.01 r2", "sf0.01_round2"), ("sf0.1", "sf0.1"))
KEYS = ("ann_bruteforce_topk", "ann_quantized_topk", "ann_lsh_topk",
        "ann_ivf_topk", "ann_pq_topk", "ann_pq_topk_exact")
# AnnRecallSpec info line prefix -> the registered key it measures
RECALL = {"quantized": "ann_quantized_topk", "lsh": "ann_lsh_topk",
          "ivf": "ann_ivf_topk", "pq": "ann_pq_topk", "ivf-pq": "(persisted ivf-pq)"}


def times(side, sf):
    out = {}
    for line in open(os.path.join(HERE, "raw", f"probe_{side}_{sf}.txt")):
        m = re.search(r"TIME (\S+)\s+median=\s*([\d.]+) .* jobs=(\d+)", line)
        if m:
            out[m.group(1)] = (float(m.group(2)), int(m.group(3)))
    return out


def recalls(side):
    """Every reported value per key, over the spec run and its reruns."""
    out = {}
    for f in (f"specs_{side}.log", f"ann_recall_reps_{side}.txt"):
        for line in open(os.path.join(HERE, "raw", f)):
            m = re.search(r"\+ (\S+) recall@10(?: =|:) (.*?)\s*$", line)
            if m:
                vals = out.setdefault(RECALL[m.group(1)], [])
                if m.group(1) == "ivf" and "nprobe" in m.group(2):
                    continue  # the monotonicity line; nprobe=4 is the key's setting
                vals.append(m.group(2))
    return {k: " | ".join(v) for k, v in out.items()}


def main():
    t = {(s, f): times(s, f) for s in SIDES for _, f in RUNS}
    print("Probe time --reps 5 (count sink, 4 cores): median seconds / Spark jobs of the median rep")
    print(f"{'key':22} {'run':9} {'parent':>14} {'change':>14}")
    for k in KEYS:
        for label, f in RUNS:
            cells = ["{:7.3f} s / {:2d}".format(*t[(s, f)][k]) for s in SIDES]
            print(f"{k:22} {label:9} {cells[0]:>14} {cells[1]:>14}")
    r = {s: recalls(s) for s in SIDES}
    print()
    print("recall@10 against bruteForceTopK (AnnRecallSpec: 1200 vectors of dim 8 in 12 clusters, 15 queries)")
    print("one value per AnnRecallSpec run (3 runs per side)")
    for k in sorted(r["parent"]):
        print(f"{k:22} parent {r['parent'][k]}")
        print(f"{'':22} change {r['change'].get(k, '-')}")


if __name__ == "__main__":
    main()
