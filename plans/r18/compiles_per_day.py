#!/usr/bin/env python3
"""Generated-class compiles per day of a monitor_daily flow-benchmark run.

    python3 compiles_per_day.py <log>

The log holds the "Code generated in" and "Starting job:" lines of a
run's stderr under codegen-log4j2.properties. The benchmark reads each
input with spark.read.parquet, and that read's schema-inference job names
its call site: Flows.scala:109 is the onboarding history, Flows.scala:134
each day's batch. A segment runs from one such job to the next; the last
day ends at the first other job issued from the benchmark's own code
(the output checks); that last segment also holds the compiles of the
first check query, which are made before its job starts. Segments: setup
(input generation), onboarding backfill, onboarding day 0, then the
measured days (two per measured cycle; a later cycle replays the same
two days).
"""
import re
import sys

START = re.compile(r"Flows\.scala:(109|134)$")
OWN = re.compile(r"(Flows|Main|Storage)\.scala:\d+$")
labels = ["setup", "onboard_backfill", "onboard_day0"]
counts = [0]
for line in open(sys.argv[1], errors="replace"):
    if "Code generated in" in line:
        counts[-1] += 1
        continue
    m = re.search(r"Starting job: \S+ at (\S+)", line)
    if not m:
        continue
    if START.search(m.group(1)):
        counts.append(0)
    elif len(counts) > 1 and OWN.search(m.group(1)):
        break
for i, n in enumerate(counts):
    print(f"{labels[i] if i < len(labels) else f'measured_day{i - 2}'} compiles={n}")
