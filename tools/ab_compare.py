#!/usr/bin/env python3
"""Paired A/B bench comparison (same host, same session window).

Usage: python3 tools/ab_compare.py BEFORE.json AFTER.json [threshold]
Lists each side's failed queries (graft.Bench records a failure as -1),
then prints totals, geomean and per-query deltas beyond the threshold
over the queries both sides passed. Exits 1 when the after side fails
a query that the before side passed.
"""
import json, statistics, sys

before = json.load(open(sys.argv[1]))["queries"]
after = json.load(open(sys.argv[2]))["queries"]
thr = float(sys.argv[3]) if len(sys.argv) > 3 else 0.2
common = sorted(set(before) & set(after))
for side, times in (("before", before), ("after", after)):
    failed = [q for q in common if times[q] < 0]
    print(f"failed_{side}={len(failed)}" + "".join(f"\n  {q}" for q in failed))
newly_failed = [q for q in common if after[q] < 0 <= before[q]]
common = [q for q in common if before[q] >= 0 and after[q] >= 0]
ratios = [after[q] / before[q] for q in common if before[q] > 0 and after[q] > 0]
geo = f"{statistics.geometric_mean(ratios):.3f}" if ratios else "n/a"
med = f"{statistics.median(ratios):.3f}" if ratios else "n/a"
print(f"n_common={len(common)}  total_before={sum(before[q] for q in common):.1f}"
      f"  total_after={sum(after[q] for q in common):.1f}"
      f"  geomean_ratio={geo}  median_ratio={med}")
deltas = sorted(((after[q] - before[q], q) for q in common))
print("\nimproved (delta <= -%.2fs):" % thr)
for d, q in deltas:
    if d <= -thr:
        print(f"  {d:+.2f}  {q:40s} {before[q]:.2f} -> {after[q]:.2f}")
print("\nregressed (delta >= +%.2fs):" % thr)
for d, q in reversed(deltas):
    if d >= thr:
        print(f"  {d:+.2f}  {q:40s} {before[q]:.2f} -> {after[q]:.2f}")
if newly_failed:
    print("\nFAILED after, passed before: " + ", ".join(newly_failed))
    sys.exit(1)
