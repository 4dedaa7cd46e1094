#!/usr/bin/env python3
"""A/B comparison of two checkouts on the benchmark.

  python3 perfbench/ab_compare.py PARENT_DIR CHANGE_DIR [--pairs 10]
      [--workloads etl_batch,...] [--seed-base 1000] [--out FILE]
  python3 perfbench/ab_compare.py --baseline DIR [--runs 10] [...]

PARENT_DIR and CHANGE_DIR are checkout roots, each holding BENCHMARK.json
and perfbench/. For every workload the tool runs pairs of (parent, change)
with the same seed, alternating which side runs first, each pair on a new
seed. Per workload and end-to-end metric it reports each side's median and
quartiles, the change's win share (ties count for neither side) and a
verdict, using the bounds of the parent's BENCHMARK.json:

  unresolved  the parent's own spread (quartile distance / median) exceeds
              the bound, unless every change run beats every parent run
  regression  the change's median is worse than the parent's by more than
              the bound
  gain        the change wins at least 9 of 10 pairs and the medians differ
              by more than the parent's quartile distance
  same        none of the above

Every run lasts the parent's run_seconds, the same on both sides.
--baseline runs one checkout only and reports medians, quartiles and
spreads, as the benchmark's acceptance check computes them. --out writes
every run's result as JSON. Exit code 1 when any run failed its output
check or any metric regressed.
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path


def run(root, workload, seed, seconds):
    cmd = json.loads((root / "BENCHMARK.json").read_text())["command"]
    res = subprocess.run(cmd + ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
                                "--trace", "0"], cwd=root, stdout=subprocess.PIPE, text=True)
    lines = res.stdout.strip().splitlines()
    try:
        out = json.loads(lines[-1])
    except (IndexError, ValueError):
        out = {"correct": False, "attempted": 0, "failed": 0, "metrics": {}}
    out["exit"] = res.returncode
    return out


def stats(values):
    q1, med, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (values[0],) * 3
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med if med else float("inf")}


def quartiles(s):
    return f"[{s['q1']:.5g}, {s['q3']:.5g}]"


def compare(parent, change, metric):
    """Verdict for one metric; `parent`/`change` are per-pair values."""
    lower = metric["better"] == "lower"
    p, c = stats(parent), stats(change)

    def better(a, b):
        return a < b if lower else a > b

    wins = sum(better(cv, pv) for pv, cv in zip(parent, change))
    worse_by = (c["median"] - p["median"]) / p["median"] if p["median"] else 0.0
    if not lower:
        worse_by = -worse_by
    separated = all(better(cv, pv) for cv in change for pv in parent)
    if p["spread"] > metric["bound"] and not separated:
        verdict = "unresolved"
    elif worse_by > metric["bound"]:
        verdict = "regression"
    elif wins >= 0.9 * len(parent) and abs(c["median"] - p["median"]) > p["q3"] - p["q1"]:
        verdict = "gain"
    else:
        verdict = "same"
    return p, c, wins / len(parent), verdict


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("dirs", nargs="*", type=Path)
    ap.add_argument("--baseline", type=Path)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--workloads")
    ap.add_argument("--seed-base", type=int, default=1000)
    ap.add_argument("--out", type=Path)
    a = ap.parse_args()
    if a.baseline is None and len(a.dirs) != 2:
        ap.error("give PARENT_DIR CHANGE_DIR, or --baseline DIR")
    ref = (a.baseline or a.dirs[0]).resolve()
    bench = json.loads((ref / "BENCHMARK.json").read_text())
    seconds = bench["run_seconds"]
    workloads = a.workloads.split(",") if a.workloads else [w["name"] for w in bench["workloads"]]
    metrics = bench["end_to_end"]
    results, bad = {}, False

    for w in workloads:
        if a.baseline:
            runs = [run(ref, w, a.seed_base + i, seconds) for i in range(a.runs)]
            results[w] = runs
            bad |= any(not r["correct"] or r["exit"] != 0 for r in runs)
            print(f"\n{w}  ({len(runs)} runs, seeds {a.seed_base}..{a.seed_base + a.runs - 1})")
            print(f"  {'metric':<14}{'median':>14}{'q1':>14}{'q3':>14}{'spread':>9}{'bound':>7}")
            for m in metrics:
                vals = [r["metrics"][m["name"]]["value"] for r in runs if m["name"] in r["metrics"]]
                if not vals:
                    continue
                s = stats(vals)
                flag = "" if s["spread"] <= m["bound"] else "  over bound"
                print(f"  {m['name']:<14}{s['median']:>14.6g}{s['q1']:>14.6g}{s['q3']:>14.6g}"
                      f"{s['spread']:>9.3f}{m['bound']:>7}{flag}")
            continue
        parent_dir, change_dir = (d.resolve() for d in a.dirs)
        pairs = []
        for i in range(a.pairs):
            seed = a.seed_base + i
            order = [("parent", parent_dir), ("change", change_dir)]
            if i % 2:
                order.reverse()
            pair = {side: run(d, w, seed, seconds) for side, d in order}
            pairs.append(pair)
            bad |= any(not r["correct"] or r["exit"] != 0 for r in pair.values())
        results[w] = pairs
        print(f"\n{w}  ({len(pairs)} pairs)")
        print(f"  {'metric':<14}{'parent med':>12}{'[q1, q3]':>26}{'change med':>12}{'[q1, q3]':>26}"
              f"{'wins':>6}  verdict")
        for m in metrics:
            n = m["name"]
            ok = [p for p in pairs if n in p["parent"]["metrics"] and n in p["change"]["metrics"]]
            if not ok:
                continue
            pv = [p["parent"]["metrics"][n]["value"] for p in ok]
            cv = [p["change"]["metrics"][n]["value"] for p in ok]
            p, c, share, verdict = compare(pv, cv, m)
            bad |= verdict == "regression"
            print(f"  {n:<14}{p['median']:>12.5g}{quartiles(p):>26}{c['median']:>12.5g}{quartiles(c):>26}"
                  f"{share:>6.2f}  {verdict}")
        fails = {s: sum(p[s]["failed"] for p in pairs) for s in ("parent", "change")}
        print(f"  failed jobs: parent {fails['parent']}, change {fails['change']}")

    if a.out:
        a.out.write_text(json.dumps(results, indent=1))
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
