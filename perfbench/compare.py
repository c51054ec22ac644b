#!/usr/bin/env python3
"""Compares two result sets of perfbench/run.py, parent and change, or
reports on one.

Usage: python3 perfbench/compare.py PARENT_DIR CHANGE_DIR
       python3 perfbench/compare.py RESULTS_DIR

A result set is a directory of the result files run.py writes (`--results`).
For each workload and end-to-end metric of BENCHMARK.json it prints both
sides' median and quartiles, the pairs the change won (runs paired by seed)
and a verdict:

- improved: the change wins at least 9 of 10 pairs and the medians differ by
  more than the parent's quartile spread;
- worse: the change's median is worse than the parent's by more than the
  metric's bound;
- unresolved: the parent's own quartile spread is wider than the bound, and
  not every change run beats every parent run;
- no worse: otherwise.

Then it prints, per workload, the per-layer metrics of the traced runs with
the change's delta against the parent.

Given one result set, it prints per workload the end-to-end medians and
quartiles, the traced run's per-layer metrics, its self time by owning module,
and the tracing overhead: the traced run's later-pass time against the median
of the untraced runs.
"""
import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load(results_dir):
    runs = []
    for path in sorted(glob.glob(os.path.join(results_dir, "*.json"))):
        with open(path) as f:
            r = json.load(f)
        if "metrics" in r and "workload" in r:
            runs.append(r)
    return runs


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def verdict(parent, change, better, bound, pairs):
    """parent/change: {seed: value}; returns (verdict, pairs the change won)."""
    sign = 1.0 if better == "lower" else -1.0
    pv, cv = list(parent.values()), list(change.values())
    p1, pm, p3 = quartiles(pv)
    cm = statistics.median(cv)
    wins = sum(1 for s in pairs if sign * (change[s] - parent[s]) < 0)
    worse_by = sign * (cm - pm) / abs(pm) if pm else 0.0
    all_better = all(sign * (c - p) < 0 for c in cv for p in pv)
    if pairs and wins >= 0.9 * len(pairs) and sign * (cm - pm) < 0 and abs(cm - pm) > p3 - p1:
        return "improved", wins
    if pm and (p3 - p1) / abs(pm) > bound and not all_better:
        return "unresolved", wins
    if worse_by > bound:
        return "worse", wins
    return "no worse", wins


def fmt(x):
    return f"{x:.4g}"


def report(bench, runs):
    for w in sorted({r["workload"] for r in runs}):
        timed = [r for r in runs if r["workload"] == w and not r["trace"]]
        traced = [r for r in runs if r["workload"] == w and r["trace"]]
        flagged = sum(1 for r in timed if r.get("host_gate_breached"))
        print(f"== {w}: {len(timed)} timed runs ({flagged} past the host gate), "
              f"{len(traced)} traced")
        for m in bench["end_to_end"]:
            xs = [r["metrics"][m["name"]][0] for r in timed]
            if xs:
                q1, med, q3 = quartiles(xs)
                print(f"  {m['name']:14s} median {fmt(med):>8s} {m['unit']:3s} "
                      f"[{fmt(q1)}, {fmt(q3)}]  spread {(q3 - q1) / med:.3f} (bound {m['bound']})")
        fails = sorted({f["name"] for r in timed + traced for f in r["failures"]})
        print(f"  failed queries: {', '.join(fails) if fails else 'none'}")
        for t in traced:
            print(f"  traced run, seed {t['seed']}:")
            for m in bench["per_layer"]:
                v, unit = t["metrics"][m["name"]]
                print(f"    {m['name']:26s} {fmt(v):>12s} {unit}")
            if timed:
                base = statistics.median(r["metrics"]["pass_s"][0] for r in timed)
                over = t["metrics"]["trace.pass_s"][0] / base - 1
                print(f"    tracing overhead: later pass {t['metrics']['trace.pass_s'][0]:.3f} s "
                      f"traced vs {base:.3f} s untraced median = {over * 100:+.1f}%")
            kinds = sorted({k for row in t["by_module"].values() for k in row})
            print("    self time by owning module, ms over the later passes:")
            print("    " + f"{'module':18s}" + "".join(f"{k:>11s}" for k in kinds))
            for mod, row in sorted(t["by_module"].items()):
                print("    " + f"{mod:18s}" + "".join(f"{row.get(k, 0):11.0f}" for k in kinds))


def main(argv):
    if len(argv) not in (1, 2):
        print(__doc__.strip().split("\n\n")[1], file=sys.stderr)
        return 2
    bench = json.load(open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")))
    if len(argv) == 1:
        report(bench, load(argv[0]))
        return 0
    sides = [load(d) for d in argv]
    workloads = sorted({r["workload"] for side in sides for r in side})
    print(f"{'workload':13s} {'metric':14s} {'parent med [q1,q3]':>30s} "
          f"{'change med [q1,q3]':>30s} {'won':>7s}  verdict")
    for w in workloads:
        timed = [{r["seed"]: r for r in side if r["workload"] == w and not r["trace"]}
                 for side in sides]
        flagged = [sum(1 for r in t.values() if r.get("host_gate_breached")) for t in timed]
        for m in bench["end_to_end"]:
            vals = [{s: r["metrics"][m["name"]][0] for s, r in t.items()} for t in timed]
            if not vals[0] or not vals[1]:
                print(f"{w:13s} {m['name']:14s} missing runs")
                continue
            pairs = sorted(set(vals[0]) & set(vals[1]))
            v, wins = verdict(vals[0], vals[1], m["better"], m["bound"], pairs)
            cells = []
            for side in vals:
                q1, med, q3 = quartiles(list(side.values()))
                cells.append(f"{fmt(med)} [{fmt(q1)},{fmt(q3)}] n={len(side)}")
            print(f"{w:13s} {m['name']:14s} {cells[0]:>30s} {cells[1]:>30s} "
                  f"{wins:>3d}/{len(pairs):<3d}  {v}")
        if any(flagged):
            print(f"{w:13s} host gate breached in {flagged[0]} parent and {flagged[1]} change runs")
    print()
    print(f"{'workload':13s} {'per-layer metric':26s} {'parent':>12s} {'change':>12s} {'delta':>9s}")
    for w in workloads:
        traced = [[r for r in side if r["workload"] == w and r["trace"]] for side in sides]
        if not traced[0] or not traced[1]:
            print(f"{w:13s} no traced run on both sides")
            continue
        for m in bench["per_layer"]:
            p, c = (statistics.median(r["metrics"][m["name"]][0] for r in t) for t in traced)
            delta = f"{(c - p) / abs(p) * 100:+.1f}%" if p else "-"
            print(f"{w:13s} {m['name']:26s} {fmt(p):>12s} {fmt(c):>12s} {delta:>9s}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
