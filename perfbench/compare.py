#!/usr/bin/env python3
"""Diff two sets of benchmark runs, per (workload, metric).

    python3 perfbench/compare.py BASE NEW [--bench BENCHMARK.json]

BASE and NEW are each a directory of run artifacts (the JSON files run.py
writes under .bench_build/perfbench/results/; copy that directory aside after
each set of runs) or a list of such files joined with commas. End-to-end
metrics are read from untraced runs (--trace 0) only, per-layer metrics from
traced runs (--trace 1) only. Runs of the two sets are paired by (workload,
seed); unpaired runs still count toward the medians.

Each cell is labelled:
  better         the new median beats the base median by more than the base
                 runs' own quartile spread, and the new run wins at least
                 nine tenths of the pairs (ties count for neither side)
  worse          the new median is worse than the base median by more than
                 the metric's bound (end-to-end), or loses by the rule above
                 (per-layer metrics, which have no bound)
  unresolved     the run-to-run spread of either set is wider than the bound,
                 and not every new run beats every base run
  within bound   none of the above
Stdlib only.
"""
import argparse
import json
import os
import statistics
import sys


def load(spec):
    files = []
    for part in spec.split(","):
        if os.path.isdir(part):
            files += [os.path.join(part, f) for f in sorted(os.listdir(part)) if f.endswith(".json")]
        elif part:
            files.append(part)
    runs = []
    for f in files:
        with open(f) as fh:
            a = json.load(fh)
        if "workload" in a and ("end_to_end" in a or "per_layer" in a):
            runs.append(a)
    return runs


def values(runs):
    """(workload, metric) -> {seed: value}. End-to-end metrics come only from
    untraced runs and per-layer metrics only from traced ones, so a cell
    never mixes the two kinds of run."""
    out = {}
    for r in runs:
        section = r.get("per_layer", {}) if r["trace"] else {
            m: v["value"] for m, v in r.get("end_to_end", {}).items()}
        for m, v in section.items():
            out.setdefault((r["workload"], m), {})[r["seed"]] = v
    return out


def spread(vs):
    if len(vs) < 2:
        return float("inf")
    med = statistics.median(vs)
    if med == 0:
        return 0.0 if max(vs) == min(vs) else float("inf")
    q = statistics.quantiles(vs, n=4)
    return (q[2] - q[0]) / abs(med)


def label(base, new, lower_better, bound):
    b, n = list(base.values()), list(new.values())
    bm, nm = statistics.median(b), statistics.median(n)
    gain = (bm - nm) if lower_better else (nm - bm)
    rel = gain / abs(bm) if bm else (0.0 if gain == 0 else float("inf") * gain)
    pairs = [(base[k], new[k]) for k in base if k in new]
    wins = sum(1 for x, y in pairs if (y < x if lower_better else y > x))
    losses = sum(1 for x, y in pairs if (y > x if lower_better else y < x))
    base_iqr = spread(b) if len(b) >= 2 else float("inf")
    all_better = all((y < x if lower_better else y > x) for x in b for y in n)
    all_worse = all((y > x if lower_better else y < x) for x in b for y in n)
    if pairs and wins >= 0.9 * len(pairs) and rel > base_iqr:
        return "better", rel
    if bound is None:
        if pairs and losses >= 0.9 * len(pairs) and -rel > base_iqr:
            return "worse", rel
        return ("unresolved" if max(spread(b), spread(n)) > 0.25 else "no clear change"), rel
    if max(spread(b), spread(n)) > bound and not all_better:
        return ("worse" if all_worse and -rel > bound else "unresolved"), rel
    if -rel > bound:
        return "worse", rel
    return "within bound", rel


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("base")
    ap.add_argument("new")
    ap.add_argument("--bench", default=os.path.join(os.path.dirname(os.path.abspath(__file__)),
                                                    "..", "BENCHMARK.json"))
    args = ap.parse_args()
    bench = json.load(open(args.bench))
    e2e = {m["name"]: m for m in bench["end_to_end"]}
    layer = {m["name"]: m for m in bench["per_layer"]}
    base, new = values(load(args.base)), values(load(args.new))
    if not base or not new:
        sys.exit("no run artifacts found in one of the sets")
    print("%-14s %-28s %12s %12s %8s %5s  %s" % ("workload", "metric", "base_med", "new_med",
                                               "gain", "n", "label"))
    worse = 0
    for key in sorted(set(base) & set(new)):
        w, m = key
        spec = e2e.get(m) or layer.get(m)
        lower = spec["better"] == "lower" if spec else True
        bound = e2e[m]["bound"] if m in e2e else None
        lab, rel = label(base[key], new[key], lower, bound)
        worse += lab == "worse" and m in e2e
        print("%-14s %-28s %12.6g %12.6g %+7.1f%% %2d/%-2d  %s" % (
            w, m, statistics.median(base[key].values()), statistics.median(new[key].values()),
            100 * rel, len(base[key]), len(new[key]), lab))
    sys.exit(1 if worse else 0)


if __name__ == "__main__":
    main()
