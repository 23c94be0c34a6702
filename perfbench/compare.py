#!/usr/bin/env python3
"""Compare two sets of benchmark results: parent and change.

    python3 perfbench/compare.py PARENT_DIR CHANGE_DIR

Each directory holds result files as run.py keeps them
(perfbench/results/<workload>/seed<N>-trace<T>.json), found recursively.
For every workload x end-to-end metric of BENCHMARK.json it prints the
median and quartiles of each side, the pair wins (runs paired by seed),
and a verdict (choosing-metrics guide, section 8):

  improved      the change wins at least 9/10 of the pairs (ties count
                for neither) and the medians differ by more than the
                parent's interquartile range, in the better direction
  unresolved    the parent's own spread (IQR / median) is wider than the
                bound, unless every change run beats every parent run
  worse         the change's median is worse than the parent's by more
                than the bound
  within bound  otherwise

Traced results (trace 1) of the same workload and seed on both sides are
compared counter by counter: per-operation Spark job, stage and task
counts and rows read must repeat exactly.
"""
import argparse
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
EXACT = ("jobs", "stages", "tasks", "metadata_jobs", "input_records", "rows")


def load(root):
    """(workload, trace) -> {seed: result}"""
    out = {}
    for d, _, files in os.walk(root):
        for f in sorted(files):
            if not f.endswith(".json"):
                continue
            try:
                with open(os.path.join(d, f)) as fh:
                    r = json.load(fh)
            except (OSError, ValueError):
                continue
            if isinstance(r, dict) and {"workload", "seed", "trace",
                                        "metrics"} <= r.keys():
                out.setdefault((r["workload"], r["trace"]), {})[r["seed"]] = r
    return out


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], statistics.median(xs), q[2]


def verdict(par, chg, pairs, bound, lower_better):
    """One verdict by the rules in the module docstring."""
    sign = -1 if lower_better else 1  # >0 means "change is better"
    wins = sum(1 for p, c in pairs if sign * (c - p) > 0)
    q1, pm, q3 = quartiles(par)
    cm = statistics.median(chg)
    diff = sign * (cm - pm)
    if pairs and wins >= 0.9 * len(pairs) and diff > q3 - q1:
        return "improved", wins
    all_better = all(sign * (c - p) > 0 for c in chg for p in par)
    if pm and (q3 - q1) / abs(pm) > bound and not all_better:
        return "unresolved", wins
    if pm and -diff > bound * abs(pm):
        return "worse", wins
    return "within bound", wins


def compare_counters(par, chg):
    """Lines naming every traced operation whose exact counters differ."""
    lines = []
    for seed in sorted(set(par) & set(chg)):
        a, b = par[seed].get("counters", {}), chg[seed].get("counters", {})
        diff = [k for k in sorted(set(a) | set(b))
                if any(a.get(k, {}).get(c) != b.get(k, {}).get(c)
                       for c in EXACT)]
        lines.append(f"  seed {seed}: {len(set(a) & set(b))} ops, "
                     + ("counters identical" if not diff else
                        f"{len(diff)} differ: " + ", ".join(diff[:8])))
    return lines


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--bench", default=os.path.join(HERE, "..",
                                                    "BENCHMARK.json"))
    a = ap.parse_args()
    with open(a.bench) as f:
        bench = json.load(f)
    par, chg = load(a.parent), load(a.change)
    print(f"{'workload':<16} {'metric':<26} {'parent q1/med/q3':>34} "
          f"{'change q1/med/q3':>34} {'wins':>7}  verdict")
    for w in [x["name"] for x in bench["workloads"]]:
        p_runs, c_runs = par.get((w, 0), {}), chg.get((w, 0), {})
        for m in bench["end_to_end"]:
            name = m["name"]
            pv = {s: r["metrics"][name]["value"] for s, r in p_runs.items()
                  if name in r["metrics"]}
            cv = {s: r["metrics"][name]["value"] for s, r in c_runs.items()
                  if name in r["metrics"]}
            if not pv or not cv:
                print(f"{w:<16} {name:<26} {'(no runs on one side)':>34}")
                continue
            pairs = [(pv[s], cv[s]) for s in sorted(set(pv) & set(cv))]
            v, wins = verdict(list(pv.values()), list(cv.values()), pairs,
                              m["bound"], m["better"] == "lower")
            fmt = lambda xs: "/".join(f"{x:.4g}" for x in quartiles(xs))
            print(f"{w:<16} {name:<26} {fmt(list(pv.values())):>34} "
                  f"{fmt(list(cv.values())):>34} {wins:>3}/{len(pairs):<3}  {v}")
        if (w, 1) in par and (w, 1) in chg:
            print(f"{w}: traced counters, parent vs change")
            for line in compare_counters(par[(w, 1)], chg[(w, 1)]):
                print(line)
    return 0


if __name__ == "__main__":
    sys.exit(main())
