#!/usr/bin/env python3
"""Per-op-kind latency of lake_search runs, one side or parent vs change.

Reads ops.jsonl files (the timed window only; untraced operations when a
run was traced) and prints, per op kind, the samples in ms, their median
and their sum. The sums add up to the window's busy time, so a move in
op_p50_ms, op_tail_ms or throughput_per_s can be attributed to the kinds
that caused it. A checkout stands for its last run,
perfbench/.run/lake_search/out/ops.jsonl; several files on one side pool
their samples (e.g. one copy of ops.jsonl per seed of an A/B).

    python3 dev/op_kinds.py CHECKOUT_OR_OPS_JSONL
    python3 dev/op_kinds.py PARENT_CHECKOUT CHANGE_CHECKOUT
    python3 dev/op_kinds.py --parent a.jsonl b.jsonl --change c.jsonl d.jsonl

With two sides it adds the change/parent ratio of each median and of
each sum. A checkout's ops.jsonl holds its last run only: run both sides
on the same seeds before comparing.
"""
import argparse
import json
import os
import statistics
import sys

OPS = os.path.join("perfbench", ".run", "lake_search", "out", "ops.jsonl")


def load(paths):
    """{op kind: [ms, ...]} pooled over the timed windows of `paths`."""
    by_kind = {}
    for p in paths:
        path = os.path.join(p, OPS) if os.path.isdir(p) else p
        with open(path) as f:
            ops = [json.loads(line) for line in f if line.strip()]
        timed = [o for o in ops if o["phase"] == "timed"]
        if any(o["traced"] for o in timed):
            timed = [o for o in timed if not o["traced"]]
        if not timed:
            sys.exit(f"{path}: no timed operations")
        for o in timed:
            by_kind.setdefault(o["name"], []).append(o["ms"])
    return by_kind


def row(samples):
    """(median, sum, the samples, or their count when too many to list)."""
    listed = (" ".join(f"{x:.0f}" for x in sorted(samples))
              if len(samples) <= 12 else f"{len(samples)} samples")
    return statistics.median(samples), sum(samples), listed


def main(argv):
    ap = argparse.ArgumentParser(
        description=__doc__, formatter_class=argparse.RawTextHelpFormatter)
    ap.add_argument("sides", nargs="*", metavar="CHECKOUT_OR_OPS_JSONL",
                    help="one side, or parent then change")
    ap.add_argument("--parent", nargs="+", default=[], metavar="PATH")
    ap.add_argument("--change", nargs="+", default=[], metavar="PATH")
    args = ap.parse_args(argv)
    if args.sides and (args.parent or args.change):
        ap.error("give positional sides or --parent/--change, not both")
    groups = ([g for g in (args.parent, args.change) if g]
              or [[p] for p in args.sides])
    if len(groups) not in (1, 2):
        ap.error("want one side or two")
    sides = [load(g) for g in groups]
    kinds = sorted(set().union(*sides))
    if len(sides) == 1:
        print(f"{'kind':<14}{'n':>3}{'p50_ms':>9}{'sum_ms':>9}  samples_ms")
        for k in kinds + ["ALL"]:
            s = ([x for v in sides[0].values() for x in v] if k == "ALL"
                 else sides[0][k])
            p50, tot, smp = row(s)
            print(f"{k:<14}{len(s):>3}{p50:>9.1f}{tot:>9.0f}  {smp}")
        return
    print(f"{'kind':<14}{'p50 parent':>11}{'p50 change':>11}{'ratio':>7}"
          f"{'sum parent':>11}{'sum change':>11}{'ratio':>7}  "
          "samples_ms parent | change")
    for k in kinds + ["ALL"]:
        a, b = ([x for v in side.values() for x in v] if k == "ALL"
                else side.get(k, []) for side in sides)
        if not a or not b:
            print(f"{k:<14} only in the {'change' if b else 'parent'}")
            continue
        (pa, ta, sa), (pb, tb, sb) = row(a), row(b)
        print(f"{k:<14}{pa:>11.1f}{pb:>11.1f}{pb / pa:>7.2f}"
              f"{ta:>11.0f}{tb:>11.0f}{tb / ta:>7.2f}  {sa} | {sb}")


if __name__ == "__main__":
    main(sys.argv[1:])
