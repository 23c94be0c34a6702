#!/usr/bin/env python3
"""Per-op-kind latency of the last lake_search run in one or two checkouts.

Reads perfbench/.run/lake_search/out/ops.jsonl under each checkout (the
timed window only; untraced operations when the run was traced) and
prints, per op kind, the samples in ms, their median and their sum. The
sums add up to the window's busy time, so a move in op_p50_ms, op_tail_ms
or throughput_per_s can be attributed to the kinds that caused it.

    python3 dev/op_kinds.py CHECKOUT
    python3 dev/op_kinds.py PARENT_CHECKOUT CHANGE_CHECKOUT

With two checkouts it adds the change/parent ratio of each median and of
each sum. ops.jsonl holds the last run only: run both sides on the same
seed before comparing.
"""
import json
import os
import statistics
import sys

OPS = os.path.join("perfbench", ".run", "lake_search", "out", "ops.jsonl")


def load(checkout):
    """{op kind: [ms, ...]} of the timed window of one checkout's last run."""
    path = os.path.join(checkout, OPS)
    with open(path) as f:
        ops = [json.loads(line) for line in f if line.strip()]
    timed = [o for o in ops if o["phase"] == "timed"]
    if any(o["traced"] for o in timed):
        timed = [o for o in timed if not o["traced"]]
    if not timed:
        sys.exit(f"{path}: no timed operations")
    by_kind = {}
    for o in timed:
        by_kind.setdefault(o["name"], []).append(o["ms"])
    return by_kind


def row(samples):
    """(median, sum, the samples, or their count when too many to list)."""
    listed = (" ".join(f"{x:.0f}" for x in sorted(samples))
              if len(samples) <= 12 else f"{len(samples)} samples")
    return statistics.median(samples), sum(samples), listed


def main(argv):
    if len(argv) not in (1, 2):
        sys.exit(__doc__)
    sides = [load(c) for c in argv]
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
