#!/usr/bin/env python3
"""Splits each traced call of a perfbench report into build, planning and execute.

    python3 tools/span_split.py perfbench/results/topic_fanout-seed7-trace1.json

A traced call's span has two children, `spark.planning` (forcing the
executed plan) and `spark.execute` (running it). The time from the
call's start to the start of `spark.planning` is build: constructing
the DataFrame, including any Spark job that resolving its inputs runs.
For each public call the script prints the median of the three parts
over the report's traced samples, then the totals over all traced calls
and each part's share of their sum.
"""

import argparse
import json
import statistics
from collections import defaultdict

PARTS = ("build", "planning", "execute")


def split(spans):
    """(call name, {part: ms}) for every traced call that has both children."""
    children = defaultdict(dict)
    for s in spans:
        if s["name"] in ("spark.planning", "spark.execute"):
            children[s["parent"]][s["name"]] = s
    calls = []
    for s in spans:
        kids = children.get(s["id"], {})
        if s["id"] != s["op"] or len(kids) < 2:
            continue
        plan, run = kids["spark.planning"], kids["spark.execute"]
        calls.append((s["name"], {
            "build": (plan["start_ns"] - s["start_ns"]) / 1e6,
            "planning": (plan["end_ns"] - plan["start_ns"]) / 1e6,
            "execute": (run["end_ns"] - run["start_ns"]) / 1e6,
        }))
    return calls


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("report", help="a perfbench report written with --trace 1")
    args = ap.parse_args()
    with open(args.report) as f:
        calls = split(json.load(f)["spans"])
    if not calls:
        raise SystemExit("span_split: no traced calls in the report (run perfbench with --trace 1)")

    by_name = defaultdict(list)
    for name, parts in calls:
        by_name[name].append(parts)
    width = max(len(n) for n in by_name)
    print(f"{'call':<{width}}  {'n':>3}  " + "  ".join(f"{p + '_ms':>12}" for p in PARTS))
    for name in sorted(by_name):
        rows = by_name[name]
        meds = [statistics.median(r[p] for r in rows) for p in PARTS]
        print(f"{name:<{width}}  {len(rows):>3}  " + "  ".join(f"{m:>12.1f}" for m in meds))

    totals = {p: sum(parts[p] for _, parts in calls) for p in PARTS}
    whole = sum(totals.values())
    print(f"\ntotals over {len(calls)} traced calls: {whole / 1000:.2f} s")
    for p in PARTS:
        print(f"  {p:<9} {totals[p] / 1000:8.2f} s  {totals[p] / whole:6.1%}")
    print(f"build share: {totals['build'] / whole:.1%}")


if __name__ == "__main__":
    main()
