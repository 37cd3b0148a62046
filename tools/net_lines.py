#!/usr/bin/env python3
"""Prints the added, removed and net lines of the working tree against a base ref.

    python3 tools/net_lines.py HEAD~1

Counts come from `git diff --numstat <base-ref>` (committed and
uncommitted changes; untracked files are not counted until added) and
are grouped by where a file lives: main (`src/main/`), test
(`src/test/`), tools (`tools/`) and docs (`*.md`). Any other changed
file is counted under other, which is printed only when non-empty.
Binary files have no line counts and are skipped.
"""

import argparse
import subprocess

GROUPS = ("main", "test", "tools", "docs", "other")


def group_of(path):
    if path.startswith("src/main/"):
        return "main"
    if path.startswith("src/test/"):
        return "test"
    if path.startswith("tools/"):
        return "tools"
    if path.endswith(".md"):
        return "docs"
    return "other"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("base", help="git ref to diff against, e.g. HEAD~1")
    args = ap.parse_args()
    out = subprocess.run(["git", "diff", "--numstat", args.base],
                         check=True, capture_output=True, text=True).stdout
    totals = {g: [0, 0] for g in GROUPS}
    for line in out.splitlines():
        added, removed, path = line.split("\t", 2)
        if added == "-":
            continue
        t = totals[group_of(path)]
        t[0] += int(added)
        t[1] += int(removed)
    print(f"{'group':<6} {'added':>7} {'removed':>8} {'net':>7}")
    for g in GROUPS:
        added, removed = totals[g]
        if g == "other" and added == removed == 0:
            continue
        print(f"{g:<6} {added:>7} {removed:>8} {added - removed:>+7}")


if __name__ == "__main__":
    main()
