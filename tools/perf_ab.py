#!/usr/bin/env python3
"""A/B-compares a parent commit with the current checkout on one benchmark workload.

    python3 tools/perf_ab.py <parent-ref> --workload kinesis_stream --pairs 10

Run it from the root of a graft checkout. The parent ref is exported
with `git archive` into a temporary directory, and `perfbench/run.py`
runs on both trees with the same arguments. Each pair uses a fresh seed,
and the side that runs first alternates from pair to pair. For every
end-to-end metric that BENCHMARK.json declares, the script prints each
side's median and quartiles and how many pairs the change won, and
calls a gain only when the change won at least nine tenths of the pairs
and the medians differ by more than the parent's quartile distance.
"""

import argparse
import json
import random
import shutil
import statistics
import subprocess
import sys
import tempfile
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def export_tree(ref, dest):
    """Writes the files of `ref` into `dest` (no .git, no worktree)."""
    dest.mkdir(parents=True)
    archive = subprocess.Popen(["git", "-C", str(ROOT), "archive", "--format=tar", ref],
                               stdout=subprocess.PIPE)
    subprocess.run(["tar", "-x", "-C", str(dest)], stdin=archive.stdout, check=True)
    archive.stdout.close()
    if archive.wait() != 0:
        sys.exit(f"perf_ab: git archive {ref} failed")


def run_side(tree, workload, seed, seconds):
    """One benchmark run; returns its result dict, or None if it did not finish."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    proc = subprocess.run(cmd, cwd=tree, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                          stdin=subprocess.DEVNULL, text=True)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stderr[-2000:])
        return None
    return json.loads(lines[-1])


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def summarize(metrics, pairs):
    """One row per metric over the pairs where both sides gave a value."""
    rows = []
    for m in metrics:
        name, lower = m["name"], m["better"] == "lower"
        both = [(p[name], c[name]) for p, c in pairs if name in p and name in c]
        if not both:
            continue
        par, chg = [b[0] for b in both], [b[1] for b in both]
        pq, cq = quartiles(par), quartiles(chg)
        wins = sum(1 for p, c in both if (c < p if lower else c > p))
        losses = sum(1 for p, c in both if (c > p if lower else c < p))
        gap = (pq[1] - cq[1]) if lower else (cq[1] - pq[1])
        gain = wins >= 0.9 * len(both) and gap > pq[2] - pq[0]
        rows.append({"metric": name, "unit": m["unit"], "better": m["better"], "n": len(both),
                     "parent_q1": pq[0], "parent_median": pq[1], "parent_q3": pq[2],
                     "change_q1": cq[0], "change_median": cq[1], "change_q3": cq[2],
                     "change_wins": wins, "change_losses": losses,
                     "median_change_frac": (cq[1] - pq[1]) / pq[1] if pq[1] else None,
                     "gain": gain})
    return rows


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("parent", help="git ref of the parent commit")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seconds", type=float, default=None,
                    help="per-run --seconds (default: BENCHMARK.json run_seconds)")
    ap.add_argument("--seed-base", type=int, default=None,
                    help="pair i uses seed base+i (default: random)")
    ap.add_argument("--out", help="also write every run and the summary to this JSON file")
    a = ap.parse_args()

    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    seconds = a.seconds if a.seconds is not None else bench["run_seconds"]
    base = a.seed_base if a.seed_base is not None else random.randrange(1000, 1_000_000)
    metrics = bench["end_to_end"]

    scratch = Path(tempfile.mkdtemp(prefix="graft-perf-ab-"))
    runs, pairs = [], []
    try:
        parent_tree = scratch / "parent"
        export_tree(a.parent, parent_tree)
        trees = {"parent": parent_tree, "change": ROOT}
        for i in range(a.pairs):
            seed = base + i
            order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
            got = {}
            for side in order:
                res = run_side(trees[side], a.workload, seed, seconds)
                ok = res is not None and res["correct"]
                vals = {k: v["value"] for k, v in res["metrics"].items()} if res else {}
                runs.append({"pair": i, "side": side, "seed": seed, "correct": ok,
                             "attempted": res and res["attempted"], "failed": res and res["failed"],
                             "metrics": vals})
                if ok:
                    got[side] = vals
            if len(got) == 2:
                pairs.append((got["parent"], got["change"]))
                status = "  ".join(f"{m['name']} {got['parent'][m['name']]:.3f}->"
                                   f"{got['change'][m['name']]:.3f}" for m in metrics)
            else:
                status = "incomplete (a run failed or had wrong output)"
            print(f"pair {i + 1}/{a.pairs} seed {seed} ({order[0]} first): {status}", flush=True)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)

    rows = summarize(metrics, pairs)
    print(f"\n{a.workload}: {len(pairs)} complete pairs of {a.pairs}, seeds {base}..{base + a.pairs - 1}, "
          f"--seconds {seconds:g}, parent {a.parent} vs working tree")
    print(f"{'metric':<12} {'parent median [q1, q3]':>30} {'change median [q1, q3]':>30} "
          f"{'change':>8} {'wins':>7}  gain")
    for r in rows:
        fmt = lambda s: f"{r[s + '_median']:.3f} [{r[s + '_q1']:.3f}, {r[s + '_q3']:.3f}]"
        frac = r["median_change_frac"]
        print(f"{r['metric']:<12} {fmt('parent'):>30} {fmt('change'):>30} "
              f"{(f'{frac:+.1%}' if frac is not None else '-'):>8} "
              f"{r['change_wins']:>3}/{r['n']:<3}  {'yes' if r['gain'] else 'no'}")
    bad = [r for r in runs if not r["correct"]]
    if bad:
        print(f"{len(bad)} run(s) failed or had wrong output: "
              + ", ".join(f"{r['side']} seed {r['seed']}" for r in bad))
    if a.out:
        Path(a.out).write_text(json.dumps({"workload": a.workload, "parent": a.parent,
                                           "seconds": seconds, "runs": runs, "summary": rows},
                                          indent=1))
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
