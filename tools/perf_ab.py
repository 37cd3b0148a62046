#!/usr/bin/env python3
"""A/B-compares a parent commit with the current checkout on the benchmark's workloads.

    python3 tools/perf_ab.py <parent-ref> --pairs 10
    python3 tools/perf_ab.py <parent-ref> --workload kinesis_stream --pairs 10

Run it from the root of a graft checkout. The parent ref is exported
with `git archive` into a temporary directory, and `perfbench/run.py`
runs on both trees with the same arguments. `--workload` may be given
more than once; without it, every workload in BENCHMARK.json runs. Each
pair uses a fresh seed and runs every workload on both sides, and the
side that runs first alternates from pair to pair. For every workload
and every end-to-end metric that BENCHMARK.json declares, the script
prints each side's median and quartiles and how many pairs the change
won, and calls a gain only when the change won at least nine tenths of
the pairs and the medians differ by more than the parent's quartile
distance.

It also applies the no-regression rule, per workload, to each metric
that has a `bound` (a fraction of the parent's median): the gate column
reads `worse` when the change's median is worse than the parent's by
more than the bound, `unresolved` when the parent's quartile spread is
wider than the bound (the runs spread too widely to tell), and `ok`
otherwise. The script exits nonzero when a metric of any workload is
`worse` or a run failed.

With `--trace`, it then makes one `--trace 1` run per side and workload
on one seed and prints each per-layer metric of the two reports side by
side with its change (`spark.jobs`, `spark.job_ms`, ..., and the
workload's per-operation `operators.*_ms`), so a speed claim can name
the layer that moved. One traced run per side shows where time went,
not that it moved: the pairs make that case.
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


def run_side(tree, workload, seed, seconds, trace=0):
    """One benchmark run; returns its result dict, or None if it did not finish."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    proc = subprocess.run(cmd, cwd=tree, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                          stdin=subprocess.DEVNULL, text=True)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stderr[-2000:])
        return None
    return json.loads(lines[-1])


def traced_layers(tree, workload, seed, seconds):
    """One `--trace 1` run; returns its report's per-layer values by name, or None."""
    res = run_side(tree, workload, seed, seconds, trace=1)
    if res is None or not res["correct"]:
        return None
    report = json.loads((tree / "perfbench" / "results" / f"{workload}-seed{seed}-trace1.json").read_text())
    return {k: (v["value"], v["unit"]) for k, v in report["per_layer"].items()}


def print_layers(parent, change):
    """One row per per-layer metric that both traced reports hold."""
    print(f"\n{'per-layer metric (one traced run per side)':<52} {'parent':>12} {'change':>12} {'delta':>12} {'change':>8}")
    for name in sorted(parent.keys() & change.keys()):
        (p, unit), (c, _) = parent[name], change[name]
        if p is None or c is None:
            continue
        frac = f"{(c - p) / p:+.1%}" if p else "-"
        print(f"{name + ' (' + unit + ')':<52} {p:>12.3f} {c:>12.3f} {c - p:>+12.3f} {frac:>8}")


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
                     "gain": gain, "gate": gate(m.get("bound"), pq, -gap)})
    return rows


def gate(bound, pq, worsening):
    """The no-regression verdict for one metric: `worsening` is how much
    worse the change's median is than the parent's, in the metric's unit."""
    if bound is None or not pq[1]:
        return "ok"
    if worsening > bound * abs(pq[1]):
        return "worse"
    if pq[2] - pq[0] > bound * abs(pq[1]):
        return "unresolved"
    return "ok"


def print_summary(workload, rows):
    print(f"\n{workload}")
    print(f"{'metric':<12} {'parent median [q1, q3]':>30} {'change median [q1, q3]':>30} "
          f"{'change':>8} {'wins':>7}  gain  gate")
    for r in rows:
        fmt = lambda s: f"{r[s + '_median']:.3f} [{r[s + '_q1']:.3f}, {r[s + '_q3']:.3f}]"
        frac = r["median_change_frac"]
        print(f"{r['metric']:<12} {fmt('parent'):>30} {fmt('change'):>30} "
              f"{(f'{frac:+.1%}' if frac is not None else '-'):>8} "
              f"{r['change_wins']:>3}/{r['n']:<3}  {'yes' if r['gain'] else 'no ':<4}  {r['gate']}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("parent", help="git ref of the parent commit")
    ap.add_argument("--workload", action="append",
                    help="a workload to run; repeat for more (default: every workload in BENCHMARK.json)")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seconds", type=float, default=None,
                    help="per-run --seconds (default: BENCHMARK.json run_seconds)")
    ap.add_argument("--seed-base", type=int, default=None,
                    help="pair i uses seed base+i (default: random)")
    ap.add_argument("--out", help="also write every run and the summary to this JSON file")
    ap.add_argument("--trace", action="store_true",
                    help="then make one --trace 1 run per side and workload and print per-layer deltas")
    a = ap.parse_args()

    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    seconds = a.seconds if a.seconds is not None else bench["run_seconds"]
    base = a.seed_base if a.seed_base is not None else random.randrange(1000, 1_000_000)
    metrics = bench["end_to_end"]
    workloads = a.workload or [w["name"] for w in bench["workloads"]]

    scratch = Path(tempfile.mkdtemp(prefix="graft-perf-ab-"))
    runs, pairs = [], {w: [] for w in workloads}
    try:
        parent_tree = scratch / "parent"
        export_tree(a.parent, parent_tree)
        trees = {"parent": parent_tree, "change": ROOT}
        for i in range(a.pairs):
            seed = base + i
            order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
            for w in workloads:
                got = {}
                for side in order:
                    res = run_side(trees[side], w, seed, seconds)
                    ok = res is not None and res["correct"]
                    vals = {k: v["value"] for k, v in res["metrics"].items()} if res else {}
                    runs.append({"workload": w, "pair": i, "side": side, "seed": seed, "correct": ok,
                                 "attempted": res and res["attempted"], "failed": res and res["failed"],
                                 "metrics": vals})
                    if ok:
                        got[side] = vals
                if len(got) == 2:
                    pairs[w].append((got["parent"], got["change"]))
                    status = "  ".join(f"{m['name']} {got['parent'][m['name']]:.3f}->"
                                       f"{got['change'][m['name']]:.3f}" for m in metrics)
                else:
                    status = "incomplete (a run failed or had wrong output)"
                print(f"pair {i + 1}/{a.pairs} seed {seed} {w} ({order[0]} first): {status}", flush=True)
        layers = {w: {side: traced_layers(trees[side], w, base + a.pairs, seconds) for side in trees}
                  for w in workloads} if a.trace else {}
    finally:
        shutil.rmtree(scratch, ignore_errors=True)

    rows = {w: summarize(metrics, pairs[w]) for w in workloads}
    print(f"\n{a.pairs} pairs, seeds {base}..{base + a.pairs - 1}, --seconds {seconds:g}, "
          f"parent {a.parent} vs working tree; complete pairs: "
          + ", ".join(f"{w} {len(pairs[w])}" for w in workloads))
    for w in workloads:
        print_summary(w, rows[w])
    untraced = [f"{w} {side}" for w, sides in layers.items() for side, got in sides.items() if got is None]
    if untraced:
        print(f"traced run failed or had wrong output: {', '.join(untraced)} (seed {base + a.pairs})")
    for w, sides in layers.items():
        if None not in sides.values():
            print(f"\n{w}:", end="")
            print_layers(sides["parent"], sides["change"])
    bad = [r for r in runs if not r["correct"]]
    if bad:
        print(f"{len(bad)} run(s) failed or had wrong output: "
              + ", ".join(f"{r['workload']} {r['side']} seed {r['seed']}" for r in bad))
    if a.out:
        Path(a.out).write_text(json.dumps({"workloads": workloads, "parent": a.parent,
                                           "seconds": seconds, "runs": runs, "summary": rows,
                                           "traced_layers": layers},
                                          indent=1))
    worse = [f"{w} {r['metric']}" for w in workloads for r in rows[w] if r["gate"] == "worse"]
    if worse:
        print("worse beyond the bound: " + ", ".join(worse))
    sys.exit(1 if bad or worse or untraced else 0)


if __name__ == "__main__":
    main()
