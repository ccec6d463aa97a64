#!/usr/bin/env python3
"""Same-box A/B of the BENCHMARK.json workloads: parent checkout vs change.

Usage: python3 scripts/perfbench_ab.py PARENT_DIR CHANGE_DIR [--pairs N] [--seed0 S]
           [--workload W]... [--claim WORKLOAD:METRIC]...

Both directories are full checkouts (make the parent one with
`git archive <parent> | tar -x -C PARENT_DIR`). For each pair i
(seed S+i) and each workload, `perfbench/run.py --trace 0` runs once in
each checkout; which side runs first alternates from pair to pair, so
drift on a shared box hits both sides equally. Then, per workload and
end-to-end metric, the script prints each side's median and quartiles
and a verdict against the metric's bound:

  worse       the change's median is worse than the parent's by more
              than the bound;
  unresolved  not worse, but either side's run-to-run spread
              (interquartile range over median) is wider than the
              bound, and not every change run beats every parent run;
  ok          otherwise.

It prints failed/attempted for every run, and last, per workload, one
traced run (--trace 1) per side on seed 7: every per-layer count, and
every other per-layer metric whose value differs between the sides. Exit 1 if any run failed, any
operation failed, or any metric is worse.

--workload W (repeatable) runs only the named workloads; the default is
every workload in BENCHMARK.json.

--claim WORKLOAD:METRIC (repeatable) tests a claimed gain on one
end-to-end metric of one workload by the rule for a small sandbox: the
change must win at least nine tenths of the pairs run (a tie counts for
neither side), and its median must beat the parent's by more than the
parent's interquartile range. The script prints pairs won against pairs
run, the median difference against that range, and whether the claim is
met; an unmet claim also exits 1.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run(side_dir, workload, seed, seconds, trace):
    """One perfbench run; returns its result JSON, or None on failure."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=side_dir, stdout=subprocess.PIPE,
                       stderr=subprocess.DEVNULL, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        return None
    try:
        return json.loads(lines[-1])
    except ValueError:
        return None


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def verdict(parent, change, bound, lower_better):
    """ok / worse / unresolved for one metric's runs (lists of values)."""
    _, pm, _ = quartiles(parent)
    _, cm, _ = quartiles(change)
    sign = 1.0 if lower_better else -1.0
    if sign * (cm - pm) > bound * abs(pm):
        return "worse"

    def spread(xs):
        q1, q2, q3 = quartiles(xs)
        return (q3 - q1) / abs(q2) if q2 else float("inf")
    if max(spread(parent), spread(change)) > bound:
        beats = all(sign * (c - p) < 0 for c in change for p in parent)
        return "ok" if beats else "unresolved"
    return "ok"


def claim_met(workload, metric, pairs, pairs_run):
    """Print and judge one claimed gain; `pairs` holds the (parent,
    change) runs of every pair where both sides ran."""
    name = metric["name"]
    sign = 1.0 if metric["better"] == "lower" else -1.0
    diffs = [sign * (p["metrics"][name]["value"] - c["metrics"][name]["value"])
             for p, c in pairs]
    won = sum(d > 0 for d in diffs)
    lost = sum(d < 0 for d in diffs)
    print(f"claim {workload}:{name}: change won {won} of {pairs_run} pairs "
          f"({lost} lost, {len(diffs) - won - lost} tied, "
          f"{pairs_run - len(diffs)} not run on both sides)")
    if not pairs:
        print("  claim NOT met: no complete pair")
        return False
    parent = [p["metrics"][name]["value"] for p, _ in pairs]
    change = [c["metrics"][name]["value"] for _, c in pairs]
    q1, pm, q3 = quartiles(parent)
    cm = quartiles(change)[1]
    gain = sign * (pm - cm)
    print(f"  median parent {pm:.2f}  change {cm:.2f}  gain {gain:+.2f} "
          f"vs parent IQR {q3 - q1:.2f}")
    met = won >= 0.9 * pairs_run and gain > q3 - q1
    print(f"  claim {'met' if met else 'NOT met'} (needs >= 9/10 of pairs "
          "won and a median gain above the parent's IQR)")
    return met


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("parent_dir")
    ap.add_argument("change_dir")
    ap.add_argument("--pairs", type=int, default=5)
    ap.add_argument("--seed0", type=int, default=501)
    ap.add_argument("--workload", action="append", default=[],
                    help="run only this workload (repeatable)")
    ap.add_argument("--claim", action="append", default=[],
                    metavar="WORKLOAD:METRIC",
                    help="test a claimed gain (repeatable)")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = bench["run_seconds"]
    workloads = [w["name"] for w in bench["workloads"]]
    unknown = [w for w in args.workload if w not in workloads]
    if unknown:
        ap.error(f"unknown workload(s) {unknown}; BENCHMARK.json has {workloads}")
    if args.workload:
        workloads = [w for w in workloads if w in args.workload]
    metrics = {m["name"]: m for m in bench["end_to_end"]}
    claims = []
    for c in args.claim:
        w, _, name = c.partition(":")
        if w not in workloads or name not in metrics:
            ap.error(f"--claim {c}: need a run workload {workloads} and an "
                     f"end-to-end metric {sorted(metrics)}")
        claims.append((w, metrics[name]))
    sides = {"parent": os.path.abspath(args.parent_dir),
             "change": os.path.abspath(args.change_dir)}

    results = {(w, s): [] for w in workloads for s in sides}
    pairs = {w: [] for w in workloads}  # (parent run, change run) per seed
    bad = False
    for i in range(args.pairs):
        seed = args.seed0 + i
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        for w in workloads:
            pair = {}
            for side in order:
                r = run(sides[side], w, seed, seconds, 0)
                if r is None:
                    bad = True
                    print(f"{w} seed {seed} {side}: run FAILED", flush=True)
                    continue
                results[(w, side)].append(r)
                pair[side] = r
                if r["failed"]:
                    bad = True
                print(f"{w} seed {seed} {side}: failed/attempted "
                      f"{r['failed']}/{r['attempted']}", flush=True)
            if len(pair) == 2:
                pairs[w].append((pair["parent"], pair["change"]))

    print()
    for w in workloads:
        print(f"== {w}")
        for m in bench["end_to_end"]:
            name = m["name"]
            vals = {s: [r["metrics"][name]["value"] for r in results[(w, s)]]
                    for s in sides}
            if not vals["parent"] or not vals["change"]:
                print(f"  {name:<14} no runs")
                continue
            row = []
            for s in sides:
                q1, q2, q3 = quartiles(vals[s])
                row.append(f"{s} {q2:10.2f} [{q1:.2f}, {q3:.2f}]")
            v = verdict(vals["parent"], vals["change"], m["bound"],
                        m["better"] == "lower")
            bad |= v == "worse"
            pm = quartiles(vals["parent"])[1]
            cm = quartiles(vals["change"])[1]
            delta = 100.0 * (cm / pm - 1.0) if pm else float("nan")
            print(f"  {name:<14} {'  '.join(row)}  {delta:+6.1f}%  {v}")

    for w, m in claims:
        bad |= not claim_met(w, m, pairs[w], args.pairs)

    print()
    for w in workloads:
        traced = {s: run(sides[s], w, 7, seconds, 1) for s in sides}
        print(f"== {w} traced, seed 7")
        if None in traced.values():
            bad = True
            print("  a traced run FAILED")
            continue
        # every count, equal or not (unlike times, a refactor should
        # not move them), then every other metric that differs
        layer = sorted(bench["per_layer"], key=lambda m: m["unit"] != "count")
        same = 0
        for m in layer:
            p = traced["parent"]["metrics"].get(m["name"], {}).get("value")
            c = traced["change"]["metrics"].get(m["name"], {}).get("value")
            same += p == c
            if p != c or m["unit"] == "count":
                mark = "=" if p == c else "!="
                print(f"  {m['name']:<32} {m['unit']:<6} {mark:<2} "
                      f"parent {p}  change {c}")
        print(f"  {same} of {len(layer)} per-layer metrics equal")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
