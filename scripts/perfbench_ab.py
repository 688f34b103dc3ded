#!/usr/bin/env python3
"""Interleaved A/B of one perfbench workload across two checkouts.

Runs `perfbench/run.py` of checkout A and of checkout B once per seed,
alternating which side goes first, then prints every run's end-to-end
metrics with the hypervisor steal over that run, and per metric each
side's median and quartiles plus how many seed pairs B won.

Usage, from the root of a checkout:

    git worktree add ../parent HEAD~1
    python3 scripts/perfbench_ab.py --a ../parent --b . --workload cron-delta \\
        --seeds 11-20 [--seconds 20] [--trace 0]

Each side builds itself on its first run (see perfbench/README.md). Metric
names and directions come from B's BENCHMARK.json: its `end_to_end` list,
or with `--trace 1` its `per_layer` list, since a traced run prints only
the per-layer figures. Steal is read from /proc/stat around each run (0
where that file does not exist).
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def parse_seeds(text):
    seeds = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        seeds += range(int(lo), int(hi or lo) + 1)
    return seeds


def cpu_times():
    """(steal, total) jiffies of all CPUs, or None without /proc/stat."""
    try:
        with open("/proc/stat") as f:
            fields = [int(x) for x in f.readline().split()[1:]]
    except OSError:
        return None
    # user nice system idle iowait irq softirq steal [guest guest_nice]
    return fields[7], sum(fields[:8])


def steal_between(t0, t1):
    if t0 is None or t1 is None or t1[1] == t0[1]:
        return 0.0
    return (t1[0] - t0[0]) / (t1[1] - t0[1])


def run_once(checkout, workload, seed, seconds, trace):
    cmd = [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    t0 = cpu_times()
    p = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                       text=True)
    steal = steal_between(t0, cpu_times())
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        return None, steal
    return json.loads(lines[-1]), steal


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--a", required=True, help="checkout A (e.g. the parent commit)")
    ap.add_argument("--b", required=True, help="checkout B (e.g. the working tree)")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 11-20 or 3,5,8")
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    with open(os.path.join(a.b, "BENCHMARK.json")) as f:
        bench = json.load(f)
    metrics = [(m["name"], m["better"]) for m in bench["per_layer" if a.trace else "end_to_end"]]
    sides = {"A": a.a, "B": a.b}
    results = {"A": {}, "B": {}}

    print("side seed correct failed steal " + " ".join(n for n, _ in metrics), flush=True)
    for i, seed in enumerate(parse_seeds(a.seeds)):
        for side in (("A", "B") if i % 2 == 0 else ("B", "A")):
            res, steal = run_once(sides[side], a.workload, seed, a.seconds, a.trace)
            if res is None:
                print(f"{side} {seed} run failed (no result line)", flush=True)
                continue
            vals = {n: res["metrics"][n]["value"] for n, _ in metrics if n in res["metrics"]}
            results[side][seed] = vals
            print(f"{side} {seed} {res['correct']} {res['failed']} {steal:.3f} "
                  + " ".join(f"{vals.get(n, float('nan')):.4g}" for n, _ in metrics), flush=True)

    paired = sorted(set(results["A"]) & set(results["B"]))
    print(f"\nmetric: A median [q1, q3] | B median [q1, q3] | B/A - 1 | B wins of pairs with the metric")
    for name, better in metrics:
        xa = [results["A"][s][name] for s in paired if name in results["A"][s]]
        xb = [results["B"][s][name] for s in paired if name in results["B"][s]]
        if not xa or not xb:
            continue
        ma, mb = statistics.median(xa), statistics.median(xb)
        sign = 1 if better == "lower" else -1
        both = [s for s in paired if name in results["A"][s] and name in results["B"][s]]
        wins = sum(1 for s in both
                   if sign * (results["B"][s][name] - results["A"][s][name]) < 0)
        (a1, a3), (b1, b3) = quartiles(xa), quartiles(xb)
        rel = mb / ma - 1 if ma else float("nan")
        print(f"{name}: {ma:.4g} [{a1:.4g}, {a3:.4g}] | {mb:.4g} [{b1:.4g}, {b3:.4g}] "
              f"| {rel:+.1%} | {wins} of {len(both)}")


if __name__ == "__main__":
    main()
