#!/usr/bin/env python3
"""Compare two sets of benchmark runs of the same benchmark code.

    python3 perfbench/compare.py PARENT CHANGE [--benchmark BENCHMARK.json]

PARENT and CHANGE are run records written by run.py: a .jsonl file or a
directory of them (.bench_build/runs/). Run the two sides alternately,
parent then change then change then parent and so on, at least ten
times each; the i-th run of one side is paired with the i-th of the
other, per workload, in time order.

For every end-to-end metric of every workload it prints one verdict:

  improved    the change wins at least 9 of every 10 pairs (ties count
              for neither) and the medians differ by more than the
              parent's interquartile range
  worse       the change's median is worse than the parent's by more
              than the metric's bound
  unresolved  fewer than 10 pairs, or the parent's own spread is wider
              than the bound and not every change run beats every
              parent run
  no worse    otherwise

The metrics are scaled by a machine-speed probe read inside the
benchmark JVM (WORKLOADS.md). Each verdict is also made on the unscaled
values in the run records, and a metric whose two verdicts differ is
flagged: the scaling then decided it, and the probe may have absorbed
part of a change in the program.

Runs on a loaded box (1-minute load above 1.5x the core count at the
start, or a machine-speed probe more than 25% slower than typical) are
flagged, never dropped or rewritten.
"""
import argparse
import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load_runs(path):
    files = sorted(glob.glob(os.path.join(path, "*.jsonl"))) if os.path.isdir(path) else [path]
    runs = []
    for f in files:
        with open(f) as fh:
            runs += [json.loads(line) for line in fh if line.strip()]
    return [r for r in runs if not r.get("trace")]


def quartiles(vals):
    if len(vals) < 2:
        return vals[0], vals[0], vals[0]
    q1, q2, q3 = statistics.quantiles(vals, n=4)
    return q1, q2, q3


def probe(run):
    return statistics.median(run["detail"]["probe_s"])


def loaded(run, typical_probe):
    """A run that started with more runnable work than 1.5x the cores (a
    run that just ended leaves about 1x), or whose machine-speed probe
    read more than 25% slower than is typical for this comparison."""
    env = run["env"]
    return (env["loadavg_before"] > 1.5 * env["nproc"]
            or probe(run) > 1.25 * typical_probe)


def verdict(par, chg, better, bound):
    """Returns (verdict, facts) for two equally long, paired lists."""
    sign = 1 if better == "lower" else -1
    n = len(par)
    wins = sum(1 for p, c in zip(par, chg) if sign * (c - p) < 0)
    p1, pm, p3 = quartiles(par)
    _, cm, _ = quartiles(chg)
    iqr = p3 - p1
    worse_by = sign * (cm - pm) / pm if pm else 0.0
    spread = iqr / pm if pm else 0.0
    facts = {"pairs": n, "wins": wins, "parent_median": pm, "change_median": cm,
             "parent_iqr": iqr, "worse_by": worse_by, "parent_spread": spread}
    if n < 10:
        return "unresolved", facts
    if wins >= 0.9 * n and sign * (pm - cm) > iqr:
        return "improved", facts
    if worse_by > bound:
        return "worse", facts
    every_better = all(sign * (c - p) < 0 for c in chg for p in par)
    if spread > bound and not every_better:
        return "unresolved", facts
    return "no worse", facts


def report(metric, par, chg):
    """Verdict lines of one metric over paired parent and change runs:
    on the scaled values, then on the unscaled ones."""
    name, better, bound = metric["name"], metric["better"], metric["bound"]
    v, f = verdict([r["metrics"][name] for r in par], [r["metrics"][name] for r in chg],
                   better, bound)
    lines = [f"   {name:<14} {v:<10} parent {f['parent_median']:.4g} "
             f"(IQR {f['parent_iqr']:.3g}) change {f['change_median']:.4g} "
             f"worse by {f['worse_by']:+.1%} (bound {bound:.0%}), "
             f"change wins {f['wins']}/{f['pairs']}"]
    raw = [[r["detail"]["unscaled"].get(name) for r in rs] for rs in (par, chg)]
    if None not in raw[0] + raw[1]:
        uv, uf = verdict(raw[0], raw[1], better, bound)
        lines.append(f"   {'':<14} {uv:<10} unscaled, worse by {uf['worse_by']:+.1%}"
                     + ("   SCALING DECIDED THIS VERDICT" if uv != v else ""))
    return lines


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--benchmark", default=os.path.join(os.path.dirname(HERE), "BENCHMARK.json"))
    args = ap.parse_args()
    with open(args.benchmark) as fh:
        metrics = json.load(fh)["end_to_end"]
    parent, change = load_runs(args.parent), load_runs(args.change)
    workloads = sorted({r["workload"] for r in parent} & {r["workload"] for r in change})
    if not workloads:
        sys.exit("compare: no workload has runs on both sides")
    for w in workloads:
        par = sorted((r for r in parent if r["workload"] == w), key=lambda r: r["time"])
        chg = sorted((r for r in change if r["workload"] == w), key=lambda r: r["time"])
        n = min(len(par), len(chg))
        par, chg = par[:n], chg[:n]
        firsts = [p["time"] < c["time"] for p, c in zip(par, chg)]
        alternating = all(a != b for a, b in zip(firsts, firsts[1:]))
        print(f"== {w}: {n} pairs, "
              f"{'alternating' if alternating else 'NOT alternating'} order")
        typical = statistics.median(probe(r) for r in par + chg)
        for side, runs in (("parent", par), ("change", chg)):
            flagged = [r["seed"] for r in runs if loaded(r, typical)]
            if flagged:
                print(f"   loaded box on {side} runs with seeds {flagged}")
        for m in metrics:
            print("\n".join(report(m, par, chg)))


if __name__ == "__main__":
    main()
