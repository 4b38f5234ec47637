#!/usr/bin/env python3
"""Compare two sets of benchmark run records (parent and change).

    python3 perfbench/compare.py PARENT CHANGE

PARENT and CHANGE are directories (or globs) of the run records that
run.py writes to .bench_build/runs/. For every workload and end-to-end
metric it prints each side's median and quartiles, the pairs the change
wins, and a verdict:

  improved    the change wins at least 9 of 10 pairs (ties count for
              neither) and the medians differ by more than the parent's
              quartile spread
  worse       the change's median is worse than the parent's by more
              than the metric's bound in BENCHMARK.json
  unresolved  the parent's own spread is wider than the bound, and not
              every change run beats every parent run
  unchanged   otherwise

Runs are paired by seed where both sides have it, else in order. From
the traced runs it prints the per-layer medians and their deltas.
"""
import glob
import json
import os
import sys

import stats

HERE = os.path.dirname(os.path.abspath(__file__))


def load(spec):
    files = (glob.glob(os.path.join(spec, "*.json")) if os.path.isdir(spec)
             else glob.glob(spec))
    runs = []
    for f in sorted(files):
        with open(f) as fh:
            r = json.load(fh)
        if "result" in r:
            runs.append(r)
    return runs


def pairs(parent, change):
    """(parent, change) value pairs: by seed where seeds match, else by order."""
    ps = {r["seed"]: r for r in parent}
    matched = [(ps[r["seed"]], r) for r in change if r["seed"] in ps]
    if matched:
        return matched
    return list(zip(parent, change))


def verdict(p, c, pv, cv, bound, lower_better):
    """Verdict for one metric from parent/change values and their pairs."""
    sign = 1.0 if lower_better else -1.0
    better = lambda a, b: sign * (a - b) < 0  # a beats b
    pm, cm = stats.median(pv), stats.median(cv)
    q1, _, q3 = stats.quartiles(pv)
    wins = sum(1 for a, b in zip(p, c) if better(b, a))
    n = len(p)
    all_better = bool(cv) and all(better(b, a) for b in cv for a in pv)
    if n and wins >= 0.9 * n and better(cm, pm) and abs(cm - pm) > (q3 - q1):
        return "improved", wins, n
    if sign * (cm - pm) > bound * abs(pm):
        return "worse", wins, n
    if pm and (q3 - q1) / abs(pm) > bound and not all_better:
        return "unresolved", wins, n
    return "unchanged", wins, n


def main(argv):
    if len(argv) != 3:
        print(__doc__, file=sys.stderr)
        return 2
    parent, change = load(argv[1]), load(argv[2])
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    workloads = sorted({r["workload"] for r in parent + change})
    print(f"{'workload':16} {'metric':14} {'parent med [q1,q3]':>28} "
          f"{'change med [q1,q3]':>28} {'wins':>7}  verdict")
    for w in workloads:
        pw = [r for r in parent if r["workload"] == w and not r["trace"]]
        cw = [r for r in change if r["workload"] == w and not r["trace"]]
        for m in bench["end_to_end"]:
            name = m["name"]
            pp = [(a["result"]["metrics"][name]["value"],
                   b["result"]["metrics"][name]["value"])
                  for a, b in pairs(pw, cw)]
            pv = [r["result"]["metrics"][name]["value"] for r in pw]
            cv = [r["result"]["metrics"][name]["value"] for r in cw]
            if not pv or not cv:
                continue
            v, wins, n = verdict([a for a, _ in pp], [b for _, b in pp], pv,
                                 cv, m["bound"], m["better"] == "lower")
            fmt = lambda xs: "{:.4g} [{:.4g},{:.4g}]".format(
                stats.median(xs), *stats.quartiles(xs)[::2])
            note = "" if n >= 10 else f"  (only {n} pairs)"
            print(f"{w:16} {name:14} {fmt(pv):>28} {fmt(cv):>28} "
                  f"{wins:>3}/{n:<3}  {v}{note}")
        for flag, what in (("busy_at_start", "busy at start"),
                           ("contended_run", "CPU steal > 5% during the run")):
            n = [sum(r["host"][flag] for r in side) for side in (pw, cw)]
            print(f"{w:16} runs flagged {what}: parent {n[0]}/{len(pw)}, "
                  f"change {n[1]}/{len(cw)}")
    print("\nper-layer medians from traced runs (change - parent):")
    for w in workloads:
        pl = [r["layers"] for r in parent if r["workload"] == w and r["trace"]]
        cl = [r["layers"] for r in change if r["workload"] == w and r["trace"]]
        if not pl or not cl:
            continue
        for m in bench["per_layer"]:
            a = stats.median([x[m["name"]] for x in pl])
            b = stats.median([x[m["name"]] for x in cl])
            rel = f"{(b - a) / a:+.1%}" if a else "n/a"
            print(f"{w:16} {m['name']:26} {a:14.4g} {b:14.4g} "
                  f"{b - a:+14.4g} {m['unit']:6} {rel}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
