#!/usr/bin/env python3
"""Compare two sets of benchmark runs.

Usage: python3 perfbench/compare.py <base> <change>

Each side is a directory searched recursively for the `report.json` files
that perfbench/run.py writes (one per run, under .bench_build/runs), or a
file holding run.py's standard output of one or more runs. For every
workload and end-to-end metric it prints each side's median and quartiles,
the pairs the change won, and a verdict:

  better      the change won at least 9 in 10 pairs (ties count for neither)
              and the medians differ by more than the base's own spread
              (the distance between its quartiles)
  worse       the change's median is worse than the base's by more than the
              metric's bound in BENCHMARK.json, or the change lost 9 in 10
              pairs by more than the base's spread
  unresolved  neither

Runs pair up by seed where both sides ran it, otherwise in order. Per-layer
counters of traced runs print as median deltas with their base values.
"""
import glob
import json
import os
import statistics
import sys


def load_reports(path):
    """Every run report under a directory (report.json files and captured
    standard output), or in one file of captured standard output."""
    if os.path.isfile(path):
        files = [path]
    else:
        files = sorted(glob.glob(os.path.join(path, "**", "report.json"), recursive=True)
                       + glob.glob(os.path.join(path, "**", "*.out"), recursive=True))
    reports = []
    for f in files:
        with open(f) as fh:
            if f.endswith("report.json"):
                reports.append(json.load(fh))
            else:
                reports += [json.loads(line) for line in fh
                            if line.startswith('{"report": "perfbench"')]
    return reports


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], statistics.median(xs), q[2]


def pairs(a, b, metric, section):
    """(base value, change value) pairs, by seed where possible."""
    by_seed = {r["seed"]: r[section][metric] for r in b if metric in r[section]}
    out, rest_a, used = [], [], set()
    for r in a:
        if metric not in r[section]:
            continue
        if r["seed"] in by_seed and r["seed"] not in used:
            out.append((r[section][metric], by_seed[r["seed"]]))
            used.add(r["seed"])
        else:
            rest_a.append(r[section][metric])
    rest_b = [r[section][metric] for r in b if metric in r[section] and r["seed"] not in used]
    return out + list(zip(rest_a, rest_b))


def verdict(a_vals, b_vals, prs, lower_better, bound):
    qa, qb = quartiles(a_vals), quartiles(b_vals)
    sign = 1 if lower_better else -1
    gain = sign * (qa[1] - qb[1])            # > 0: the change is better
    spread = qa[2] - qa[0]
    won = sum(1 for x, y in prs if sign * (x - y) > 0)
    lost = sum(1 for x, y in prs if sign * (x - y) < 0)
    n = len(prs)
    if n and won >= 0.9 * n and gain > spread:
        v = "better"
    elif (bound is not None and qa[1] and -gain / abs(qa[1]) > bound) or \
            (n and lost >= 0.9 * n and -gain > spread):
        v = "worse"
    else:
        v = "unresolved"
    return qa, qb, won, n, v


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    a, b = load_reports(sys.argv[1]), load_reports(sys.argv[2])
    if not a or not b:
        sys.exit("no runs found on one side")
    bench = {}
    try:
        with open("BENCHMARK.json") as fh:
            bench = json.load(fh)
    except OSError:
        pass
    meta = {m["name"]: m for m in bench.get("end_to_end", [])}
    workloads = sorted({r["workload"] for r in a} & {r["workload"] for r in b})
    print(f"{'workload':18s} {'metric':16s} {'base q1/med/q3':>30s} "
          f"{'change q1/med/q3':>30s} {'won':>7s}  verdict")
    for w in workloads:
        ra = [r for r in a if r["workload"] == w and not r["trace"]]
        rb = [r for r in b if r["workload"] == w and not r["trace"]]
        if not ra or not rb:
            continue
        for metric in sorted({k for r in ra for k in r["metrics"]}):
            m = meta.get(metric, {})
            lower = m.get("better", "lower") == "lower"
            av = [r["metrics"][metric] for r in ra if metric in r["metrics"]]
            bv = [r["metrics"][metric] for r in rb if metric in r["metrics"]]
            if not av or not bv:
                continue
            qa, qb, won, n, v = verdict(av, bv, pairs(ra, rb, metric, "metrics"),
                                        lower, m.get("bound"))
            fa = "/".join(f"{x:.4g}" for x in qa)
            fb = "/".join(f"{x:.4g}" for x in qb)
            print(f"{w:18s} {metric:16s} {fa:>30s} {fb:>30s} {won:>3d}/{n:<3d}  {v}")
        contended = [r for r in ra + rb if r["ambient"]["contended"]]
        if contended:
            print(f"{w:18s} note: {len(contended)} contended run(s) included")
    print()
    print(f"{'workload':18s} {'per-layer counter':30s} {'base median':>14s} "
          f"{'change median':>14s} {'delta':>12s} {'delta/base':>10s}")
    for w in workloads:
        ta = [r for r in a if r["workload"] == w and r["trace"]]
        tb = [r for r in b if r["workload"] == w and r["trace"]]
        if not ta or not tb:
            continue
        for metric in sorted({k for r in ta for k in r["per_layer"]}):
            ma = statistics.median(r["per_layer"][metric] for r in ta)
            mb = statistics.median(r["per_layer"][metric] for r in tb)
            rel = f"{(mb - ma) / ma:+.1%}" if ma else "n/a"
            print(f"{w:18s} {metric:30s} {ma:14.4g} {mb:14.4g} {mb - ma:+12.4g} {rel:>10s}")
        print(f"{w:18s} (base: medians of {len(ta)} and {len(tb)} traced runs)")


if __name__ == "__main__":
    main()
