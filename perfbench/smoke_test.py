#!/usr/bin/env python3
"""Smoke test of the benchmark on the smallest fixtures (sf0.001).

Usage: python3 perfbench/smoke_test.py    (from the repository root)

Runs every workload of BENCHMARK.json for one second, untraced and traced,
on sf0.001 and checks that each run exits 0, that its last line is valid
JSON with exactly `correct`, `attempted`, `failed` and `metrics`, that
every result was correct, and that every metric BENCHMARK.json names
prints with its unit (end-to-end metrics untraced, per-layer traced).
"""
import json
import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402


def check_run(bench, workload, trace, data_dir):
    cmd = bench["command"] + ["--workload", workload, "--seed", "7", "--seconds", "1",
                              "--trace", str(trace), "--data-dir", data_dir]
    p = subprocess.run(cmd, capture_output=True, text=True, timeout=900)
    errors = []
    if p.returncode != 0:
        return [f"exit {p.returncode}: {p.stderr[-2000:]}"]
    lines = p.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError) as e:
        return [f"last line is not JSON: {e}"]
    if sorted(result) != ["attempted", "correct", "failed", "metrics"]:
        errors.append(f"keys {sorted(result)}")
    if result.get("correct") is not True or result.get("failed") != 0:
        errors.append(f"not correct: {lines[-2][:2000] if len(lines) > 1 else ''}")
    if not isinstance(result.get("attempted"), int) or result["attempted"] < 1:
        errors.append(f"attempted {result.get('attempted')!r}")
    wanted = bench["per_layer"] if trace else bench["end_to_end"]
    metrics = result.get("metrics", {})
    for m in wanted:
        got = metrics.get(m["name"])
        if not isinstance(got, dict) or got.get("unit") != m["unit"] or \
                not isinstance(got.get("value"), (int, float)):
            errors.append(f"metric {m['name']}: {got!r}")
    extra = set(metrics) - {m["name"] for m in wanted}
    if extra:
        errors.append(f"metrics not in BENCHMARK.json: {sorted(extra)}")
    return errors


def main():
    with open("BENCHMARK.json") as fh:
        bench = json.load(fh)
    data_dir = os.path.join(run.testdata_root(), "sf0.001")
    failures = 0
    for w in bench["workloads"]:
        for trace in (0, 1):
            errors = check_run(bench, w["name"], trace, data_dir)
            status = "ok" if not errors else "FAIL"
            print(f"[{status}] {w['name']} --trace {trace}")
            for e in errors:
                print("    " + e)
            failures += bool(errors)
    print(f"{failures} failing run(s)")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
