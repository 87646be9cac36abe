#!/usr/bin/env python3
"""Measure how steady the benchmark's end-to-end metrics are.

    python3 benchmark/steady.py --runs 10 [--seconds 15] [--workloads a,b] [--first-seed 1]

Runs each workload --runs times, each with another seed, through
benchmark/run.py, and prints per metric the median, the quartiles
(statistics.quantiles(n=4)), min and max, and the quartile spread as a share
of the median, next to the metric's bound in BENCHMARK.json. It also prints
the share of failed operations per workload. Raw results go to
<build dir>/steady.json.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload, seed, seconds):
    out = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                          "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                         cwd=ROOT, stdout=subprocess.PIPE, text=True)
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines:
        raise SystemExit(f"{workload} seed {seed}: exit {out.returncode}")
    return json.loads(lines[-1])


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seconds", type=float, default=spec["run_seconds"])
    ap.add_argument("--workloads", default=",".join(w["name"] for w in spec["workloads"]))
    ap.add_argument("--first-seed", type=int, default=1)
    a = ap.parse_args()
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    raw = {}
    for w in a.workloads.split(","):
        results = []
        for i in range(a.runs):
            r = run(w, a.first_seed + i, a.seconds)
            results.append(r)
            print(f"{w} seed {a.first_seed + i}: correct={r['correct']} attempted={r['attempted']} "
                  f"failed={r['failed']}", file=sys.stderr)
        raw[w] = results
        shares = {r["failed"] / r["attempted"] for r in results}
        print(f"\n{w}: {a.runs} runs, failed share {sorted(shares)}, "
              f"all correct: {all(r['correct'] for r in results)}")
        print(f"  {'metric':<24}{'median':>12}{'q1':>12}{'q3':>12}{'min':>12}{'max':>12}"
              f"{'spread':>9}{'bound':>7}")
        for name in results[0]["metrics"]:
            vals = [r["metrics"][name]["value"] for r in results]
            med = statistics.median(vals)
            q1, _, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (vals[0],) * 3
            spread = (q3 - q1) / med if med else float("nan")
            b = bounds.get(name)
            print(f"  {name:<24}{med:>12.4g}{q1:>12.4g}{q3:>12.4g}{min(vals):>12.4g}"
                  f"{max(vals):>12.4g}{spread:>9.3f}{'' if b is None else b:>7}")
    build_dir = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    os.makedirs(build_dir, exist_ok=True)
    with open(os.path.join(build_dir, "steady.json"), "w") as fh:
        json.dump(raw, fh, indent=1)


if __name__ == "__main__":
    main()
