#!/usr/bin/env python3
"""Steadiness self-check: two sets of untraced runs of the same code.

    python3 perfbench/steady.py [--runs 10] [--sets 2] [--workloads dashboard curation]

Each set runs every workload once per seed (set k uses seeds
first+k*runs .. first+(k+1)*runs-1, first = 1 by default). Per workload and end-to-end metric it reports the median, the
quartiles (`statistics.quantiles(values, n=4)`), the spread (Q3 - Q1) as a
share of the median, and whether each later set's median is within the
metric's bound of the first set's. Every spread must stay under a third of
the bound. Raw results go to .bench_build/perfbench/steady.json.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main():
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--workloads", nargs="*", default=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--seconds", type=int, default=spec["run_seconds"])
    ap.add_argument("--first-seed", type=int, default=1)
    a = ap.parse_args()
    raw = {}
    for k in range(a.sets):
        for wl in a.workloads:
            for i in range(a.runs):
                seed = a.first_seed + k * a.runs + i
                t0 = time.time()
                p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", wl,
                                    "--seed", str(seed), "--seconds", str(a.seconds), "--trace", "0"],
                                   cwd=ROOT, capture_output=True, text=True)
                line = p.stdout.strip().splitlines()[-1] if p.returncode == 0 else "{}"
                r = json.loads(line)
                raw.setdefault(wl, {}).setdefault(str(k), []).append(r)
                vals = " ".join(f"{n}={m['value']:.4g}" for n, m in r.get("metrics", {}).items())
                print(f"set {k} {wl} seed {seed}: rc={p.returncode} {time.time() - t0:.0f} s "
                      f"correct={r.get('correct')} failed={r.get('failed')} {vals}", file=sys.stderr)
    os.makedirs(os.path.join(ROOT, ".bench_build", "perfbench"), exist_ok=True)
    with open(os.path.join(ROOT, ".bench_build", "perfbench", "steady.json"), "w") as f:
        json.dump(raw, f, indent=1)
    ok = True
    print(f"{'workload':12s} {'metric':12s} {'set':>3s} {'median':>11s} {'q1':>11s} {'q3':>11s} "
          f"{'spread':>7s} {'limit':>6s} {'vs set0':>8s}")
    for wl, sets in raw.items():
        for m in spec["end_to_end"]:
            name, bound = m["name"], m["bound"]
            first = None
            for k, runs in sorted(sets.items()):
                vals = [r["metrics"][name]["value"] for r in runs if r.get("correct")]
                if len(vals) < len(runs) or len(vals) < 4:
                    print(f"{wl:12s} {name:12s} {k:>3s} only {len(vals)} correct runs")
                    ok = False
                    continue
                q1, med, q3 = statistics.quantiles(vals, n=4)
                spread = (q3 - q1) / med
                limit = bound / 3
                steady = spread <= limit
                if first is None:
                    first, drift = med, 0.0
                else:
                    worse = (med - first) / first if m["better"] == "lower" else (first - med) / first
                    drift = worse
                    steady = steady and worse <= bound
                ok = ok and steady
                print(f"{wl:12s} {name:12s} {k:>3s} {med:11.4f} {q1:11.4f} {q3:11.4f} "
                      f"{spread:7.3f} {limit:6.3f} {drift:+8.3f} {'ok' if steady else 'UNSTEADY'}")
    print("steady" if ok else "NOT steady")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
