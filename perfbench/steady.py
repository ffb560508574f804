#!/usr/bin/env python3
"""Steadiness runner: repeats workloads with different seeds and prints,
for each metric, the median, the quartiles and the spread (interquartile
range as a share of the median), next to the bound in BENCHMARK.json.
Use it to set and check the bounds.

    python3 perfbench/steady.py --runs 10 [--workload lake_hot ...]

Run i uses seed i and measures `run_seconds` of BENCHMARK.json. Quartiles
are those of Python's statistics.quantiles(values, n=4).
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


def spread(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return q1, statistics.median(values), q3, (q3 - q1) / statistics.median(values)


def main():
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    spec = json.load(open(spec_path)) if os.path.exists(spec_path) else {}
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--workload", action="append")
    a = ap.parse_args()
    seconds = spec.get("run_seconds", 10)
    workloads = a.workload or [w["name"] for w in spec.get("workloads", [])]
    bounds = {m["name"]: m.get("bound") for m in spec.get("end_to_end", [])}
    worst = 0.0
    for w in workloads:
        values, walls, failed = {}, [], 0
        for seed in range(1, a.runs + 1):
            t0 = time.time()
            r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                                "--seed", str(seed), "--seconds", str(seconds),
                                "--trace", "0"], cwd=ROOT, capture_output=True, text=True)
            walls.append(time.time() - t0)
            lines = r.stdout.strip().splitlines()
            if r.returncode != 0 or not lines:
                print(f"{w} seed {seed}: exit {r.returncode}\n{r.stderr[-2000:]}", file=sys.stderr)
                failed += 1
                continue
            res = json.loads(lines[-1])
            steal = json.loads(lines[-2])["info"]["cpu_steal_share"] if len(lines) > 1 else -1
            failed += res["failed"]
            print(f"{w} seed {seed}: {walls[-1]:.1f}s, steal {steal:.3f}, failed {res['failed']}, " +
                  ", ".join(f"{k} {v['value']:.4g}" for k, v in res["metrics"].items()),
                  file=sys.stderr, flush=True)
            for k, v in res["metrics"].items():
                values.setdefault(k, []).append(v["value"])
        print(f"== {w}: {a.runs} runs, {failed} failed ops, run wall median "
              f"{statistics.median(walls):.1f}s max {max(walls):.1f}s")
        print(f"{'metric':34} {'median':>12} {'q1':>12} {'q3':>12} {'spread':>8} {'bound':>6}")
        for k, vs in values.items():
            if len(vs) < 2:
                continue
            q1, med, q3, sp = spread(vs) if statistics.median(vs) else (0, 0, 0, 0.0)
            b = bounds.get(k)
            flag = "" if b is None else ("  OVER" if sp > b else ("  >1/3" if sp > b / 3 else ""))
            if b is not None and k != "setup_s":
                worst = max(worst, sp / b)
            print(f"{k:34} {med:12.4f} {q1:12.4f} {q3:12.4f} {sp:8.4f} "
                  f"{'' if b is None else b:>6}{flag}")
    print(f"worst spread/bound (setup_s excluded): {worst:.3f}")


if __name__ == "__main__":
    main()
