#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload lake_hot --seed 1 --seconds 15 --trace 0

Workloads: lake_hot, lake_churn (HTTP, graft.server.HttpShell) and
catalog_mix (graft.SparkEntry catalog queries in process). With --trace 0
the result carries the end-to-end metrics, with --trace 1 the per-layer
metrics of a traced in-process replay of the same seeded sequence.

The first run in a checkout compiles the program and the harness and
prepares the verified catalog corpus (see build.py, catalog.py); later
runs reuse both. Everything is written under the build directory
($CARGO_TARGET_DIR, default .bench_build) of the checkout.
"""
import argparse
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import build  # noqa: E402
import catalog  # noqa: E402
import common  # noqa: E402
import lake  # noqa: E402
import layers  # noqa: E402

WORKLOADS = ["lake_hot", "lake_churn", "catalog_mix"]
END_TO_END = ["setup_s", "req_per_s", "latency_p50_ms", "latency_p95_ms", "slo_met_share",
              "preview_p50_ms", "delays_p50_ms", "export_p50_ms", "regression_p50_ms",
              "catalog_s", "retained_heap_mb"]
PER_LAYER = list(layers.UNITS) + [f"queries.{q}.{m}" for q in catalog.MIX for m in ("wall_s", "cpu_s")]


def run_workload(workload, seed, seconds, trace, work, log):
    if workload == "catalog_mix":
        return catalog.run(seed, seconds, trace, work, log)
    return lake.run(workload, seed, seconds, trace, work)


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    build.ensure_built()
    work = os.path.join(build.build_dir(), "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    with open(os.path.join(work, "run.log"), "w") as log:
        catalog.prepare(log)
        load_before = common.loadavg()
        ticks_before = common.cpu_ticks()
        t0 = time.monotonic()
        attempted, failures, metrics, info = run_workload(
            a.workload, a.seed, a.seconds, bool(a.trace), work, log)
        for f in failures:
            print(f, file=log)

    names = PER_LAYER if a.trace else END_TO_END
    for n in names:
        if n not in metrics:
            metrics[n] = (0.0, layers.UNITS.get(n, "s"))
    steal, total = (b - a for a, b in zip(ticks_before, common.cpu_ticks()))
    info.update({
        "workload": a.workload, "seed": a.seed, "trace": a.trace, "nproc": common.nproc(),
        "heap_gb": common.heap_gb(), "loadavg_before": load_before,
        "loadavg_after": common.loadavg(), "cpu_steal_share": steal / total if total else 0.0,
        "source": common.source_id(),
        "wall_s": time.monotonic() - t0, "failed_share": len(failures) / max(1, attempted),
        "failures": failures[:10],
    })
    # Bulky generated inputs go; logs stay for inspection.
    shutil.rmtree(os.path.join(work, "lake"), ignore_errors=True)
    print(json.dumps({"info": info}))
    print(json.dumps({
        "correct": not failures,
        "attempted": attempted,
        "failed": len(failures),
        "metrics": {n: {"value": metrics[n][0], "unit": metrics[n][1]} for n in names},
    }))


if __name__ == "__main__":
    main()
