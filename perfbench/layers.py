"""Per-layer metrics from a traced run.

The harness writes, for its traced phase, the spans it recorded
(`*.spans.jsonl`: name, request, parent, start, end) and the Spark task
counters per (request, span) label (`*.totals.jsonl`). This module turns
them into the per-layer metrics named in BENCHMARK.json. Metrics of a
layer the workload does not exercise are reported as 0 (see README.md,
"Per-layer metrics").
"""
import json
import os

from common import median

UNITS = {
    "server.overhead_p50_ms": "ms", "server.resp_bytes_per_req": "bytes",
    "sources.load_ms": "ms", "sources.load_jobs_per_req": "count",
    "sources.bytes_read_per_req": "bytes",
    "operators.build_ms": "ms", "operators.regression_ms": "ms",
    "plans.plan_ms": "ms",
    "functions.json_ms": "ms", "functions.json_bytes_per_row": "bytes",
    "engine.jobs_per_req": "count", "engine.tasks_per_req": "count", "engine.cpu_s": "s",
    "engine.task_run_s": "s", "engine.task_wait_ms": "ms", "engine.shuffle_write_bytes": "bytes",
    "engine.spill_bytes": "bytes", "engine.rows_read_per_row_returned": "ratio",
    "trace.overhead_share": "ratio",
}


def read_jsonl(path):
    with open(path) as f:
        return [json.loads(l) for l in f if l.strip()]


def self_ms(prefixes):
    """{span name: {request: self time in ms}}, summed over the traced
    phases written under `prefixes`."""
    out = {}
    for prefix in prefixes:
        spans = read_jsonl(prefix + ".spans.jsonl")
        for s in spans:
            d = (s["end_ns"] - s["start_ns"]) / 1e6
            out.setdefault(s["name"], {}).setdefault(s["req"], 0.0)
            out[s["name"]][s["req"]] += d
            if s["parent"] >= 0:
                p = spans[s["parent"]]
                out[p["name"]][p["req"]] -= d
    return out


def read_totals(prefixes):
    return [t for p in prefixes for t in read_jsonl(p + ".totals.jsonl")]


def engine_metrics(totals, n_ops, rows_returned, rounds):
    """Engine counters of `rounds` traced passes over `n_ops` operations:
    per-operation figures, and per-pass totals."""
    t = {k: sum(x[k] for x in totals) for k in
         ("jobs", "tasks", "cpu_ns", "run_ms", "bytes_read", "records_read", "shuffle_write", "spill")}
    return {
        "engine.jobs_per_req": t["jobs"] / (n_ops * rounds),
        "engine.tasks_per_req": t["tasks"] / (n_ops * rounds),
        "engine.cpu_s": t["cpu_ns"] / 1e9 / rounds,
        "engine.task_run_s": t["run_ms"] / 1e3 / rounds,
        "engine.task_wait_ms": (t["run_ms"] - t["cpu_ns"] / 1e6) / t["tasks"] if t["tasks"] else 0.0,
        "engine.shuffle_write_bytes": t["shuffle_write"] / rounds,
        "engine.spill_bytes": t["spill"] / rounds,
        "engine.rows_read_per_row_returned": t["records_read"] / max(1, rows_returned * rounds),
    }


def lake_metrics(prefixes, kinds, http_ms, http_bytes, results):
    """Lake workloads. `prefixes` name the traced replays' span and counter
    files, `kinds` the request kinds of the sequence, `http_ms` and
    `http_bytes` the sequential HTTP passes, `results` the replay results
    ("plain" untraced, "traced"), all concatenated over the rounds."""
    rounds = len(prefixes)
    n = len(kinds)
    selfs = self_ms(prefixes)
    totals = read_totals(prefixes)
    traced = results["traced"]
    json_idx = [i for i, k in enumerate(kinds) if k != "regression"]
    reg_idx = [i for i, k in enumerate(kinds) if k == "regression"]
    rows_json = sum(len(traced[i].get("body") or []) for i in json_idx)
    bytes_json = sum(http_bytes[i] for i in json_idx)
    # Spans and counters are keyed by sequence line; results list them.
    line_of = [r["i"] for r in traced[:n]]
    plain_p50 = median([r["ms"] for r in results["plain"]])

    def per_op(name, idx):
        d = selfs.get(name, {})
        return sum(d.get(line_of[i], 0.0) for i in idx) / max(1, len(idx) * rounds)

    m = {
        "server.overhead_p50_ms": median(http_ms) - plain_p50,
        "server.resp_bytes_per_req": sum(http_bytes) / len(http_bytes),
        "sources.load_ms": per_op("sources.load", range(n)),
        "sources.load_jobs_per_req":
            sum(t["jobs"] for t in totals if t["span"] == "sources.load") / (n * rounds),
        "sources.bytes_read_per_req": sum(t["bytes_read"] for t in totals) / (n * rounds),
        "operators.build_ms": per_op("operators.build", json_idx),
        "operators.regression_ms": per_op("operators.regression", reg_idx),
        "plans.plan_ms": per_op("plans.plan", json_idx),
        "functions.json_ms": per_op("functions.json", json_idx),
        "functions.json_bytes_per_row": bytes_json / max(1, rows_json),
        "trace.overhead_share": median([r["ms"] for r in traced]) / plain_p50 - 1.0,
    }
    m.update(engine_metrics(totals, n, rows_json + len(reg_idx), rounds))
    return {k: (v, UNITS[k]) for k, v in m.items()}


def catalog_metrics(work, order, results, rows_returned, rounds):
    """catalog_mix: `rounds` rounds of one untraced and one traced pass over
    `order`; `rows_returned` is the row count of one pass."""
    prefixes = [os.path.join(work, "catalog")]
    selfs = self_ms(prefixes)
    totals = read_totals(prefixes)
    n = len(order)
    plain = sum(r["ms"] for r in results if r["kind"] == "measure")
    traced = [r for r in results if r["kind"] == "traced"]
    m = {k: 0.0 for k in UNITS}
    m.update({
        "operators.build_ms": sum(selfs.get("operators.build", {}).values()) / (n * rounds),
        "plans.plan_ms": sum(selfs.get("plans.plan", {}).values()) / (n * rounds),
        "trace.overhead_share": sum(r["ms"] for r in traced) / plain - 1.0,
    })
    m.update(engine_metrics(totals, n, rows_returned, rounds))
    out = {k: (v, UNITS[k]) for k, v in m.items()}
    for i, q in enumerate(order):
        wall = sum(r["ms"] for r in traced if r["q"] == q) / 1e3 / rounds
        cpu = sum(t["cpu_ns"] for t in totals if t["req"] == i) / 1e9 / rounds
        out[f"queries.{q}.wall_s"] = (wall, "s")
        out[f"queries.{q}.cpu_s"] = (cpu, "s")
    return out
