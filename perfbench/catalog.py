"""The batch workload, catalog_mix: a fixed list of `graft.SparkEntry`
catalog queries run in process by one caller, each pass in an order set by
the seed.

The corpus is generated once per checkout (fixed generator seed) and each
query's result is verified once against its DuckDB oracle SQL; the digest
of a verified result is what every later run checks its results against.
"""
import json
import math
import os
import shutil

import build
import datagen
import layers
from common import Jvm, median, nproc, percentile

MIX = ["q_tpch3", "q_tpch18", "q_topk_per_group",
       "q_preview", "q_regression", "q_sort_full", "q_sort_limit"]
# Queries whose row order is part of the result (a top-level ORDER BY on a
# unique key): their digests and oracle comparisons keep the order.
ORDERED = ["q_preview", "q_sort_limit", "q_sort_full"]
# The four reference endpoints' catalog twins, for the per-endpoint p50s.
ENDPOINT_TWIN = {"preview_p50_ms": "q_preview", "delays_p50_ms": "q_sort_limit",
                 "export_p50_ms": "q_sort_full", "regression_p50_ms": "q_regression"}
CORPUS_SEED = 42
SLO_MS = 2000.0
WARM_PASSES = 6   # unmeasured passes after the check pass (JIT warm-up)
MIN_PASSES = 3
TRACE_ROUNDS = 2  # traced run: rounds of one untraced and one traced pass
TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def corpus_dir():
    return os.path.join(build.build_dir(), "catalog")


# ------------------------------------------------------------ verification


def canon(df, ordered=False):
    """Columns by name; rows sorted unless their order is part of the result."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].map(lambda v: isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray").any():
            df[c] = df[c].map(lambda v: tuple(v) if v is not None else None)
    if ordered:
        return df.reset_index(drop=True)
    return df.sort_values(by=list(df.columns), kind="mergesort",
                          na_position="first").reset_index(drop=True)


def cell_equal(a, b):
    import pandas as pd
    if isinstance(a, float) and isinstance(b, float):
        return a == b or (math.isnan(a) and math.isnan(b))
    try:
        na, nb = bool(pd.isna(a)), bool(pd.isna(b))
        if na or nb:
            return na and nb
    except (TypeError, ValueError):
        pass
    return a == b


def oracle_mismatch(spark_df, oracle_df, ordered=False):
    """None when the two results hold the same rows (in the same order, if
    `ordered`), else the first difference."""
    if sorted(spark_df.columns) != sorted(oracle_df.columns):
        return f"columns {sorted(spark_df.columns)} vs {sorted(oracle_df.columns)}"
    if len(spark_df) != len(oracle_df):
        return f"rows {len(spark_df)} vs {len(oracle_df)}"
    s, o = canon(spark_df, ordered), canon(oracle_df, ordered)
    for c in s.columns:
        for i, (a, b) in enumerate(zip(s[c].tolist(), o[c].tolist())):
            if not cell_equal(a, b):
                return f"row {i} col {c}: {a!r} vs {b!r}"
    return None


def prepare(log):
    """Generate the corpus and verify each MIX query against its oracle,
    once per build. Returns {query: digest, or None if unverified}."""
    root = corpus_dir()
    stamp = open(os.path.join(build.build_dir(), "build.stamp")).read()
    key = json.dumps({"build": stamp, "mix": MIX, "ordered": ORDERED, "seed": CORPUS_SEED,
                      "scale": datagen.CATALOG_SCALE})
    done = os.path.join(root, "expected.json")
    if os.path.exists(done):
        with open(done) as f:
            saved = json.load(f)
        if saved.get("key") == key:
            return saved["digests"]
    import glob

    import duckdb
    import pandas as pd

    shutil.rmtree(root, ignore_errors=True)
    data = os.path.join(root, "data")
    datagen.gen_catalog(CORPUS_SEED, data)
    out = os.path.join(root, "results")
    os.makedirs(out)
    work = os.path.join(root, "work")
    os.makedirs(work)
    jvm = Jvm(work, ["prepare", data, nproc(), write_plan(work, "prepare", query_lines()), out],
              "prepare")
    try:
        code = jvm.proc.wait(timeout=600)
    finally:
        jvm.kill()
    if code != 0:
        raise RuntimeError(f"catalog prepare failed ({code}); see {jvm.log.name}")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    digests = {}
    with open(os.path.join(out, "prepared.jsonl")) as f:
        for line in f:
            p = json.loads(line)
            q = p["q"]
            # Part files are named by partition, so sorted names keep the row order.
            files = sorted(glob.glob(os.path.join(out, q, "*.parquet")))
            spark_df = pd.concat([pd.read_parquet(x) for x in files], ignore_index=True)
            why = "no oracle SQL" if p["oracle"] is None else None
            if why is None:
                try:
                    why = oracle_mismatch(spark_df, con.execute(p["oracle"]).df(), q in ORDERED)
                except duckdb.Error as e:
                    why = f"oracle error: {e}"
            print(f"prepare {q}: {'verified' if why is None else 'NOT verified: ' + why}", file=log)
            digests[q] = p["digest"] if why is None else None
    shutil.rmtree(out, ignore_errors=True)
    with open(done, "w") as f:
        json.dump({"key": key, "digests": digests}, f)
    return digests


# --------------------------------------------------------------------- run


def query_lines():
    return [f"q {q}" for q in MIX] + [f"ordered {q}" for q in ORDERED]


def write_plan(work, name, lines):
    plan = os.path.join(work, name + ".plan")
    with open(plan, "w") as f:
        f.write("\n".join(lines) + "\n")
    return plan


def launch(work, plan_lines, name):
    plan = write_plan(work, name, plan_lines)
    jvm = Jvm(work, ["catalog", os.path.join(corpus_dir(), "data"), nproc(), plan,
                     os.path.join(work, name)], name)
    try:
        _, setup = jvm.expect("session_up")
        heap = float(jvm.expect("heap", timeout=170)[0])
        code = jvm.proc.wait(timeout=60)
    finally:
        jvm.kill()
    if code != 0:
        raise RuntimeError(f"catalog JVM exited {code}; see {jvm.log.name}")
    return setup, heap


def run(seed, seconds, trace, work, log):
    expected = prepare(log)
    plan = [f"seconds {seconds}", f"warm_passes {WARM_PASSES}",
            f"min_passes {TRACE_ROUNDS if trace else MIN_PASSES}",
            f"trace {1 if trace else 0}", f"order_seed {seed}"]
    plan += query_lines()
    setup, heap = launch(work, plan, "catalog")
    with open(os.path.join(work, "catalog.results.jsonl")) as f:
        results = [json.loads(l) for l in f]

    failures = []
    rows_returned = 0
    for r in results:
        if "error" in r:
            failures.append(f"{r['kind']} {r['q']}: {r['error']}")
        elif r["kind"] == "check":
            want = expected.get(r["q"])
            if want is None:
                failures.append(f"{r['q']}: result not verified against its oracle")
            elif r["digest"] != want:
                failures.append(f"{r['q']}: digest {r['digest']} != verified {want}")
            rows_returned += int(r["digest"].split(":")[0])
    measured = [r for r in results if r["kind"] == "measure"]
    attempted = len(results)
    if trace:
        metrics = layers.catalog_metrics(work, MIX, results, rows_returned, TRACE_ROUNDS)
        return attempted, failures, metrics, {}

    passes = {}
    for r in measured:
        passes.setdefault(r["pass"], []).append(r)
    pass_s = [sum(r["ms"] for r in p) / 1e3 for p in passes.values()]
    ok = [r for r in measured if "error" not in r]
    lat = [r["ms"] for r in measured]
    total_s = sum(lat) / 1e3
    metrics = {
        "setup_s": (setup, "s"),
        "req_per_s": (len(ok) / total_s, "1/s"),
        "latency_p50_ms": (median(lat), "ms"),
        "latency_p95_ms": (percentile(lat, 95), "ms"),
        "slo_met_share": (sum(1 for r in ok if r["ms"] <= SLO_MS) / len(measured), "ratio"),
        "catalog_s": (median(pass_s), "s"),
        "retained_heap_mb": (heap, "MB"),
    }
    for name, q in ENDPOINT_TWIN.items():
        metrics[name] = (median([r["ms"] for r in measured if r["q"] == q]), "ms")
    info = {"passes": len(pass_s), "pass_s": pass_s,
            "beyond_p95": sum(1 for x in lat if x > percentile(lat, 95))}
    return attempted, failures, metrics, info
