#!/usr/bin/env python3
"""Seeded input generator for the benchmark.

Everything is a pure function of its seed, so one seed always gives the
same bytes. Three kinds of input:

* lake datasets: train-ride-shaped CSVs (several `*delay*` columns with
  nulls, a timestamp, a distance) plus one parquet copy, for lake_hot;
* churn versions: many small versions of the same shape, each carrying
  its version number in a `version` column, for lake_churn;
* the catalog corpus: the ten-table star schema the catalog queries read
  (same schemas as the repository's harness tables), for catalog_mix.

    python3 perfbench/datagen.py lake    --seed 7 --out DIR
    python3 perfbench/datagen.py churn   --seed 7 --out DIR
    python3 perfbench/datagen.py catalog --seed 42 --out DIR

Write only to a directory of your own (the benchmark uses a work
directory inside its build directory).
"""
import argparse
import csv
import datetime as dt
import os
import random

TRAIN_COLUMNS = ["train_id", "line", "station", "scheduled_departure",
                 "departure_delay", "arrival_delay", "dwell_delay",
                 "distance_km", "version"]
DELAY_COLUMNS = [c for c in TRAIN_COLUMNS if "delay" in c]
STATIONS = ["Berlin Hbf", "Hamburg Hbf", "Koeln Hbf", "Muenchen Hbf", "Frankfurt Hbf",
            "Stuttgart Hbf", "Leipzig Hbf", "Dresden Hbf", "Hannover Hbf", "Nuernberg Hbf",
            "Bremen Hbf", "Essen Hbf", "Dortmund Hbf", "Mainz Hbf", "Kassel-Wilhelmshoehe"]
LINES = ["ICE", "IC", "EC", "RE", "RB", "S"]
T0 = dt.datetime(2024, 3, 1)

# lake_hot: three CSV datasets and one parquet copy of a fourth.
HOT_ROWS = 3000
HOT_CSV = ["rides_a", "rides_b", "rides_c"]
HOT_PARQUET = "rides_pq"
# lake_churn: ids churn_00.., small versions.
CHURN_IDS = 32
CHURN_ROWS = 1000
CHURN_CLI_VERSIONS = 64  # staged versions written by `datagen.py churn`
# catalog_mix: scale factor of the star schema (1.0 = 1.5M orders).
CATALOG_SCALE = 0.01
REGRESSIONS = [("distance_km", "arrival_delay"), ("departure_delay", "arrival_delay")]


def rng_for(*parts):
    return random.Random(":".join(str(p) for p in parts))


def train_rows(rng, n, version):
    """Rows as tuples in TRAIN_COLUMNS order; None is a null."""
    rows = []
    for _ in range(n):
        line = rng.choice(LINES)
        dist = round(rng.uniform(2.0, 650.0), 1)
        dep = rng.randrange(-3, 45) if rng.random() > 0.07 else None
        base = (dep or 0) + 0.04 * dist + rng.gauss(0, 6)
        arr = int(round(base)) if rng.random() > 0.06 else None
        dwell = rng.randrange(0, 12) if rng.random() > 0.1 else None
        ts = T0 + dt.timedelta(minutes=rng.randrange(0, 60 * 24 * 31))
        rows.append((f"{line} {rng.randrange(100, 9999)}", line, rng.choice(STATIONS),
                     ts.strftime("%Y-%m-%d %H:%M:%S"), dep, arr, dwell, dist, version))
    return rows


def write_csv(path, rows):
    tmp = path + ".part"
    with open(tmp, "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(TRAIN_COLUMNS)
        for r in rows:
            w.writerow(["" if v is None else v for v in r])
    os.replace(tmp, path)


def write_train_parquet(path, rows):
    import pyarrow as pa
    import pyarrow.parquet as pq
    cols = list(zip(*rows))
    ts = [dt.datetime.strptime(s, "%Y-%m-%d %H:%M:%S") for s in cols[3]]
    table = pa.table({
        "train_id": pa.array(cols[0], pa.string()),
        "line": pa.array(cols[1], pa.string()),
        "station": pa.array(cols[2], pa.string()),
        "scheduled_departure": pa.array(ts, pa.timestamp("us")),
        "departure_delay": pa.array(cols[4], pa.int32()),
        "arrival_delay": pa.array(cols[5], pa.int32()),
        "dwell_delay": pa.array(cols[6], pa.int32()),
        "distance_km": pa.array(cols[7], pa.float64()),
        "version": pa.array(cols[8], pa.int32()),
    })
    pq.write_table(table, path)


def gen_lake(seed, out):
    """lake_hot datasets. Returns {dataset id: rows}."""
    os.makedirs(out, exist_ok=True)
    data = {}
    for name in HOT_CSV + [HOT_PARQUET]:
        data[name] = train_rows(rng_for("lake", seed, name), HOT_ROWS, 0)
    for name in HOT_CSV:
        write_csv(os.path.join(out, name + ".csv"), data[name])
    write_train_parquet(os.path.join(out, HOT_PARQUET + ".parquet"), data[HOT_PARQUET])
    return data


def churn_id(k):
    return f"churn_{k:02d}"


def churn_version(seed, k, version):
    return train_rows(rng_for("churn", seed, k, version), CHURN_ROWS, version)


def gen_churn(seed, out, versions):
    """Version 0 of every churn id as the live dataset, plus `versions`
    staged files `.v/<id>.<version>.csv` in publish order. Returns
    (publish list [(id, version, staged file)], {(id, version): rows})."""
    stage = os.path.join(out, ".v")
    os.makedirs(stage, exist_ok=True)
    rows = {}
    for k in range(CHURN_IDS):
        rows[(churn_id(k), 0)] = churn_version(seed, k, 0)
        write_csv(os.path.join(out, churn_id(k) + ".csv"), rows[(churn_id(k), 0)])
    # One fixed publish order, repeated: every id is rewritten exactly once
    # per CHURN_IDS publishes, so a just-written id stays put for a while.
    cycle = list(range(CHURN_IDS))
    rng_for("churn-order", seed).shuffle(cycle)
    nxt, publishes = {}, []
    for i in range(versions):
        k = cycle[i % CHURN_IDS]
        v = nxt.get(k, 0) + 1
        nxt[k] = v
        rows[(churn_id(k), v)] = churn_version(seed, k, v)
        staged = os.path.join(".v", f"{churn_id(k)}.{v}.csv")
        write_csv(os.path.join(out, staged), rows[(churn_id(k), v)])
        publishes.append((churn_id(k), v, staged))
    return publishes, rows


# ---------------------------------------------------------------- catalog

WORDS = ("a the data table row column key value part line order customer query "
         "scan filter join merge sort group agg window batch stream spark hash "
         "fast slow big small vector index shard cache plan node edge graph rank "
         "page text token word near dup shingle sketch bloom filter heap top").split()


def gen_catalog(seed, out):
    """Star schema + events/documents/embeddings, shaped like the
    repository's harness tables: uniform keys, TPC-H-like domains, some
    near-duplicate documents and clustered embeddings."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out, exist_ok=True)
    g = np.random.default_rng(seed)
    scale = CATALOG_SCALE

    def write(name, cols):
        pq.write_table(pa.table(cols), os.path.join(out, name + ".parquet"))

    def money(lo, hi, n):
        return np.round(g.uniform(lo, hi, n), 2)

    def days(start, span, n):
        base = np.datetime64(start, "us")
        return base + g.integers(0, span, n).astype("timedelta64[D]").astype("timedelta64[us]")

    n_cust, n_supp, n_part = int(150000 * scale), int(10000 * scale), int(200000 * scale)
    n_ord, n_docs, n_emb, n_ev = int(1500000 * scale), int(50000 * scale), int(50000 * scale), int(1000000 * scale)

    write("region", {"r_regionkey": pa.array(np.arange(5), pa.int32()),
                     "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    write("nation", {"n_nationkey": pa.array(np.arange(25), pa.int32()),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": pa.array(np.arange(25) % 5, pa.int32())})
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    write("customer", {"c_custkey": pa.array(np.arange(n_cust), pa.int64()),
                       "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                       "c_nationkey": pa.array(g.integers(0, 25, n_cust), pa.int32()),
                       "c_acctbal": money(-999.99, 9999.99, n_cust),
                       "c_mktsegment": segs[g.integers(0, 5, n_cust)]})
    write("supplier", {"s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
                       "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                       "s_nationkey": pa.array(g.integers(0, 25, n_supp), pa.int32()),
                       "s_acctbal": money(-999.99, 9999.99, n_supp)})
    colors = ["red", "blue", "green", "small", "large", "steel", "copper", "ivory"]
    things = ["widget", "bolt", "ring", "gear", "valve", "panel", "spring", "clamp"]
    names = np.array([f"{c} {t}" for c in colors for t in things])
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    write("part", {"p_partkey": pa.array(np.arange(n_part), pa.int64()),
                   "p_name": names[g.integers(0, len(names), n_part)],
                   "p_brand": [f"Brand#{b}" for b in g.integers(1, 26, n_part)],
                   "p_type": types[g.integers(0, len(types), n_part)],
                   "p_size": pa.array(g.integers(1, 51, n_part), pa.int32()),
                   "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2)})
    prios = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    write("orders", {"o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
                     "o_custkey": pa.array(g.integers(0, n_cust, n_ord), pa.int64()),
                     "o_orderstatus": np.array(["F", "O", "P"])[g.integers(0, 3, n_ord)],
                     "o_totalprice": money(1000, 500000, n_ord),
                     "o_orderdate": pa.array(days("1995-01-01", 2400, n_ord), pa.timestamp("us")),
                     "o_orderpriority": prios[g.integers(0, 5, n_ord)]})
    per_order = g.integers(1, 8, n_ord)
    n_li = int(per_order.sum())
    okeys = np.repeat(np.arange(n_ord), per_order)
    linenos = np.concatenate([np.arange(1, k + 1) for k in per_order])
    qty = g.integers(1, 51, n_li).astype(float)
    write("lineitem", {"l_orderkey": pa.array(okeys, pa.int64()),
                       "l_partkey": pa.array(g.integers(0, n_part, n_li), pa.int64()),
                       "l_suppkey": pa.array(g.integers(0, n_supp, n_li), pa.int64()),
                       "l_linenumber": pa.array(linenos, pa.int32()),
                       "l_quantity": qty,
                       "l_extendedprice": np.round(qty * g.uniform(900, 2100, n_li), 2),
                       "l_discount": np.round(g.integers(0, 11, n_li) / 100.0, 2),
                       "l_tax": np.round(g.integers(0, 9, n_li) / 100.0, 2),
                       "l_returnflag": np.array(["A", "N", "R"])[g.integers(0, 3, n_li)],
                       "l_linestatus": np.array(["F", "O"])[g.integers(0, 2, n_li)],
                       "l_shipdate": pa.array(days("1995-01-02", 2500, n_li), pa.timestamp("us"))})
    ev_ts = np.datetime64("2024-01-01", "us") + np.sort(
        g.integers(0, 30 * 86400 * 10**6, n_ev)).astype("timedelta64[us]")
    write("events", {"event_id": pa.array(np.arange(n_ev), pa.int64()),
                     "ts": pa.array(ev_ts, pa.timestamp("us")),
                     "user_id": pa.array(g.integers(0, max(n_cust // 10, 10), n_ev), pa.int64()),
                     "event_type": np.array(["click", "error", "purchase", "signup", "view"])[
                         g.integers(0, 5, n_ev)],
                     "value": np.round(g.uniform(0.01, 500, n_ev), 2),
                     "props": [f'{{"k": {k}}}' for k in g.integers(0, 100, n_ev)]})
    words = np.array(WORDS)
    texts = []
    for i in range(n_docs):
        if i > 10 and g.random() < 0.15:
            # near-duplicate of an earlier document: a few words changed
            src = texts[int(g.integers(0, i))].split()
            for j in g.integers(0, len(src), max(1, len(src) // 20)):
                src[j] = words[g.integers(0, len(words))]
            texts.append(" ".join(src))
        else:
            texts.append(" ".join(words[g.integers(0, len(words), int(g.integers(8, 90)))]))
    langs = np.array(["de", "en", "en", "en", "es", "fr", "zh"])
    write("documents", {"doc_id": pa.array(np.arange(n_docs), pa.int64()),
                        "text": texts,
                        "lang": langs[g.integers(0, len(langs), n_docs)],
                        "source": [f"src{s}" for s in np.arange(n_docs) % 20],
                        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    labels = g.integers(0, 10, n_emb)
    centers = g.normal(0, 1, (10, 64))
    vecs = centers[labels] + g.normal(0, 0.6, (n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    write("embeddings", {"vec_id": pa.array(np.arange(n_emb), pa.int64()),
                         "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
                         "label": pa.array(labels, pa.int32())})


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("kind", choices=["lake", "churn", "catalog"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    if a.kind == "lake":
        gen_lake(a.seed, a.out)
    elif a.kind == "churn":
        gen_churn(a.seed, a.out, CHURN_CLI_VERSIONS)
    else:
        gen_catalog(a.seed, a.out)


if __name__ == "__main__":
    main()
