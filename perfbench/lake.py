"""The HTTP workloads, lake_hot and lake_churn.

Both launch the harness JVM in `serve` mode (graft.server.HttpShell over a
SparkSession) and drive it from closed-loop client threads over real
sockets. Every response is checked after the measured window against
answers computed from the generated rows.
"""
import http.client
import json
import os
import random
import shutil
import threading
import time

import datagen
import expect
import layers
from common import Jvm, median, nproc, percentile

SLO_MS = 2000.0        # latency limit of slo_met_share
WARMUP_S = 15.0        # closed-loop warm-up before the measured window
PASS_REQUESTS = 32     # catalog_s on the lake workloads: seconds per this many requests
CHURN_RATE = 4.0       # lake_churn publishes per second
TRACE_REQUESTS = 24    # length of the traced sequence
TRACE_ROUNDS = 2       # traced run: rounds of HTTP, untraced and traced passes

KINDS = ["preview", "delays", "export", "regression"]
DECK_ROUNDS = 4  # a deck holds each kind this many times


def request_params(rng, kind):
    if kind == "preview":
        return {"limit": rng.choice([10, 50, 100, 200])}
    if kind == "delays":
        return {"sorting": rng.choice(["Asc", "Desc"]), "limit": rng.choice([10, 20, 50, 100])}
    if kind == "export":
        return {"sorting": rng.choice(["Asc", "Desc"])}
    x, y = rng.choice(datagen.REGRESSIONS)
    return {"x": x, "y": y}


def request_stream(rng, pick_dataset, datasets=None):
    """Endless seeded requests, dealt from shuffled decks in which every
    kind appears DECK_ROUNDS times. With `datasets` (DECK_ROUNDS of them)
    a deck pairs every kind with every dataset once, so no kind's latency depends
    on how many of its requests fell on the parquet dataset; otherwise
    `pick_dataset(rng)` names each request's dataset when it is dealt."""
    while True:
        deck = [(k, ds) for k in KINDS for ds in (datasets or [None] * DECK_ROUNDS)]
        rng.shuffle(deck)
        for kind, ds in deck:
            ds = ds or pick_dataset(rng)
            yield {"kind": kind, "ds": ds, **request_params(rng, kind)}


def http_call(conn, req):
    """One request on a keep-alive connection; returns (status, body bytes)."""
    ds = req["ds"]
    kind = req["kind"]
    if kind == "regression":
        body = json.dumps({"x_col": req["x"], "y_col": req["y"]})
        conn.request("POST", f"/data/{ds}/regression", body=body,
                     headers={"Content-Type": "application/json"})
    elif kind == "preview":
        conn.request("GET", f"/data/{ds}/preview?limit={req['limit']}")
    elif kind == "delays":
        conn.request("GET", f"/data/{ds}/delays?sorting={req['sorting']}&limit={req['limit']}")
    else:
        conn.request("GET", f"/data/{ds}/delays?sorting={req['sorting']}")
    r = conn.getresponse()
    return r.status, r.read()


def seq_line(req):
    """The request as a line of the in-process replay sequence."""
    k = req["kind"]
    if k == "preview":
        f = [k, req["ds"], req["limit"]]
    elif k == "delays":
        f = [k, req["ds"], req["sorting"], req["limit"]]
    elif k == "export":
        f = [k, req["ds"], req["sorting"]]
    else:
        f = [k, req["ds"], req["x"], req["y"]]
    return "\t".join(str(x) for x in f)


class Lake:
    """Generated data plus the expected answers for one run."""

    def __init__(self, workload, seed, lake_dir, seconds):
        self.workload = workload
        self.dir = lake_dir
        self.versions = expect.VersionLog()
        self.rows = {}
        if workload == "lake_hot":
            for ds, rows in datagen.gen_lake(seed, lake_dir).items():
                self.rows[(ds, 0)] = rows
            self.publishes = []
        else:
            n = int((WARMUP_S + seconds + 10) * CHURN_RATE)
            self.publishes, self.rows = datagen.gen_churn(seed, lake_dir, n)
        self.ids = sorted({ds for ds, _ in self.rows})
        for ds in self.ids:
            self.versions.publish(ds, 0, 0.0)
        self.n_published = 0
        self.fresh = []  # churn: ids published and not yet read, oldest first
        self.lock = threading.Lock()
        self._cache = {}

    def publish(self, i):
        ds, v, staged = self.publishes[i]
        tmp = os.path.join(self.dir, f".{ds}.csv.tmp")
        shutil.copyfile(os.path.join(self.dir, staged), tmp)
        os.replace(tmp, os.path.join(self.dir, ds + ".csv"))
        with self.lock:
            self.versions.publish(ds, v, time.monotonic())
            self.n_published = i + 1
            self.fresh.append(ds)

    def pick(self, rng):
        """lake_churn's dataset choice: readers favour the newest version
        nobody has read yet, else the newest one; the publish order keeps
        both clear of rewrites."""
        with self.lock:
            if self.fresh:
                return self.fresh.pop()
            return self.publishes[self.n_published - 1][0]

    def expected_delays(self, ds, v, desc, limit):
        key = (ds, v, desc)
        if key not in self._cache:
            self._cache[key] = expect.expected_delays(self.rows[(ds, v)], desc)
        full = self._cache[key]
        return full if limit is None else full[:limit]

    def check(self, req, status, body, t_send, version=None):
        """None if the response is correct (and fresh), else the reason.
        `version` pins the expected version (sequential replays)."""
        if status != 200:
            return f"status {status}: {body[:200]!r}"
        try:
            obj = json.loads(body)
        except ValueError as e:
            return f"bad json: {e}"
        ds, kind = req["ds"], req["kind"]
        if kind == "regression":
            if version is not None:
                candidates = [version]
            else:
                floor = self.versions.current(ds, t_send) or 0
                candidates = [v for (d, v) in self.rows if d == ds and v >= floor]
            for v in sorted(candidates, reverse=True):
                try:
                    want = expect.ols_expected(self.rows[(ds, v)], req["x"], req["y"])
                except ValueError:
                    continue
                if expect.regression_matches(obj, want):
                    return None
            return f"regression mismatch (versions tried {sorted(candidates)}): {obj}"
        if not isinstance(obj, list) or not obj:
            return "empty or non-list body"
        seen = {o.get("version") for o in obj}
        if version is not None:
            if seen != {version}:
                return f"versions {seen}, expected {version}"
        else:
            why = self.versions.check(ds, t_send, seen)
            if why:
                return why
        v = next(iter(seen))
        rows = self.rows.get((ds, v))
        if rows is None:
            return f"unknown dataset version {ds}@{v}"
        if kind == "preview":
            want = min(req["limit"], len(rows))
            return None if len(obj) == want else f"preview rows {len(obj)} != {want}"
        desc = req["sorting"] == "Desc"
        limit = req.get("limit")
        got = expect.response_delays(obj)
        if kind == "export" and len(got) != len(rows):
            return f"export rows {len(got)} != {len(rows)}"
        if got != self.expected_delays(ds, v, desc, limit):
            order = "sorted" if expect.is_sorted_nulls_first(got, desc) else "not sorted"
            return f"{kind} order/limit mismatch ({order}, {len(got)} rows)"
        return None


def closed_loop(lake, port, clients, seed, phase, until, records):
    """`clients` threads dealt one seeded request stream between them, so
    the run as a whole keeps the deck's balance, each sending until `until`
    (monotonic). Appends (client, req, t_send, t_recv, status, body)."""
    stream = request_stream(random.Random(f"{seed}:{phase}"), lake.pick,
                            lake.ids if lake.workload == "lake_hot" else None)
    deal = threading.Lock()

    def client(c):
        conn = http.client.HTTPConnection("127.0.0.1", port, timeout=170)
        try:
            while time.monotonic() < until:
                with deal:
                    req = next(stream)
                t0 = time.monotonic()
                try:
                    status, body = http_call(conn, req)
                except (OSError, http.client.HTTPException) as e:
                    status, body = -1, str(e).encode()
                    conn.close()
                    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=170)
                records.append((c, req, t0, time.monotonic(), status, body))
        finally:
            conn.close()
    threads = [threading.Thread(target=client, args=(c,)) for c in range(clients)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()


def writer(lake, start_index, stop):
    """lake_churn's writer: publishes the staged versions at CHURN_RATE."""
    i = start_index
    nxt = time.monotonic()
    while not stop.is_set() and i < len(lake.publishes):
        lake.publish(i)
        i += 1
        nxt += 1.0 / CHURN_RATE
        stop.wait(max(0.0, nxt - time.monotonic()))
    return i


def launch(work, lake, name):
    """Start a server; returns (jvm, port, setup seconds = launch to first 200)."""
    # C1 only (README.md, "Running"): with C2 the lake latency keeps
    # falling for about 45 s of traffic, longer than a run can warm up.
    jvm = Jvm(work, ["serve", lake.dir, nproc()], name, c1_only=True)
    try:
        jvm.expect("session_up")
        port = int(jvm.expect("port")[0])
        conn = http.client.HTTPConnection("127.0.0.1", port, timeout=170)
        status, _ = http_call(conn, {"kind": "preview", "ds": lake.ids[0], "limit": 5})
        conn.close()
        if status != 200:
            raise RuntimeError(f"first request answered {status}")
    except BaseException:
        jvm.kill()
        raise
    return jvm, port, time.monotonic() - jvm.t0


def run(workload, seed, seconds, trace, work):
    lake = Lake(workload, seed, os.path.join(work, "lake"), seconds)
    # One server launch per run: a second one would cost about a quarter
    # of the run (see README.md, setup_s).
    jvm, port, setup = launch(work, lake, "server")
    stop = threading.Event()
    wthread = None

    def stop_writer():
        stop.set()
        if wthread:
            wthread.join()
    try:
        # nproc - 1 clients: one core stays for the client threads and the
        # JVM's own threads. With nproc clients the run-to-run spread of
        # every latency roughly doubled (README.md, "Running").
        clients = max(1, nproc() - 1)
        if workload == "lake_churn":
            lake.publish(0)
            wthread = threading.Thread(target=writer, args=(lake, 1, stop))
            wthread.start()
        warm = []
        closed_loop(lake, port, clients, seed, "warm", time.monotonic() + WARMUP_S, warm)
        if trace:
            stop_writer()
            return traced(lake, jvm, port, seed, work, warm)
        measured = []
        t_start = time.monotonic()
        closed_loop(lake, port, clients, seed, "measure", t_start + seconds, measured)
        stop_writer()
        jvm.send("gc")
        heap = float(jvm.expect("heap")[0])
    finally:
        stop_writer()
        jvm.stop()
    return summarize(lake, warm, measured, t_start, setup, heap, work)


def summarize(lake, warm, measured, t_start, setup, heap, work):
    with open(os.path.join(work, "requests.jsonl"), "w") as f:
        for phase, records in (("warm-up", warm), ("measured", measured)):
            for c, req, t0, t1, status, body in records:
                f.write(json.dumps({"phase": phase, "client": c, "t_send": t0 - t_start,
                                    "ms": (t1 - t0) * 1000, "status": status,
                                    "bytes": len(body), **req}) + "\n")
    failures, ok_in = [], []
    for phase, records in (("warm-up", warm), ("measured", measured)):
        for r in records:
            _, req, t0, _, status, body = r
            why = lake.check(req, status, body, t0)
            if why:
                failures.append(f"{phase} {req['kind']} {req['ds']}: {why}")
            elif records is measured:
                ok_in.append(r)
    lat = [(r[3] - r[2]) * 1000 for r in measured]
    window = max(r[3] for r in measured) - t_start
    by_kind = {k: [(r[3] - r[2]) * 1000 for r in measured if r[1]["kind"] == k] for k in KINDS}
    missing = [k for k, v in by_kind.items() if not v]
    if missing:
        failures.append(f"no {missing} request completed in the window")
    rps = len(ok_in) / window
    metrics = {
        "setup_s": (setup, "s"),
        "req_per_s": (rps, "1/s"),
        "latency_p50_ms": (median(lat), "ms"),
        "latency_p95_ms": (percentile(lat, 95), "ms"),
        "slo_met_share": (sum(1 for r in ok_in if (r[3] - r[2]) * 1000 <= SLO_MS) / len(measured),
                          "ratio"),
        "preview_p50_ms": (median(by_kind["preview"] or [0]), "ms"),
        "delays_p50_ms": (median(by_kind["delays"] or [0]), "ms"),
        "export_p50_ms": (median(by_kind["export"] or [0]), "ms"),
        "regression_p50_ms": (median(by_kind["regression"] or [0]), "ms"),
        "catalog_s": (PASS_REQUESTS / rps if rps else 0.0, "s"),
        "retained_heap_mb": (heap, "MB"),
    }
    info = {"requests": len(measured), "beyond_p95": sum(1 for x in lat if x > percentile(lat, 95)),
            "warmup_requests": len(warm),
            "per_kind": {k: len(v) for k, v in by_kind.items()}}
    return len(warm) + len(measured), failures, metrics, info


# ------------------------------------------------------------------ traced


def trace_sequence(lake, seed):
    """The seeded request sequence the trace phases replay. On lake_churn
    each read is preceded by a publish of its dataset."""
    stream = request_stream(random.Random(f"{seed}:trace"), lambda rng: None,
                            lake.ids if lake.workload == "lake_hot" else None)
    seq = []
    start = lake.n_published
    for i in range(TRACE_REQUESTS):
        req = next(stream)
        if lake.workload == "lake_churn":
            p = start + i
            ds, v, staged = lake.publishes[p]
            seq.append(("publish", p, ds, v, staged))
            seq.append(("req", dict(req, ds=ds), v))
        else:
            seq.append(("req", req, 0))
    return seq


def traced(lake, jvm, port, seed, work, warm):
    """TRACE_ROUNDS rounds of: the sequence sequentially over HTTP, then
    replayed in process untraced and traced. Alternating keeps the three
    at the same warm-up."""
    seq = trace_sequence(lake, seed)
    seq_file = os.path.join(work, "trace.seq")
    with open(seq_file, "w") as f:
        for s in seq:
            if s[0] == "publish":
                f.write(f"publish\t{s[4]}\t{s[2]}.csv\n")
            else:
                f.write(seq_line(s[1]) + "\n")
    reqs = [s for s in seq if s[0] == "req"]
    failures = []
    for (_, req, t0, _, status, body) in warm:
        why = lake.check(req, status, body, t0)
        if why:
            failures.append(f"warm-up {req['kind']} {req['ds']}: {why}")
    http_ms, http_bytes = [], []
    results = {"plain": [], "traced": []}
    prefixes = []
    for rnd in range(TRACE_ROUNDS):
        conn = http.client.HTTPConnection("127.0.0.1", port, timeout=170)
        for s in seq:
            if s[0] == "publish":
                lake.publish(s[1])
                continue
            t0 = time.monotonic()
            status, body = http_call(conn, s[1])
            http_ms.append((time.monotonic() - t0) * 1000)
            http_bytes.append(len(body))
            why = lake.check(s[1], status, body, t0, version=s[2])
            if why:
                failures.append(f"http {s[1]['kind']} {s[1]['ds']}: {why}")
        conn.close()
        # Odd rounds replay traced first, so neither kind always runs second.
        for name, flag in (("plain", "0"), ("traced", "1"))[::1 if rnd % 2 == 0 else -1]:
            prefix = os.path.join(work, f"replay_{name}{rnd}")
            jvm.send(f"replay {seq_file} {prefix} {flag}")
            jvm.expect("replayed", timeout=170)
            got = [json.loads(l) for l in open(prefix + ".results.jsonl")]
            for s, r in zip(reqs, got):
                why = r.get("error") or lake.check(
                    s[1], 200, json.dumps(r["body"]).encode(), 0.0, version=s[2])
                if why:
                    failures.append(f"{name} replay {s[1]['kind']} {s[1]['ds']}: {why}")
            results[name] += got
            if flag == "1":
                prefixes.append(prefix)
    jvm.send("gc")
    jvm.expect("heap")
    metrics = layers.lake_metrics(prefixes, [s[1]["kind"] for s in reqs], http_ms, http_bytes,
                                  results)
    attempted = len(warm) + 3 * TRACE_ROUNDS * len(reqs)
    return attempted, failures, metrics, {"trace_requests": len(reqs), "rounds": TRACE_ROUNDS}
