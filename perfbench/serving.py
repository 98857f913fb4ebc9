"""triplestore_serving: one closed-loop client against DegDBServer.

The store holds the triples ``sources/triples.py`` derives from the
generated tables. One closed-loop client sends whole cycles of 24
operations: 20 reads in a seeded order — 16 rooted subject lookups
(subjects drawn with skew), 2 boolean pattern queries with ``limit`` (an
OR of subjects and an AND of predicate and object) and 2 two-hop path
queries through ``DegDB.query_steps`` (HTTP has no route for them) — with
an insert of 100 triples after every fifth read, a seeded share of which
are already stored. Every reply is
checked against the benchmark's own model of the store: the initial
triples plus every acknowledged insert.
"""

from __future__ import annotations

import http.client
import json
import os
import random
import time
import urllib.parse

from harness import more_units, percentile, summary

#: One cycle: 20 reads in a seeded order, with an insert after every fifth.
#: The mix is an assumption, not a measurement: neither degdb nor this
#: repository has a trace of real traffic. The reference's only benchmark
#: times inserts alone, and its UI has one query page and one insert page.
#: What the mix assumes, and why:
#: - read-mostly traffic, 5 reads per write: a store people query more
#:   often than they feed it;
#: - rooted subject lookups as 16 of the 20 reads: the reference routes a
#:   rooted query to the owner of the subject's hash, its fast path, and
#:   a lookup majority keeps the median operation inside the lookup
#:   latencies rather than on the edge between two kinds;
#: - one OR and one AND query with ``limit`` and two two-hop paths per
#:   cycle: each of the reference's other query forms appears in every
#:   cycle, so every read path is measured in every run.
#: A write takes about ten lookups' time, so the 4 inserts take about 60%
#: of a cycle's wall time and weigh more in ``ops_per_s`` than the 20
#: reads; the run prints the split.
#: Inserts sit at fixed places and the warm-up holds four of them, so each
#: cycle starts on a store the every-fourth-insert lineage cut has just
#: consolidated and ends with the next cut: whatever the seed, every read
#: sees the same sequence of store shapes.
READ_MIX = ["lookup"] * 16 + ["or", "and", "order_path", "customer_path"]
INSERT_EVERY = 5
CYCLE_LEN = len(READ_MIX) + len(READ_MIX) // INSERT_EVERY
#: A run measures whole units of two cycles, 48 requests: with one cycle
#: the median request time moved by a third between runs on a busy host.
UNIT = 2 * CYCLE_LEN
#: Warm-up: every kind of read, and four inserts.
WARM_MIX = ["lookup"] * 4 + ["or", "and", "order_path", "customer_path"]
KIND = {"or": "boolean", "and": "boolean", "order_path": "path",
        "customer_path": "path"}
READS = ("lookup", "boolean")


class Model:
    """The expected store: a set of (subj, pred, obj) with two indexes."""

    def __init__(self, triples):
        self.triples: set = set()
        self.by_subj: dict[str, set] = {}
        self.by_pred_obj: dict[tuple, set] = {}
        self.add(triples)

    def add(self, triples) -> None:
        for t in triples:
            if t not in self.triples:
                self.triples.add(t)
                self.by_subj.setdefault(t[0], set()).add(t)
                self.by_pred_obj.setdefault((t[1], t[2]), set()).add(t)

    def matches(self, pattern: dict) -> set:
        if "subj" in pattern:
            out = self.by_subj.get(pattern["subj"], set())
            return {t for t in out if all(
                t[i] == pattern[f] for i, f in ((1, "pred"), (2, "obj")) if f in pattern)}
        if "obj" in pattern:
            return set(self.by_pred_obj.get((pattern["pred"], pattern["obj"]), set()))
        return {t for t in self.triples if t[1] == pattern["pred"]}

    def two_hop(self, start: str, pred: str) -> set:
        frontier = {t[2] for t in self.by_subj.get(start, ())}
        return {t for s in frontier for t in self.by_subj.get(s, ()) if t[1] == pred}


def keys(rows) -> list:
    return [(r["subj"], r.get("pred"), r.get("obj")) for r in rows]


def check_read(rows, want: set, limit: int) -> str | None:
    """None when a reply holds exactly the expected triples, or, under a
    limit, that many distinct expected triples."""
    got = keys(rows)
    if len(set(got)) != len(got):
        return "duplicate triples in reply"
    if not set(got) <= want:
        return f"{len(set(got) - want)} triples not in the store"
    n = len(want) if limit <= 0 else min(limit, len(want))
    if len(got) != n:
        return f"{len(got)} triples, expected {n}"
    return None


def make_ops(model: Model, subjects: list, seed: int, n_cycles: int,
             reads=READ_MIX, every: int = INSERT_EVERY) -> list:
    """Seeded operations: skewed subjects, reads shuffled within each
    cycle with an insert after every ``every`` reads, inserts of 100
    triples of which a seeded share (10-30%) is already stored.

    The skew and the duplicate share are assumptions too. Subject ranks
    are drawn as ``u ** 4`` for uniform ``u``, so the most popular 1% of
    subjects get about 32% of the draws and the top 10% about 56%: a few
    hot entities, as in most entity stores. Re-sent triples model a
    client that re-inserts facts it already sent, which the store must
    skip (the reference's insert ignores duplicates)."""
    rng = random.Random(seed)
    dup_share = rng.uniform(0.1, 0.3)
    nations = sorted({t[2] for t in model.triples if t[1] == "in_nation"})
    stored = sorted(model.triples)
    starts = {p: [s for s in subjects if s.startswith(p)] for p in ("order/", "customer/")}

    def skewed():  # a power law over a seeded ranking of subjects
        return subjects[int(len(subjects) * rng.random() ** 4)]

    ops, fresh = [], 0
    for _ in range(n_cycles):
        order = list(reads)
        rng.shuffle(order)
        cycle = []
        for i, variant in enumerate(order, 1):
            cycle += [variant, "insert"] if i % every == 0 else [variant]
        for variant in cycle:
            kind = KIND.get(variant, variant)
            if variant == "lookup":
                ops.append((kind, [{"subj": skewed()}], -1))
            elif variant == "or":
                ops.append((kind, [{"subj": skewed()}, {"subj": skewed()}],
                            rng.choice([1, 2, 5])))
            elif variant == "and":
                ops.append((kind, [{"pred": "in_nation", "obj": rng.choice(nations)}],
                            rng.choice([10, 50, 100])))
            elif variant == "order_path":  # order -> customer -> nation
                ops.append((kind, (rng.choice(starts["order/"]), "in_nation"), None))
            elif variant == "customer_path":  # customer -> nation -> region
                ops.append((kind, (rng.choice(starts["customer/"]), "in_region"), None))
            else:
                n_dup = round(100 * dup_share)
                batch = rng.sample(stored, n_dup)
                for _ in range(100 - n_dup):
                    batch.append((skewed(), "tagged", f"tag/{seed}/{fresh}"))
                    fresh += 1
                ops.append(("insert", batch, None))
    return ops


# ----------------------------------------------------------------- workload


def request(port: int, method: str, path: str, body: str | None = None):
    """One HTTP exchange. DegDBServer speaks HTTP/1.0, which closes the
    connection after each reply, so the client connects per request."""
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)
    try:
        conn.request(method, path, body=body,
                     headers={"Content-Type": "application/json"})
        resp = conn.getresponse()
        return resp.status, resp.read()
    finally:
        conn.close()


class Timed:
    """Wraps a DegDB or TripleStore method and keeps its call times."""

    def __init__(self, fn):
        self.fn, self.times = fn, []

    def __call__(self, *args, **kwargs):
        t = time.perf_counter()
        try:
            return self.fn(*args, **kwargs)
        finally:
            self.times.append(time.perf_counter() - t)


def load_triples(data_dir: str) -> list:
    from degdb_spark.sources.triples import TRIPLES_SQL
    from tools.oracle_check import duck_connect

    con = duck_connect(data_dir)
    rows = con.execute(TRIPLES_SQL).fetchall()
    con.close()
    return [tuple(r) for r in rows]


def write_store(triples: list, path: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    n = len(triples)
    null = pa.nulls(n, pa.string())
    pq.write_table(pa.table({
        "subj": [t[0] for t in triples], "pred": [t[1] for t in triples],
        "obj": [t[2] for t in triples], "lang": null, "author": null, "sig": null,
        "created": pa.nulls(n, pa.timestamp("us")),
    }), path)


def inputs(ctx) -> dict:
    """The store file, the model and the seeded operations, made before
    the session starts."""
    triples = load_triples(ctx.data_dir)
    model = Model(triples)
    subjects = sorted(model.by_subj)
    random.Random(ctx.seed).shuffle(subjects)
    store = os.path.join(ctx.run_dir, "store.parquet")
    write_store(triples, store)
    return {"model": model, "store": store,
            "ops": make_ops(model, subjects, ctx.seed, 40),
            "warm": make_ops(model, subjects, ctx.seed + 10_000, 1, WARM_MIX, 2)}


def prepare(ctx, workload: str) -> dict:
    from degdb_spark.api import DegDB
    from degdb_spark.server import DegDBServer

    with ctx.setup_phase("store.load_s"):
        db = DegDB(ctx.spark, path=ctx.inputs["store"])
        db.query_json = Timed(db.query_json)
        db.insert_json = Timed(db.insert_json)
        db.store.insert = Timed(db.store.insert)
        server = DegDBServer(db).start()
    state = {"db": db, "server": server, "model": ctx.inputs["model"],
             "port": server.port, "ops": ctx.inputs["ops"], "next": 0,
             "setup_errors": []}
    with ctx.setup_phase("warmup_s"):
        warm = ctx.inputs["warm"]
        for op in warm:
            err = run_op(ctx, state, op)[3]
            if err is not None:
                state["setup_errors"].append(f"warm-up {err}")
    state["setup_ops"] = len(warm)
    return state


def run_op(ctx, state, op):
    """One operation: (kind, wall_s, db_call_s or None, error)."""
    kind, arg, limit = op
    db, port, model = state["db"], state["port"], state["model"]
    t0 = time.perf_counter()
    try:
        with ctx.tracer.span(f"request.{kind}"):
            if kind in READS:
                q = urllib.parse.quote(json.dumps(arg))
                n0 = len(db.query_json.times)
                status, body = request(port, "GET", f"/api/v1/query?q={q}&limit={limit}")
                wall = time.perf_counter() - t0
                call = db.query_json.times[-1] if len(db.query_json.times) > n0 else None
                if status != 200:
                    return kind, wall, call, f"{kind}: HTTP {status} {body[:200]!r}"
                want = set().union(*(model.matches(p) for p in arg))
                return kind, wall, call, check_read(json.loads(body), want, limit)
            if kind == "path":
                start, pred = arg
                rows = db.query_steps([{"subj": start}, {"pred": pred}])
                wall = time.perf_counter() - t0
                return kind, wall, wall, check_read(rows, model.two_hop(start, pred), -1)
            payload = json.dumps([{"subj": s, "pred": p, "obj": o} for s, p, o in arg])
            n0 = len(db.insert_json.times)
            status, body = request(port, "POST", "/api/v1/insert", payload)
            wall = time.perf_counter() - t0
            call = db.insert_json.times[-1] if len(db.insert_json.times) > n0 else None
            if status != 200:
                return kind, wall, call, f"insert: HTTP {status} {body[:200]!r}"
            model.add(arg)  # acknowledged: the store must now hold it
            return kind, wall, call, None
    except Exception as e:  # counted, never retried
        return kind, time.perf_counter() - t0, None, f"{kind}: {type(e).__name__}: {e}"


def measure(ctx, state: dict) -> dict:
    lat = {k: [] for k in ("lookup", "boolean", "path", "insert")}
    overhead = []  # HTTP round trip minus the DegDB call it carried
    jobs = {"read": [], "write": []}
    py4j = {"read": [], "write": []}
    errors, walls, trace = [], [], []
    db = state["db"]
    timed = (db.query_json, db.insert_json, db.store.insert)
    seen = [len(t.times) for t in timed]  # calls made before this measurement
    start, first = time.perf_counter(), state["next"]
    ops = state["ops"]
    while state["next"] % UNIT or more_units(
            time.perf_counter() - start, (state["next"] - first) // UNIT, ctx.seconds):
        op = ops[state["next"] % len(ops)]
        state["next"] += 1
        jobs0, calls0 = ctx.total_jobs(), ctx.py4j.calls
        kind, wall, call, err = run_op(ctx, state, op)
        # ---- untimed from here
        side = "write" if kind == "insert" else "read"
        py4j[side].append(ctx.py4j.calls - calls0)
        jobs[side].append(ctx.total_jobs() - jobs0)
        walls.append(wall)
        lat[kind].append(wall)
        trace.append((kind, round(wall * 1000, 1)))
        if call is not None and kind != "path":
            overhead.append(wall - call)
        if err is not None:
            errors.append(f"op {state['next']}: {err}")
        if state["next"] % 10 == 0:
            ctx.canary()
    status, body = request(state["port"], "GET", "/api/v1/info")
    n = json.loads(body)["triples"] if status == 200 else None
    if n != len(state["model"].triples):
        errors.append(f"info: store holds {n} triples, model {len(state['model'].triples)}")

    ms = lambda xs, q: percentile(xs, q) * 1000  # noqa: E731
    reads = lat["lookup"] + lat["boolean"]
    ctx.layer_set("read_p50_ms", ms(reads, 50))
    ctx.layer_set("read_p90_ms", ms(reads, 90))
    ctx.layer_set("path_p50_ms", ms(lat["path"], 50))
    ctx.layer_set("write_p50_ms", ms(lat["insert"], 50))
    ctx.layer_set("write_p90_ms", ms(lat["insert"], 90))
    if ctx.tracer.enabled:
        mean_ms = lambda xs: 1000 * sum(xs) / max(1, len(xs))  # noqa: E731
        for name, t, n in zip(("api.query_json_ms", "api.insert_json_ms",
                               "triplestore.insert_ms"), timed, seen):
            ctx.layer_set(name, mean_ms(t.times[n:]))
        ctx.layer_set("api.query_steps_ms", mean_ms(lat["path"]))
        ctx.layer_set("server.overhead_ms", mean_ms(overhead))
        for side in ("read", "write"):
            ctx.layer_set(f"spark.jobs_per_{side}", sum(jobs[side]) / max(1, len(jobs[side])))
            ctx.layer_set(f"py4j_calls_per_{side}", sum(py4j[side]) / max(1, len(py4j[side])))
        ctx.persistence_layers(1.0 / max(1, len(lat["insert"])))
    ctx.detail["latency_ms"] = {k: summary([x * 1000 for x in v]) for k, v in lat.items()}
    ctx.detail["op_ms"] = trace
    ctx.detail["time_share"] = {k: sum(v) / sum(walls) for k, v in lat.items()}
    return {"attempted": len(walls) + 1, "errors": errors,
            "ops_per_s": len(walls) / sum(walls), "op_p50_ms": ms(walls, 50)}


def close(state) -> None:
    state["server"].stop()
