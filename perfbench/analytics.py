"""graph_iterative: passes over iterative registry queries.

Each query is built and executed once per pass under its own job group,
with Spark's caches cleared first so it re-executes from parquet. The
timed action is ``toPandas()``, which returns the rows; outside the
timed region the rows are compared with the query's DuckDB oracle
(computed once per checkout and cached under the work directory).

A run measures one pass of the two queries (a first pass shorter than two
thirds of ``--seconds`` would be followed by a second), so ``op_p50_ms``
(the mean of their two times) and ``ops_per_s`` (two over their sum)
carry the same figure here; ``query.<name>.wall_s`` under ``--trace 1`` tells the two
queries apart. The pass is the queries' first execution in the session:
warm passes (measured with the queries added to the warm-up) take about
half as long but follow the host's CPU steal closely, and spread
0.26 (quartile spread over median, five seeds) against 0.14 for the
first pass over the same minutes on a shared 4-core host.
"""

from __future__ import annotations

import hashlib
import os
import pickle
import time

from harness import group_metrics, more_units, self_time_by_name, summary

#: The index build runs once, in set-up, checked like any query: the
#: basket queries read the managed table it writes.
BUILD = ["basket_edges_build"]
#: Driver-side loops of many small Spark jobs, one from the embedding family
#: and one from the basket family. An even count keeps the median query
#: time off a near-tie between two queries. The order is fixed, not
#: seeded: whichever query runs first also pays for warming code the other
#: shares (a 2.8 s swing on a 9 s pass on a 4-core host), which a seeded
#: order would turn into a spread across seeds.
QUERIES = ["emb_knn_graph", "basket_ktruss"]
#: Their cost is a per-job floor that data size barely moves, so they run
#: at sf0.01, where the build is cheap enough for every run's set-up.
SCALE = 0.01


def all_queries() -> list[str]:
    return BUILD + QUERIES


# -------------------------------------------------------------- correctness


def compare(got, want) -> str | None:
    """None when a Spark result equals its oracle result, as the
    registry's oracle gate compares them (tools/oracle_check): column
    names, dtypes, row count, then canonicalised values. Otherwise the
    reason they differ."""
    from tools.oracle_check import canon

    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    dt = {c: (str(got.dtypes[c]), str(want.dtypes[c])) for c in got.columns
          if str(got.dtypes[c]) != str(want.dtypes[c])}
    if dt:
        return f"dtypes {dt}"
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    cg, cw = canon(got), canon(want)
    if not cg.equals(cw):
        return f"{int((cg != cw).any(axis=1).sum())}/{len(cg)} rows differ"
    return None


def oracle_results(names, reg, data_dir: str, cache_dir: str) -> dict:
    """The DuckDB oracle's result for each query, keyed by a hash of the
    oracle SQL, the data and the DuckDB version so any change to one of
    them recomputes it."""
    import duckdb

    os.makedirs(cache_dir, exist_ok=True)
    con = None
    out = {}
    for name in names:
        sql = reg[name].oracle
        key = hashlib.sha256(
            f"{sql}\0{os.path.basename(data_dir)}\0{duckdb.__version__}".encode()
        ).hexdigest()[:20]
        path = os.path.join(cache_dir, f"{name}-{key}.pkl")
        if not os.path.exists(path):
            if con is None:
                from tools.oracle_check import duck_connect

                con = duck_connect(data_dir)
            df = con.execute(sql).fetchdf()
            with open(path + ".tmp", "wb") as f:
                pickle.dump(df, f)
            os.replace(path + ".tmp", path)
        with open(path, "rb") as f:
            out[name] = pickle.load(f)
    if con is not None:
        con.close()
    return out


# ----------------------------------------------------------------- workload


def run_query(ctx, name: str, group: str):
    """One timed query: (wall_s, rows, error)."""
    spark, tr = ctx.spark, ctx.tracer
    spark.catalog.clearCache()
    spark.sparkContext.setJobGroup(group, name)
    calls0 = ctx.py4j.calls
    t0 = time.perf_counter()
    try:
        with tr.span("query", op=group):
            with tr.span("queries.construct", op=group):
                df = ctx.registry[name].spark(spark, ctx.data_dir)
            t1 = time.perf_counter()
            calls1 = ctx.py4j.calls
            with tr.span("spark.execute", op=group):
                rows = df.toPandas()
    except Exception as e:  # counted, never retried
        return time.perf_counter() - t0, None, f"{type(e).__name__}: {e}"
    t2 = time.perf_counter()
    ctx.layer_add("queries.construct_s", t1 - t0)
    ctx.layer_add("queries.construct_py4j_calls", calls1 - calls0)
    return t2 - t0, rows, None


def prepare(ctx, workload: str) -> dict:
    """The untimed warm-up is the index build, on the same data."""
    with ctx.prep_phase():
        oracle = oracle_results(BUILD + QUERIES, ctx.registry, ctx.data_dir,
                                ctx.oracle_dir)
    errors = []
    with ctx.setup_phase("warmup_s"):
        for name in BUILD:
            wall, rows, err = run_query(ctx, name, f"warmup:{name}")
            err = err or compare(rows, oracle[name])
            if err is not None:
                errors.append(f"{name} (warm-up): {err}")
            ctx.setup[f"query.{name}.wall_s"] = wall
            if ctx.trace:
                ctx.setup[f"query.{name}.jobs"] = group_metrics(
                    ctx.spark, f"warmup:{name}")["jobs"]
    return {"oracle": oracle, "setup_ops": len(BUILD),
            "setup_errors": errors}


def measure(ctx, state: dict) -> dict:
    oracle = state["oracle"]
    walls, passes, errors = [], [], []
    per_query: dict[str, list] = {n: [] for n in QUERIES}
    start = time.perf_counter()
    p = 0
    while more_units(time.perf_counter() - start, p, ctx.seconds):
        pass_s = 0.0
        for name in QUERIES:
            group = f"q:{name}:{ctx.phase}:{p}"
            wall, rows, err = run_query(ctx, name, group)
            pass_s += wall
            walls.append(wall)
            per_query[name].append(wall)
            # ---- untimed from here: correctness, layer figures, canary
            if err is None:
                err = compare(rows, oracle[name])
            if err is not None:
                errors.append(f"{name} (pass {p}): {err}")
            if ctx.tracer.enabled:
                m = group_metrics(ctx.spark, group)
                ctx.layer_add(f"query.{name}.jobs", m["jobs"])
                ctx.layer_add_spark(m, wall)
            ctx.canary()
        passes.append(pass_s)
        p += 1

    ctx.scale_layers(1.0 / p)  # the accumulated layer figures, per pass
    if ctx.tracer.enabled:
        ctx.persistence_layers(1.0 / p)
        own = self_time_by_name(ctx.tracer.spans)
        ctx.layer_set("queries.construct_self_s", own.get("queries.construct", 0.0) / p)
    for name, ws in per_query.items():
        ctx.layer_set(f"query.{name}.wall_s", summary(ws)["p50"])
    ctx.layer_set("pass_s", summary(passes)["p50"])
    ctx.detail["pass_s"] = summary(passes)
    ctx.detail["query_s"] = {n: summary(ws) for n, ws in per_query.items()}
    return {
        "attempted": len(walls),
        "errors": errors,
        "ops_per_s": len(walls) / sum(walls),
        "op_p50_ms": summary(walls)["p50"] * 1000,
    }
