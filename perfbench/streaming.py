"""stream_ingest: documents through three streaming index twins.

``documents`` is cut by seed into contiguous doc-id batches, one parquet
file each, and fed with ``maxFilesPerTrigger=1`` through the
availableNow twins in ``degdb_spark.streaming``. Each pass starts from
empty index, output and checkpoint directories. After each twin the
union of its batch outputs is compared with the batch operator's result
over the whole corpus. That reference is computed in a separate process
before the measured session starts and cached per engine source tree.

    python3 perfbench/streaming.py <documents.parquet> <cache.pkl> <warehouse>

computes it on its own.
"""

from __future__ import annotations

import os
import pickle
import random
import shutil
import subprocess
import sys
import time

from harness import more_units, percentile, source_digest, stop_spark, summary

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

TWINS = ["neardup_index_stream", "span_index_stream", "word_histogram_index_stream"]
N_BATCHES = 2


def batch_bounds(n_docs: int, seed: int, k: int = N_BATCHES) -> list[int]:
    """k contiguous batches whose sizes vary by up to ±10% with the seed.
    Doc-ordered batches are what the span twin's parity with its batch
    operator assumes."""
    rng = random.Random(seed)
    weights = [rng.uniform(0.9, 1.1) for _ in range(k)]
    total = sum(weights)
    cuts, acc = [0], 0.0
    for w in weights[:-1]:
        acc += w
        cuts.append(round(n_docs * acc / total))
    return cuts + [n_docs]


def write_batches(docs, bounds: list[int], src: str) -> None:
    """One parquet file per batch, with strictly increasing mtimes so
    the file source takes them in doc order."""
    import pyarrow.parquet as pq

    os.makedirs(src)
    base = time.time() - len(bounds)
    for i, (lo, hi) in enumerate(zip(bounds, bounds[1:])):
        path = os.path.join(src, f"b{i:03d}.parquet")
        pq.write_table(docs.slice(lo, hi - lo), path)
        os.utime(path, (base + i, base + i))


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs
               if not f.startswith((".", "_")))


# -------------------------------------------------------------- correctness


def neardup_pairs(rows) -> set:
    return {(r["id_a"], r["id_b"]) for r in rows}


def span_docs(rows) -> dict:
    return {r["doc_id"]: (r["n_spans"], r["n_kept"], r["text_clean"]) for r in rows}


def word_counts(rows) -> dict:
    return {r["w"]: r["n"] for r in rows}


def check(got, want) -> str | None:
    """None when a twin's merged output equals the batch result."""
    if got == want:
        return None
    if isinstance(got, set):
        return f"{len(got - want)} extra, {len(want - got)} missing pairs"
    diff = {k for k in set(got) | set(want) if got.get(k) != want.get(k)}
    return f"{len(diff)} of {len(want)} keys differ"


def twin_outcome(label: str, n_ran: int, err: str | None) -> tuple[int, list]:
    """(attempted, errors) of one pass through a twin. Each of the
    N_BATCHES batches counts as attempted even when it never ran, and a
    pass that ran the wrong number of batches or wrote a wrong result
    fails every batch it counts."""
    attempted = max(N_BATCHES, n_ran)
    if err is None and n_ran != N_BATCHES:
        err = f"{n_ran} of {N_BATCHES} batches ran"
    return attempted, [f"{label}: {err}"] * attempted if err is not None else []


def expected(docs_path: str, cache: str, warehouse: str) -> dict:
    """Each twin's batch counterpart over the whole corpus, computed by
    this file in a process of its own and cached per engine source tree
    and data set, since it depends on nothing else."""
    if not os.path.exists(cache):
        subprocess.run([sys.executable, os.path.abspath(__file__),
                        docs_path, cache, warehouse],
                       check=True, stdout=sys.stderr, cwd=ROOT)
    with open(cache, "rb") as f:
        return pickle.load(f)


def write_expected(docs_path: str, cache: str, warehouse: str) -> None:
    sys.path.insert(0, ROOT)
    from degdb_spark.operators.dedup import minhash_lsh_candidates, span_dedup
    from degdb_spark.operators.text import word_histogram
    from degdb_spark.session import get_spark

    spark = get_spark(app_name="perfbench-stream-reference",
                      extra_conf={"spark.sql.warehouse.dir": warehouse})
    docs = spark.read.parquet(docs_path)
    out = {
        "neardup_index_stream": neardup_pairs(minhash_lsh_candidates(docs).collect()),
        "span_index_stream": span_docs(span_dedup(docs).collect()),
        "word_histogram_index_stream": word_counts(word_histogram(docs).collect()),
    }
    stop_spark(spark)
    os.makedirs(os.path.dirname(cache), exist_ok=True)
    with open(cache + ".tmp", "wb") as f:
        pickle.dump(out, f)
    os.replace(cache + ".tmp", cache)


# ----------------------------------------------------------------- workload


def start_twin(spark, twin: str, src: str, schema, out: str):
    from degdb_spark.streaming.dedup import neardup_index_stream, span_index_stream
    from degdb_spark.streaming.wordhist import word_histogram_index_stream

    stream = (spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
              .option("recursiveFileLookup", "true").parquet(src))
    ckpt, idx = os.path.join(out, "ckpt"), os.path.join(out, "index")
    if twin == "neardup_index_stream":
        return neardup_index_stream(stream, idx, os.path.join(out, "out"), ckpt)
    if twin == "span_index_stream":
        return span_index_stream(stream, idx, os.path.join(out, "out"), ckpt)
    return word_histogram_index_stream(stream, idx, ckpt)


def read_output(spark, twin: str, out: str):
    if twin == "neardup_index_stream":
        return neardup_pairs(spark.read.parquet(os.path.join(out, "out")).collect())
    if twin == "span_index_stream":
        return span_docs(spark.read.parquet(os.path.join(out, "out")).collect())
    from degdb_spark.streaming.wordhist import merged_histogram

    return word_counts(merged_histogram(spark, os.path.join(out, "index")).collect())


def run_twin(ctx, twin: str, src: str, schema, out: str) -> tuple[float, list]:
    """Stream every batch file through one twin: (wall_s, progress)."""
    t0 = time.perf_counter()
    with ctx.tracer.span(f"streaming.{twin}", op=out):
        q = start_twin(ctx.spark, twin, src, schema, out)
        q.awaitTermination()
    wall = time.perf_counter() - t0
    if q.exception() is not None:
        raise RuntimeError(str(q.exception()))
    return wall, [p for p in q.recentProgress if p["numInputRows"] > 0]


def inputs(ctx) -> dict:
    """The seeded batch files and the reference results, made before the
    session starts."""
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_schema

    docs_path = os.path.join(ctx.data_dir, "documents.parquet")
    docs = pq.read_table(docs_path)
    src = os.path.join(ctx.run_dir, "stream_src")
    write_batches(docs, batch_bounds(docs.num_rows, ctx.seed), src)
    warm_src = os.path.join(ctx.run_dir, "warm_src")
    warm = pq.read_table(os.path.join(ctx.warm_dir, "documents.parquet"))
    write_batches(warm, batch_bounds(warm.num_rows, ctx.seed, 1), warm_src)
    key = f"{source_digest(ROOT)}-{os.path.basename(ctx.data_dir)}"
    want = expected(docs_path, os.path.join(ctx.oracle_dir, f"stream-{key}.pkl"),
                    ctx.warehouse)
    return {"src": src, "warm_src": warm_src, "schema": from_arrow_schema(docs.schema),
            "want": want, "n_docs": docs.num_rows, "src_bytes": dir_bytes(src)}


def prepare(ctx, workload: str) -> dict:
    state = dict(ctx.inputs, setup_ops=0, setup_errors=[])
    with ctx.setup_phase("warmup_s"):
        for twin in TWINS:
            q = start_twin(ctx.spark, twin, state["warm_src"], state["schema"],
                           os.path.join(ctx.run_dir, "warm", twin))
            q.awaitTermination()
    return state


def measure(ctx, state: dict) -> dict:
    walls, batch_ms, errors = [], [], []
    per_twin = {t: {"trigger_ms": [], "add_batch_ms": [], "planning_ms": [],
                    "commit_ms": [], "jobs": 0, "batches": 0} for t in TWINS}
    index_bytes, attempted, p = 0, 0, 0
    start = time.perf_counter()
    while more_units(time.perf_counter() - start, p, ctx.seconds):
        for twin in TWINS:
            out = os.path.join(ctx.run_dir, ctx.phase, f"p{p}", twin)
            jobs0 = ctx.total_jobs()
            label = f"{twin} (pass {p})"
            try:
                wall, progress = run_twin(ctx, twin, state["src"], state["schema"], out)
            except Exception as e:  # counted, never retried
                n, errs = twin_outcome(label, 0, f"{type(e).__name__}: {e}")
                attempted += n
                errors += errs
                continue
            # ---- untimed from here
            jobs = ctx.total_jobs() - jobs0
            walls.append(wall)
            t = per_twin[twin]
            t["jobs"] += jobs
            t["batches"] += len(progress)
            for pr in progress:
                d = pr["durationMs"]
                batch_ms.append(d["triggerExecution"])
                t["trigger_ms"].append(d["triggerExecution"])
                t["add_batch_ms"].append(d.get("addBatch", 0))
                t["planning_ms"].append(d.get("queryPlanning", 0))
                t["commit_ms"].append(d.get("commitOffsets", 0))
            err = None
            if len(progress) == N_BATCHES:
                err = check(read_output(ctx.spark, twin, out), state["want"][twin])
            n, errs = twin_outcome(label, len(progress), err)
            attempted += n
            errors += errs
            index_bytes += dir_bytes(os.path.join(out, "index"))
            shutil.rmtree(out, ignore_errors=True)
            ctx.canary()
        p += 1

    docs_per_s = len(walls) * state["n_docs"] / sum(walls)
    for name, t in per_twin.items():
        for m in ("trigger_ms", "add_batch_ms", "planning_ms", "commit_ms"):
            ctx.layer_set(f"streaming.{name}.{m}", percentile(t[m], 50))
        ctx.layer_set(f"streaming.{name}.jobs_per_batch", t["jobs"] / max(1, t["batches"]))
    ctx.layer_set("streaming.index_bytes_per_input_byte",
                  index_bytes / (p * state["src_bytes"]))
    ctx.layer_set("docs_per_s", docs_per_s)
    ctx.layer_set("batch_p50_ms", percentile(batch_ms, 50))
    ctx.layer_set("batch_p90_ms", percentile(batch_ms, 90))
    if ctx.tracer.enabled:
        ctx.persistence_layers(1.0 / max(1, len(batch_ms)))
    ctx.detail["batch_ms"] = summary(batch_ms)
    ctx.detail["twin_wall_s"] = walls
    return {"attempted": attempted, "errors": errors, "ops_per_s": docs_per_s,
            "op_p50_ms": percentile(batch_ms, 50)}


if __name__ == "__main__":
    write_expected(*sys.argv[1:4])
