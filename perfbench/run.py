#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --workload all      # every workload, one table

Run from the root of a checkout. One run sets up a fresh Spark session on
``local[nproc]``, prepares the workload's inputs from ``--seed``, runs an
untimed warm-up, measures for ``--seconds`` and checks every result.
Human-readable lines come first; the last stdout line is one JSON object
with ``correct``, ``attempted``, ``failed`` and ``metrics``. With
``--trace 0`` the metrics are the end-to-end metrics; with ``--trace 1``
they are the per-layer metrics of a traced measurement, which sits
between two untraced ones so the tracing overhead of each timed metric is
reported too. In such a run the persistence wrappers stay in place for
all three measurements, but count and time only in the traced one;
outside it they add one attribute test per pin. A run
record (canary trace, host load and CPU steal, code id, per-operation
detail and, when traced, the spans and their self times) is written under
``perfbench/.work/records/``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)

WORKLOADS = ["graph_iterative", "triplestore_serving", "stream_ingest"]

#: name -> unit, printed for every workload with --trace 0. Peak memory is
#: reported too, but as a per-layer figure: the driver JVM's heap grows with
#: GC timing, so its peak moves by a third between runs of the same code
#: on a shared 4-core host.
END_TO_END = {
    "setup_s": "s",
    "ops_per_s": "1/s",
    "op_p50_ms": "ms",
}
#: The end-to-end metrics of the timed measurement (all but set-up).
MEASURED = ("ops_per_s", "op_p50_ms")


def per_layer_names() -> dict[str, str]:
    """name -> unit of every metric printed with --trace 1."""
    from analytics import all_queries
    from streaming import TWINS

    units = {
        "peak_rss_mb": "MB",
        "session.start_s": "s", "catalog.register_s": "s", "store.load_s": "s",
        "warmup_s": "s",
        "queries.construct_s": "s", "queries.construct_self_s": "s",
        "queries.construct_py4j_calls": "count",
        "spark.jobs": "count", "spark.stages": "count",
        "spark.stages_skipped": "count", "spark.tasks": "count",
        "spark.stage_wall_s": "s", "spark.executor_run_s": "s",
        "spark.executor_cpu_s": "s", "spark.shuffle_read_mb": "MB",
        "spark.shuffle_write_mb": "MB", "spark.input_mb": "MB",
        "spark.spill_mb": "MB", "driver_gap_s": "s",
        "persistence.pin_calls": "count", "persistence.pin_s": "s",
        "persistence.lineage_cut_calls": "count",
        "persistence.lineage_cut_s": "s",
    }
    for q in all_queries():
        units[f"query.{q}.wall_s"] = "s"
        units[f"query.{q}.jobs"] = "count"
    units.update({
        "api.query_json_ms": "ms", "api.query_steps_ms": "ms",
        "api.insert_json_ms": "ms", "triplestore.insert_ms": "ms",
        "server.overhead_ms": "ms",
        "spark.jobs_per_read": "count", "spark.jobs_per_write": "count",
        "py4j_calls_per_read": "count", "py4j_calls_per_write": "count",
    })
    for t in TWINS:
        for m in ("trigger_ms", "add_batch_ms", "planning_ms", "commit_ms"):
            units[f"streaming.{t}.{m}"] = "ms"
        units[f"streaming.{t}.jobs_per_batch"] = "count"
    units["streaming.index_bytes_per_input_byte"] = "ratio"
    units.update({
        "pass_s": "s", "read_p50_ms": "ms", "read_p90_ms": "ms",
        "path_p50_ms": "ms", "write_p50_ms": "ms", "write_p90_ms": "ms",
        "docs_per_s": "1/s", "batch_p50_ms": "ms", "batch_p90_ms": "ms",
    })
    # Set-up runs once per process, untraced, so it has no traced twin to
    # compare with; the overhead covers the measured metrics only.
    for m in MEASURED:
        units[f"overhead.{m}"] = END_TO_END[m]
    return units


class Context:
    """One run's session, directories, tracer, counters and layer figures."""

    def __init__(self, args):
        from harness import PersistenceCounter, Py4jCounter, Tracer

        self.seed, self.seconds, self.trace = args.seed, args.seconds, args.trace
        self.workload = args.workload
        self.run_dir = os.path.join(WORK, "runs", f"{args.workload}-{os.getpid()}")
        shutil.rmtree(self.run_dir, ignore_errors=True)
        for d in ("local", "tmp", "warehouse"):
            os.makedirs(os.path.join(self.run_dir, d))
        self.oracle_dir = os.path.join(WORK, "oracle")
        self.tracer = Tracer(False)
        self.py4j = Py4jCounter()
        self.persistence = PersistenceCounter()
        self.layers: dict[str, float] = {}
        self.detail: dict = {}
        self.setup: dict[str, float] = {}
        self.prep_s = 0.0
        self.phase = "untraced"
        self.spark = None

    # -------------------------------------------------------------- setup
    @contextlib.contextmanager
    def prep_phase(self):
        """Preparing the benchmark's own inputs (data, oracle results):
        not part of the program's set-up time."""
        t = time.perf_counter()
        yield
        self.prep_s += time.perf_counter() - t

    @contextlib.contextmanager
    def setup_phase(self, name: str):
        t = time.perf_counter()
        yield
        self.setup[name] = self.setup.get(name, 0.0) + time.perf_counter() - t

    def start(self, mod) -> None:
        """Generate the inputs, then start the session. A workload's
        ``inputs(ctx)``, when it has one, prepares the rest of its inputs
        and reference results before the session exists, so none of that
        work warms the measured JVM."""
        import datagen

        from analytics import SCALE

        # The only settings the benchmark makes: parallelism and where
        # the program may write. Everything else is the program's default.
        cpus = str(os.cpu_count())
        os.environ["SPARK_GRAFT_CPUS"] = cpus
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.run_dir, "local")
        os.environ["TMPDIR"] = os.path.join(self.run_dir, "tmp")
        os.environ["JAVA_TOOL_OPTIONS"] = "-Djava.io.tmpdir=" + os.environ["TMPDIR"]
        self.warehouse = os.path.join(self.run_dir, "warehouse")
        with self.prep_phase():
            sf = SCALE if self.workload == "graph_iterative" else 0.1
            self.data_dir = datagen.ensure(os.path.join(WORK, "data"), sf)
            self.warm_dir = datagen.ensure(os.path.join(WORK, "data"), 0.001)
            self.inputs = mod.inputs(self) if hasattr(mod, "inputs") else {}
        if self.trace:
            # before any query module does `from degdb_spark.persistence import pin`
            self.persistence.install()
        with self.setup_phase("session.start_s"):
            from degdb_spark.session import get_spark

            self.spark = get_spark(
                app_name=f"perfbench-{self.workload}",
                extra_conf={"spark.sql.warehouse.dir": self.warehouse},
            )
        if self.workload == "graph_iterative":
            with self.setup_phase("catalog.register_s"):
                from degdb_spark import catalog
                from degdb_spark.queries import registry

                self.registry = registry()
                catalog.register_all(self.spark, self.data_dir)
        from harness import Canary

        self.canary = Canary(self.spark)
        self.canary()

    def setup_s(self) -> float:
        return self.t_setup_done - T_START - self.prep_s

    # ------------------------------------------------------------- layers
    def layer_add(self, name: str, value: float) -> None:
        self.layers[name] = self.layers.get(name, 0.0) + value

    def layer_set(self, name: str, value: float) -> None:
        self.layers[name] = value

    def scale_layers(self, k: float) -> None:
        for name in self.layers:
            self.layers[name] *= k

    def layer_add_spark(self, m: dict, wall: float) -> None:
        from harness import union_length

        stage_wall = union_length(m["intervals"])
        for key in ("jobs", "stages", "stages_skipped", "tasks"):
            self.layer_add(f"spark.{key}", m[key])
        self.layer_add("spark.stage_wall_s", stage_wall)
        self.layer_add("spark.executor_run_s", m["executorRunTime"] / 1e3)
        self.layer_add("spark.executor_cpu_s", m["executorCpuTime"] / 1e9)
        self.layer_add("spark.shuffle_read_mb", m["shuffleReadBytes"] / 1e6)
        self.layer_add("spark.shuffle_write_mb", m["shuffleWriteBytes"] / 1e6)
        self.layer_add("spark.input_mb", m["inputBytes"] / 1e6)
        self.layer_add("spark.spill_mb",
                       (m["memoryBytesSpilled"] + m["diskBytesSpilled"]) / 1e6)
        self.layer_add("driver_gap_s", max(0.0, wall - stage_wall))

    def total_jobs(self) -> int:
        return self.spark.sparkContext._jsc.sc().dagScheduler().numTotalJobs()

    def begin_traced_phase(self) -> None:
        from harness import Tracer

        self.phase = "traced"
        self.layers = {}
        self.tracer = Tracer(True)
        self.persistence.tracer = self.tracer
        self.persistence.active = True
        self.py4j.install()

    def persistence_layers(self, k: float) -> None:
        """Pins and lineage cuts of the traced phase, times ``k`` (the
        workload's normalisation: per pass, per write, per batch). The
        counter counts nothing outside that phase."""
        c, t = self.persistence.calls, self.persistence.seconds
        for name, parts in (("pin", ("pin", "pin_partitioned")),
                            ("lineage_cut", ("lineage_cut",))):
            self.layers[f"persistence.{name}_calls"] = k * sum(c[p] for p in parts)
            self.layers[f"persistence.{name}_s"] = k * sum(t[p] for p in parts)

    def finish_traced_phase(self) -> None:
        from harness import Tracer

        self.py4j.uninstall()
        self.persistence.active = False
        self.spans = self.tracer.spans
        self.tracer = self.persistence.tracer = Tracer(False)
        self.layers.update(self.setup)


def host_state() -> dict:
    from harness import host_cpu

    with open("/proc/loadavg") as f:
        load = f.read().split()[:3]
    return {"nproc": os.cpu_count(), "loadavg": [float(x) for x in load],
            "cpu_jiffies": host_cpu()}


def run_one(args) -> int:
    from harness import RssSampler, commit_id, self_time_by_name, stop_spark

    if not os.path.isdir(os.path.join(ROOT, "degdb_spark")):
        print(f"perfbench: no degdb_spark package under {ROOT}; run from the "
              "root of a degdb_spark checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    if args.workload == "graph_iterative":
        import analytics as mod
    elif args.workload == "triplestore_serving":
        import serving as mod
    else:
        import streaming as mod

    ctx, state = Context(args), None
    record = {"workload": args.workload, "seed": args.seed,
              "seconds": args.seconds, "trace": args.trace,
              "commit": commit_id(ROOT), "host_start": host_state()}
    try:
        with RssSampler() as rss:
            ctx.start(mod)
            state = mod.prepare(ctx, args.workload)
            ctx.t_setup_done = time.perf_counter()
            res = mod.measure(ctx, state)
            e2e = {"setup_s": ctx.setup_s(), "ops_per_s": res["ops_per_s"],
                   "op_p50_ms": res["op_p50_ms"]}
            peak_rss_mb = rss.peak_mb
            # checked warm-up operations count once, beside the timed ones
            attempted = state["setup_ops"] + res["attempted"]
            errors = state["setup_errors"] + res["errors"]
            if args.trace:
                # untraced, traced, untraced again: the overhead is the
                # traced figure against the mean of the two around it, so
                # the warm-up drift between measurements cancels.
                ctx.begin_traced_phase()
                tres = mod.measure(ctx, state)
                ctx.finish_traced_phase()
                layers = dict(ctx.layers)
                ctx.phase = "after"
                ares = mod.measure(ctx, state)
                ctx.layers = layers
                for r in (tres, ares):
                    attempted += r["attempted"]
                    errors += r["errors"]
                overhead = {m: tres[m] - (res[m] + ares[m]) / 2 for m in MEASURED}
    finally:
        if state is not None and hasattr(mod, "close"):
            mod.close(state)
        if ctx.spark is not None:
            stop_spark(ctx.spark)
        shutil.rmtree(ctx.run_dir, ignore_errors=True)

    record.update({"host_end": host_state(), "setup": ctx.setup,
                   "canary": ctx.canary.summary(), "canary_trace": ctx.canary.trace,
                   "detail": ctx.detail, "errors": errors, "end_to_end": e2e,
                   "peak_rss_mb": peak_rss_mb})
    if args.trace:
        ctx.layers["peak_rss_mb"] = peak_rss_mb
        ctx.layers.update({f"overhead.{m}": v for m, v in overhead.items()})
        metrics = {name: {"value": ctx.layers.get(name, 0.0), "unit": unit}
                   for name, unit in per_layer_names().items()}
        record["per_layer"] = {k: v["value"] for k, v in metrics.items()}
        record["spans"] = ctx.spans
        record["self_time_s"] = self_time_by_name(ctx.spans)
    else:
        metrics = {name: {"value": e2e[name], "unit": unit}
                   for name, unit in END_TO_END.items()}

    os.makedirs(os.path.join(WORK, "records"), exist_ok=True)
    rec_path = os.path.join(
        WORK, "records",
        f"{args.workload}-s{args.seed}-t{args.trace}-{int(time.time())}.json")
    with open(rec_path, "w") as f:
        json.dump(record, f, indent=1, default=str)

    for name, m in metrics.items():
        print(f"{args.workload:20s} {name:40s} {m['value']:14.4f} {m['unit']}")
    c = record["canary"]
    a, b = record["host_start"]["cpu_jiffies"], record["host_end"]["cpu_jiffies"]
    steal = (b["steal"] - a["steal"]) / max(1, sum(b.values()) - sum(a.values()))
    print(f"{args.workload:20s} peak_rss_mb {peak_rss_mb:.1f} MB")
    print(f"{args.workload:20s} canary n={c['n']} p50={c['p50_ms']:.1f}ms "
          f"max={c['max_ms']:.1f}ms nproc={os.cpu_count()} steal={steal:.1%} "
          f"load={record['host_end']['loadavg']} commit={record['commit']}")
    if "time_share" in ctx.detail:
        share = " ".join(f"{k}={v:.0%}" for k, v in ctx.detail["time_share"].items())
        print(f"{args.workload:20s} share of timed wall time: {share}")
    for e in errors:
        print(f"{args.workload:20s} FAILED {e}")
    print(f"{args.workload:20s} error_rate {len(errors) / attempted:.4f} "
          f"({len(errors)}/{attempted}) record={os.path.relpath(rec_path, ROOT)}")
    bad = [k for k, m in metrics.items()
           if not isinstance(m["value"], (int, float)) or math.isnan(m["value"])]
    if bad:
        errors.append(f"unmeasured metrics {bad}")
    print(json.dumps({"correct": not errors, "attempted": attempted,
                      "failed": len(errors), "metrics": metrics}))
    return 0


def run_all(args) -> int:
    """Every workload in its own process; non-zero exit on any wrong result."""
    ok = True
    for w in WORKLOADS:
        out = subprocess.run(
            [sys.executable, __file__, "--workload", w, "--seed", str(args.seed),
             "--seconds", str(args.seconds), "--trace", str(args.trace)],
            capture_output=True, text=True, cwd=ROOT)
        lines = out.stdout.strip().splitlines()
        for line in lines[:-1]:
            print(line)
        try:
            ok &= out.returncode == 0 and json.loads(lines[-1])["correct"]
        except (IndexError, ValueError, KeyError):
            print(f"{w}: no result (exit {out.returncode})\n{out.stderr[-2000:]}")
            ok = False
    return 0 if ok else 1


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    from harness import adopt_orphans, stop_descendants

    # Every process a run starts (the JVM, its Python workers, a helper
    # process and its JVM) has ended before the run's result counts.
    adopt_orphans()
    try:
        return run_all(args) if args.workload == "all" else run_one(args)
    finally:
        left = stop_descendants()
        if left:
            print(f"perfbench: stopped {len(left)} leftover process(es)",
                  file=sys.stderr)


if __name__ == "__main__":
    sys.exit(main())
