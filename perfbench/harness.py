"""Measurement plumbing shared by the workloads.

Everything here observes the engine from outside: spans are recorded by
the benchmark around its own calls into the engine's public functions,
py4j round trips are counted by wrapping py4j's client class, pins are
counted by wrapping ``degdb_spark.persistence`` before the query modules
import it, and job/stage figures are read from Spark's own status store.
"""

from __future__ import annotations

import contextlib
import hashlib
import math
import os
import signal
import subprocess
import threading
import time

# --------------------------------------------------------------- statistics


def percentile(values, q: float) -> float:
    """Linear-interpolated percentile ``q`` in [0, 100] (numpy's default
    method), NaN for an empty sample."""
    xs = sorted(values)
    if not xs:
        return math.nan
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def supported_percentile(n: int, beyond: int = 10) -> int | None:
    """The highest of p50/p90/p99/p99.9 with at least ``beyond`` samples
    above it in a sample of ``n``, or None when not even p50 is."""
    best = None
    for q in (50, 90, 99, 99.9):
        if round(n * (100 - q) / 100, 9) >= beyond:
            best = q
    return best


def more_units(elapsed: float, done: int, seconds: float) -> bool:
    """Whether a run that has measured ``done`` whole units in ``elapsed``
    seconds starts another: always the first, then only while ending
    after one more unit of the mean length so far lands nearer to
    ``seconds`` than stopping now. Runs measure whole units (a pass, a
    cycle) so every run holds the same mix."""
    if done == 0:
        return True
    return elapsed + elapsed / done / 2 < seconds


def summary(values) -> dict:
    """Median, the highest supported tail percentile, and the count."""
    out = {"n": len(values), "p50": percentile(values, 50)}
    q = supported_percentile(len(values))
    if q is not None and q > 50:
        out[f"p{q:g}"] = percentile(values, q)
    return out


# ------------------------------------------------------------------ tracing


class Tracer:
    """In-memory spans: (name, start, end, parent index, op id). When
    disabled, ``span`` costs one attribute test and records nothing.

    One stack serves every thread: the workloads are closed loops with one
    operation in flight, so a span opened on a server or streaming
    callback thread nests under the span the waiting caller holds open."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, op: str | None = None):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        if op is None and parent is not None:  # a child shares its operation id
            op = self.spans[parent]["op"]
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": parent, "op": op}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()


def union_length(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[dict]) -> list[float]:
    """Each span's duration minus the part of it its children cover."""
    children: dict[int, list] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return [
        (s["end"] - s["start"]) - union_length(children.get(i, []))
        for i, s in enumerate(spans)
    ]


def self_time_by_name(spans: list[dict]) -> dict[str, float]:
    out: dict[str, float] = {}
    for s, t in zip(spans, self_times(spans)):
        out[s["name"]] = out.get(s["name"], 0.0) + t
    return out


# ------------------------------------------------------------------ counters


class Py4jCounter:
    """Counts py4j round trips by wrapping the client's send_command."""

    def __init__(self):
        self.calls = 0
        self._orig = None

    def install(self) -> None:
        from py4j.java_gateway import GatewayClient

        orig = GatewayClient.send_command
        counter = self

        def send_command(self, *args, **kwargs):
            counter.calls += 1
            return orig(self, *args, **kwargs)

        self._orig = orig
        GatewayClient.send_command = send_command

    def uninstall(self) -> None:
        if self._orig is not None:
            from py4j.java_gateway import GatewayClient

            GatewayClient.send_command = self._orig
            self._orig = None


class PersistenceCounter:
    """Counts and times ``degdb_spark.persistence``'s public pins while
    ``active``. Must be installed before any module does
    ``from ... import pin``; while inactive a wrapped call costs one
    attribute test on top of the pin itself."""

    NAMES = ("pin", "pin_partitioned", "lineage_cut")

    def __init__(self):
        self.calls = {n: 0 for n in self.NAMES}
        self.seconds = {n: 0.0 for n in self.NAMES}
        self.active = False
        self.tracer = Tracer(False)

    def install(self) -> None:
        from degdb_spark import persistence

        for name in self.NAMES:
            setattr(persistence, name, self._wrap(name, getattr(persistence, name)))

    def _wrap(self, name, fn):
        def wrapped(*args, **kwargs):
            if not self.active:
                return fn(*args, **kwargs)
            t0 = time.perf_counter()
            try:
                with self.tracer.span(f"persistence.{name}"):
                    return fn(*args, **kwargs)
            finally:
                self.calls[name] += 1
                self.seconds[name] += time.perf_counter() - t0

        wrapped.__name__ = fn.__name__
        wrapped.__doc__ = fn.__doc__
        return wrapped


STAGE_FIELDS = ("executorRunTime", "executorCpuTime", "shuffleReadBytes",
                "shuffleWriteBytes", "inputBytes", "memoryBytesSpilled",
                "diskBytesSpilled")


def group_metrics(spark, group: str) -> dict:
    """Jobs, stages and stage metrics of one job group, read from the
    status tracker and the status store (no UI or event log needed)."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    jobs = list(sc.statusTracker().getJobIdsForGroup(group))
    stage_ids = set()
    for j in jobs:
        info = sc.statusTracker().getJobInfo(j)
        if info is not None:
            stage_ids.update(info.stageIds)
    out = {"jobs": len(jobs), "stages": 0, "stages_skipped": 0, "tasks": 0,
           "intervals": []}
    out.update({f: 0 for f in STAGE_FIELDS})
    for sid in stage_ids:
        try:
            st = store.lastStageAttempt(sid)
        except Exception:  # never ran and never recorded: skipped
            out["stages_skipped"] += 1
            continue
        if st.status().toString() == "SKIPPED":
            out["stages_skipped"] += 1
            continue
        out["stages"] += 1
        out["tasks"] += st.numTasks()
        for f in STAGE_FIELDS:
            out[f] += getattr(st, f)()
        sub, done = st.submissionTime(), st.completionTime()
        if sub.isDefined() and done.isDefined():
            out["intervals"].append(
                (sub.get().getTime() / 1000.0, done.get().getTime() / 1000.0)
            )
    return out


# -------------------------------------------------------------------- memory


def _children(pid: int) -> list[int]:
    out = []
    for task in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{task}/children") as f:
                out.extend(int(c) for c in f.read().split())
        except OSError:
            pass
    return out


def tree_rss_mb(root: int) -> float:
    """Resident memory of a process and all its descendants, in MB."""
    total, stack = 0, [root]
    while stack:
        pid = stack.pop()
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1])
            stack.extend(_children(pid))
        except (OSError, ValueError, IndexError):
            continue
    return total * os.sysconf("SC_PAGE_SIZE") / 1e6


def host_cpu() -> dict:
    """The host's cumulative CPU jiffies by state, from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:9]]
    return dict(zip(("user", "nice", "system", "idle", "iowait", "irq",
                     "softirq", "steal"), vals))


class RssSampler:
    """Samples the benchmark process tree's RSS (driver JVM and Python
    workers included) on a background thread; keeps the peak."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb(os.getpid()))
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak_mb = max(self.peak_mb, tree_rss_mb(os.getpid()))


# ---------------------------------------------------------------- processes

PR_SET_CHILD_SUBREAPER = 36


def adopt_orphans() -> None:
    """Make this process the parent of any descendant whose own parent
    ends first (Linux), so the Python workers of a stopped JVM and the
    JVM of an ended helper process stay within ``stop_descendants``."""
    import ctypes

    try:
        ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass


def descendants(root: int) -> list[int]:
    """Every live process below ``root``, children before grandchildren."""
    out, queue = [], [root]
    while queue:
        pid = queue.pop(0)
        try:
            kids = _children(pid)
        except OSError:  # ended meanwhile
            continue
        out.extend(kids)
        queue.extend(kids)
    return out


def _reap() -> None:
    """Collect the exit status of every ended child, without waiting."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def stop_descendants(grace: float = 20.0) -> list[int]:
    """End every process this one started, directly or not, and wait
    until each has ended: SIGTERM first, SIGKILL to those still there
    after ``grace`` seconds. Returns the pids that had to be signalled."""
    me = os.getpid()
    deadline = time.monotonic() + grace
    sent: dict[int, int] = {}
    while True:
        _reap()
        pids = descendants(me)
        if not pids or time.monotonic() > deadline + grace:
            return sorted(sent)
        sig = signal.SIGKILL if time.monotonic() > deadline else signal.SIGTERM
        for pid in pids:
            if sent.get(pid) != sig:
                with contextlib.suppress(ProcessLookupError):
                    os.kill(pid, sig)
                sent[pid] = sig
        time.sleep(0.05)


def stop_spark(spark, timeout: float = 60.0) -> None:
    """Stop the session, then its JVM, and wait until the JVM has ended.
    The JVM exits when its stdin closes, which would otherwise happen
    only as this process ends, after the benchmark could wait for it."""
    from pyspark import SparkContext

    spark.stop()
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is None:
        return
    with contextlib.suppress(OSError):
        proc.stdin.close()
    try:
        proc.wait(timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


# ------------------------------------------------------------------- canary


class Canary:
    """A fixed cheap Spark job, run between operations so a stall of the
    host shows in the run record wherever it happens."""

    def __init__(self, spark):
        self.spark = spark
        self.trace: list[tuple[float, float]] = []
        self.t0 = time.perf_counter()

    def __call__(self) -> None:
        sc = self.spark.sparkContext
        sc.setJobGroup("canary", "canary")
        t = time.perf_counter()
        self.spark.range(0, 1_000_000, 1, 4).selectExpr("sum(id % 7)").collect()
        self.trace.append((round(t - self.t0, 3), round(time.perf_counter() - t, 4)))

    def summary(self) -> dict:
        ms = [d * 1000 for _, d in self.trace]
        return {"n": len(ms), "p50_ms": percentile(ms, 50),
                "max_ms": max(ms) if ms else math.nan}


# --------------------------------------------------------------- provenance


def source_digest(root: str) -> str:
    """Hash of the engine's source tree; identifies the code measured
    when the checkout carries no git metadata."""
    h = hashlib.sha256()
    pkg = os.path.join(root, "degdb_spark")
    for d, dirs, files in sorted(os.walk(pkg)):
        dirs.sort()
        for f in sorted(files):
            if f.endswith((".py", ".html")):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, root).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def commit_id(root: str) -> str:
    head = os.path.join(root, ".git", "HEAD")
    try:
        with open(head) as f:
            ref = f.read().strip()
        if ref.startswith("ref: "):
            with open(os.path.join(root, ".git", ref[5:])) as f:
                return f.read().strip()
        return ref
    except OSError:
        return "tree:" + source_digest(root)
