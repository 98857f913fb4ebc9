"""The benchmark's own tests: statistics, self time, and that every
correctness check registers a deliberately wrong result.

    python3 -m pytest perfbench -q

None of them start Spark.
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import analytics  # noqa: E402
import datagen  # noqa: E402
import harness  # noqa: E402
import run  # noqa: E402
import serving  # noqa: E402
import streaming  # noqa: E402


# --------------------------------------------------------------- statistics


@pytest.mark.parametrize("q", [0, 10, 50, 90, 99, 100])
def test_percentile_matches_numpy(q):
    xs = list(np.random.default_rng(3).exponential(size=37))
    assert harness.percentile(xs, q) == pytest.approx(np.percentile(xs, q))


def test_percentile_of_nothing_is_nan():
    assert np.isnan(harness.percentile([], 50))


@pytest.mark.parametrize("n,want", [(5, None), (20, 50), (99, 50), (100, 90),
                                    (999, 90), (1000, 99), (10_000, 99.9)])
def test_supported_percentile_leaves_ten_samples_beyond(n, want):
    assert harness.supported_percentile(n) == want


@pytest.mark.parametrize("elapsed,done,more", [
    (0.0, 0, True), (50.0, 0, True),   # the first unit always runs
    (6.0, 1, True),                    # 12 s is nearer to 10 s than 6 s
    (7.0, 1, False),                   # 14 s is not
    (12.0, 2, False), (7.0, 2, True),
])
def test_more_units_ends_on_the_boundary_nearest_the_deadline(elapsed, done, more):
    assert harness.more_units(elapsed, done, 10.0) is more


def test_summary_reports_the_supported_tail_only():
    assert set(harness.summary(list(range(50)))) == {"n", "p50"}
    assert set(harness.summary(list(range(100)))) == {"n", "p50", "p90"}


# ---------------------------------------------------------------- self time


def span(name, start, end, parent=None):
    return {"name": name, "start": start, "end": end, "parent": parent, "op": None}


def test_self_time_subtracts_the_union_of_children():
    spans = [
        span("query", 0.0, 10.0),
        span("construct", 1.0, 3.0, parent=0),
        span("execute", 2.0, 5.0, parent=0),  # overlaps construct
        span("pin", 2.5, 3.5, parent=2),
        span("execute", 8.0, 9.0, parent=0),
    ]
    assert harness.self_times(spans) == pytest.approx([5.0, 2.0, 2.0, 1.0, 1.0])
    assert harness.self_time_by_name(spans) == pytest.approx(
        {"query": 5.0, "construct": 2.0, "execute": 3.0, "pin": 1.0})


def test_tracer_nests_and_records_nothing_when_disabled():
    tr = harness.Tracer(True)
    with tr.span("a", op="1"):
        with tr.span("b", op="1"):
            pass
        with tr.span("c"):
            pass
    assert [(s["name"], s["parent"], s["op"]) for s in tr.spans] == [
        ("a", None, "1"), ("b", 0, "1"), ("c", 0, "1")]
    off = harness.Tracer(False)
    with off.span("a"):
        pass
    assert off.spans == []


def test_union_length_merges_overlaps():
    assert harness.union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert harness.union_length([]) == 0


# -------------------------------------------------------------- correctness


def frame():
    return pd.DataFrame({"k": np.array([1, 2, 3], dtype="int64"),
                         "v": [0.5, 1.25, 2.0], "s": ["a", "b", "c"]})


def test_analytics_compare_accepts_equal_rows_in_any_order():
    assert analytics.compare(frame().iloc[::-1], frame()) is None


@pytest.mark.parametrize("break_it", [
    lambda df: df.assign(v=[0.5, 1.25, 2.5]),           # one wrong value
    lambda df: df.iloc[:2],                             # one row missing
    lambda df: df.assign(k=df["k"].astype("int32")),    # wrong dtype
    lambda df: df.rename(columns={"s": "t"}),           # wrong column
])
def test_analytics_compare_registers_a_wrong_row(break_it):
    assert analytics.compare(break_it(frame()), frame()) is not None


STORE = [("customer/1", "in_nation", "nation/3"), ("nation/3", "in_region", "region/0"),
         ("nation/3", "name", "NATION_3"), ("order/9", "by_customer", "customer/1")]


def rows(triples):
    return [{"subj": s, "pred": p, "obj": o, "created": "x"} for s, p, o in triples]


def test_serving_model_answers_patterns_and_paths():
    m = serving.Model(STORE)
    assert m.matches({"subj": "nation/3"}) == set(STORE[1:3])
    assert m.matches({"pred": "in_nation", "obj": "nation/3"}) == {STORE[0]}
    assert m.two_hop("order/9", "in_nation") == {STORE[0]}
    m.add([("customer/1", "tagged", "tag/1")])
    assert len(m.matches({"subj": "customer/1"})) == 2


def test_serving_check_accepts_exact_and_limited_replies():
    want = set(STORE[1:3])
    assert serving.check_read(rows(STORE[1:3]), want, -1) is None
    assert serving.check_read(rows(STORE[1:2]), want, 1) is None


@pytest.mark.parametrize("reply,limit", [
    (STORE[1:2], -1),                                   # a triple missing
    (STORE[1:3] + [("nation/3", "name", "WRONG")], -1),  # a wrong triple
    (STORE[1:2] * 2, 2),                                # a duplicate
    (STORE[1:3], 1),                                    # limit ignored
])
def test_serving_check_registers_a_wrong_row(reply, limit):
    assert serving.check_read(rows(reply), set(STORE[1:3]), limit) is not None


def test_serving_ops_are_seeded_and_cycles_hold_the_mix():
    m = serving.Model(STORE + [(f"order/{i}", "by_customer", "customer/1")
                               for i in range(100)])
    subjects = sorted(m.by_subj)
    a = serving.make_ops(m, subjects, 7, 2)
    assert a == serving.make_ops(m, subjects, 7, 2)
    assert a != serving.make_ops(m, subjects, 8, 2)
    n = serving.CYCLE_LEN
    assert len(a) == 2 * n
    for c in range(2):
        kinds = [op[0] for op in a[c * n:(c + 1) * n]]
        assert sorted(k for k in kinds if k != "insert") == sorted(
            serving.KIND.get(v, v) for v in serving.READ_MIX)
        assert [i for i, k in enumerate(kinds) if k == "insert"] == [5, 11, 17, 23]
    warm = serving.make_ops(m, subjects, 7, 1, serving.WARM_MIX, 2)
    assert [op[0] for op in warm].count("insert") == 4
    inserts = [op[1] for op in a if op[0] == "insert"]
    assert all(len(batch) == 100 for batch in inserts)
    assert all(any(t in m.triples for t in batch) for batch in inserts)


def test_streaming_check_registers_a_wrong_row():
    pairs = {(1, 2), (3, 4)}
    assert streaming.check(set(pairs), pairs) is None
    assert streaming.check({(1, 2), (3, 5)}, pairs)
    counts = {"a": 2, "b": 1}
    assert streaming.check(dict(counts), counts) is None
    assert streaming.check({"a": 2, "b": 2}, counts)
    docs = {0: (3, 3, "x y z"), 1: (2, 0, "")}
    assert streaming.check({0: (3, 3, "x y z"), 1: (2, 1, "q")}, docs)


def test_streaming_pass_that_ingests_nothing_fails_every_batch():
    n = streaming.N_BATCHES
    assert streaming.twin_outcome("t", n, None) == (n, [])
    for ran in (0, n - 1):
        attempted, errors = streaming.twin_outcome("t", ran, None)
        assert attempted == n and len(errors) == n
        assert errors[0] == f"t: {ran} of {n} batches ran"
    attempted, errors = streaming.twin_outcome("t", n + 1, None)
    assert attempted == len(errors) == n + 1
    attempted, errors = streaming.twin_outcome("t", n, "2 of 9 keys differ")
    assert attempted == len(errors) == n


def test_persistence_counter_counts_only_while_active(monkeypatch):
    from degdb_spark import persistence

    for name in harness.PersistenceCounter.NAMES:
        monkeypatch.setattr(persistence, name, lambda x, **kw: x)
    counter = harness.PersistenceCounter()
    counter.install()
    assert persistence.pin(1) == 1
    assert counter.calls["pin"] == 0
    counter.active = True
    assert persistence.pin(2) == 2 and persistence.lineage_cut(3) == 3
    assert counter.calls == {"pin": 1, "pin_partitioned": 0, "lineage_cut": 1}


def test_streaming_batches_are_contiguous_seeded_and_cover_everything():
    b = streaming.batch_bounds(5000, 3)
    assert b[0] == 0 and b[-1] == 5000 and len(b) == streaming.N_BATCHES + 1
    assert all(lo < hi for lo, hi in zip(b, b[1:]))
    assert b == streaming.batch_bounds(5000, 3) != streaming.batch_bounds(5000, 4)


# -------------------------------------------------------------------- inputs


def test_datagen_is_deterministic_and_shaped_like_the_test_data():
    a, b = datagen.tables(0.001, 42), datagen.tables(0.001, 42)
    assert all(a[n].equals(b[n]) for n in a)
    assert a["lineitem"].num_rows == 6000 and a["documents"].num_rows == 50
    assert str(a["lineitem"].schema.field("l_shipdate").type) == "timestamp[us]"
    assert str(a["embeddings"].schema.field("embedding").type) == "list<item: float>"
    assert not a["orders"].equals(datagen.tables(0.001, 43)["orders"])


def test_benchmark_json_names_what_the_runner_prints():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {w["name"] for w in spec["workloads"]} == set(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.per_layer_names()


def test_stop_descendants_ends_orphaned_grandchildren():
    import subprocess

    harness.adopt_orphans()
    out = subprocess.run(["bash", "-c", "sleep 600 >/dev/null 2>&1 & echo $!"],
                         capture_output=True, text=True, check=True)
    pid = int(out.stdout)
    assert pid in harness.descendants(os.getpid())
    assert pid in harness.stop_descendants(grace=5)
    assert not os.path.exists(f"/proc/{pid}")
    assert harness.descendants(os.getpid()) == []
