"""Tests of the benchmark's own machinery; no SparkSession needed.

Run with: python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import run  # noqa: E402
import spans  # noqa: E402
import workloads  # noqa: E402


@pytest.mark.parametrize("workload", sorted(workloads.OP_LISTS))
def test_same_seed_same_operations(workload):
    make = workloads.OP_LISTS[workload]
    assert make(7) == make(7)


def test_seed_changes_lake_operations():
    assert workloads.lake_ops(7) != workloads.lake_ops(8)


def test_same_seed_same_inputs():
    import corpus

    a, b = corpus.star_tables(7), corpus.star_tables(7)
    assert all(a[t].equals(b[t]) for t in a)
    assert not corpus.lake_lineitem(7, 1000).equals(corpus.lake_lineitem(8, 1000))


def test_upserts_touch_only_appended_rows():
    """Upserts pick ids of rows an earlier append wrote, and each write
    runs on both copies, so the plain merge, the snapshot update and the
    DuckDB replay agree on every row."""
    ops = workloads.lake_ops(3)
    appended = set()
    for op in ops:
        if op[0] == "append":
            assert op[3] == workloads.LAKE_ROWS + op[2] * (workloads.LAKE_BATCH + workloads.LAKE_FRESH)
            appended.update(range(op[3], op[3] + workloads.LAKE_BATCH))
        elif op[0] == "upsert":
            assert set(op[3]) <= appended
    writes = [op for op in ops if op[0] != "sql"]
    assert [op[1] for op in writes[:2]] == ["plain", "snap"]
    assert writes[0][0] == writes[1][0] and writes[0][2:] == writes[1][2:]


def test_every_class_appears_early():
    ops = workloads.lake_ops(1)
    classes = [workloads.op_class("lake_mixed", op) for op in ops[:16]]
    assert set(classes) == set(workloads.LAKE_CLASSES)


class _Offline(workloads.LakeMixed):
    """LakeMixed's DuckDB oracle over its generated table, without Spark."""

    def __init__(self, seed: int) -> None:  # no session, no set-up
        import corpus

        self.seed = seed
        self.table = corpus.lake_lineitem(seed, workloads.LAKE_ROWS)
        self.batches = {}

    def final_state(self):
        return self.final


def test_dropped_row_counts_as_failed():
    wl = _Offline(seed=5)
    ops = workloads.lake_ops(5)[:40]
    want = wl.expected(ops)
    sql = next(i for i, op in enumerate(ops) if op[0] == "sql" and len(want[i]) > 1)
    records = [
        {"i": i, "op": op, "cls": workloads.op_class("lake_mixed", op), "latency": 0.1 + i,
         "result": None if w is None else list(w), "error": None}
        for i, (op, w) in enumerate(zip(ops, want))
    ]
    records[sql]["result"] = records[sql]["result"][1:]  # drop one row
    run.check(wl, records)
    summary = run.summarize(records)
    assert summary["failed"] == 1
    assert summary["failed_op_frac"] == pytest.approx(1 / len(ops))
    assert not records[sql]["ok"]


def test_error_counts_as_failed():
    records = [
        {"cls": "a", "latency": 1.0, "ok": True},
        {"cls": "a", "latency": 2.0, "ok": False},
    ]
    assert run.summarize(records)["failed_op_frac"] == 0.5


def test_spans_nest_with_sane_self_time():
    tracer = spans.Tracer()
    tracer.enabled = True

    def leaf():
        return sum(range(1000))

    wrapped_leaf = spans._wrap(leaf, tracer, "leaf")

    def mid():
        wrapped_leaf()
        wrapped_leaf()
        return [1, 2]

    wrapped_mid = spans._wrap(mid, tracer, "mid", spans._kept)
    tracer.op = 0
    with tracer.span("op"):
        wrapped_mid()
    tracer.op = 1
    with tracer.span("op"):
        wrapped_leaf()

    by_id = {s.id: s for s in tracer.spans}
    selfs = tracer.self_times()
    assert [s.name for s in tracer.spans] == ["op", "mid", "leaf", "leaf", "op", "leaf"]
    for s in tracer.spans:
        assert 0.0 <= selfs[s.id] <= s.duration
        if s.parent is not None:
            p = by_id[s.parent]
            assert p.start <= s.start <= s.end <= p.end
            assert p.op == s.op
    assert tracer.spans[1].attrs == {"kept": ["1", "2"]}
    assert tracer.totals("leaf", {0})[1] == 2


def test_disabled_tracer_records_nothing():
    tracer = spans.Tracer()
    f = spans._wrap(lambda: 3, tracer, "f")
    assert f() == 3
    assert tracer.spans == []


def test_covered_seconds_merges_overlaps():
    assert spans.covered_seconds([(0, 2), (1, 3), (5, 6)]) == 4
    assert spans.covered_seconds([]) == 0


def test_benchmark_json_matches_the_metrics_printed():
    import json

    import layers

    root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == {
        k: unit for k, (unit, _, _) in layers.LAYER_MAP.items()
    }
    assert sorted(w["name"] for w in spec["workloads"]) == sorted(workloads.OP_LISTS)
