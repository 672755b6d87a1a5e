"""Tests for the benchmark's own percentile, self-time and hashing code.

    python3 -m pytest perfbench/ -q

No Spark session is started; the tracer runs against a stub context.
"""

from __future__ import annotations

import json
import math
import os
import statistics
import time

import pytest

from perfbench import run, spans, stats
from perfbench.oracle import Oracle, value_hash

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


# -- stats -------------------------------------------------------------------
def test_nearest_rank_matches_definition():
    xs = sorted(range(1, 101))
    assert stats.nearest_rank(xs, 50) == 50
    assert stats.nearest_rank(xs, 99) == 99
    assert stats.nearest_rank(xs, 99.9) == 100
    assert stats.nearest_rank([7.0], 50) == 7.0


def test_tail_keeps_ten_samples_beyond():
    assert stats.tail(list(range(19))) is None  # p50 leaves only 9 beyond
    t = stats.tail(list(range(20)))
    assert (t["pct"], t["beyond"], t["n"]) == (50.0, 10, 20)
    t = stats.tail([float(i) for i in range(1000)])
    assert t["pct"] == 99.0 and t["beyond"] == 10 and t["value"] == 989.0
    t = stats.tail([float(i) for i in range(10_000)])
    assert t["pct"] == 99.9 and t["beyond"] == 10


def test_tail_counts_failures_beyond_every_success():
    values = [1.0] * 20 + [math.inf] * 11
    t = stats.tail(values)
    assert t["pct"] == 50.0 and t["value"] == 1.0
    assert stats.tail([1.0] * 10 + [math.inf] * 20)["value"] == math.inf


def test_spread_is_iqr_over_median():
    vals = [10.0, 11.0, 9.0, 10.5, 9.5, 10.0, 10.2, 9.8, 10.1, 9.9]
    q1, q2, q3 = statistics.quantiles(vals, n=4)
    assert stats.spread(vals) == pytest.approx((q3 - q1) / q2)
    assert stats.spread([5.0] * 4) == 0.0


# -- spans -------------------------------------------------------------------
class StubContext:
    """Records job-group local properties like SparkContext does."""

    def __init__(self):
        self.props: dict[str, str | None] = {}
        self.history: list[str | None] = []

    def setLocalProperty(self, key, value):  # noqa: N802 — Spark's name
        self.props[key] = value
        if key == "spark.jobGroup.id":
            self.history.append(value)


def _span(sid, parent, start, end, name="x"):
    return spans.Span(sid=sid, parent=parent, root=1, name=name, start=start, end=end)


def test_self_time_subtracts_children_only():
    tree = [
        _span(1, None, 0.0, 10.0),
        _span(2, 1, 1.0, 4.0),
        _span(3, 1, 5.0, 6.0),
        _span(4, 2, 2.0, 3.5),
    ]
    selfs = spans.self_times(tree)
    assert selfs == {1: pytest.approx(6.0), 2: pytest.approx(1.5), 3: 1.0, 4: 1.5}
    # self times of a tree add up to its root's duration
    assert sum(selfs.values()) == pytest.approx(10.0)


def test_union_length_merges_overlaps():
    assert spans.union_length([]) == 0.0
    assert spans.union_length([(0, 2), (1, 3), (5, 6)]) == 4.0
    assert spans.union_length([(0, 10), (2, 3)]) == 10.0


def test_covered_merges_layer_spans_and_jobs_below_top():
    tree = [
        _span(1, None, 0.0, 10.0, "query"),
        _span(2, 1, 1.0, 4.0, "construct"),
        _span(3, 2, 2.0, 3.0, "readers.load_table"),
        _span(4, 1, 5.0, 9.0, "exec"),
    ]
    tree[1].job_intervals = [(2.5, 3.5)]  # overlaps the load_table span
    tree[3].job_intervals = [(5.5, 6.0), (7.0, 8.0)]
    assert spans.covered(tree, tree[0], {"readers.load_table"}) == pytest.approx(3.0)
    assert spans.covered(tree, tree[3], {"readers.load_table"}) == pytest.approx(1.5)


def test_tracer_nests_spans_and_restores_job_groups():
    sc = StubContext()
    tr = spans.Tracer(sc)
    with tr.span("outer") as outer:
        with tr.span("inner") as inner:
            time.sleep(0.01)
            assert sc.props["spark.jobGroup.id"] == inner.group
        assert sc.props["spark.jobGroup.id"] == outer.group
    assert sc.props["spark.jobGroup.id"] is None
    done = tr._fresh
    assert [s.name for s in done] == ["inner", "outer"]
    assert inner.parent == outer.sid and inner.root == outer.sid
    layers = spans.layer_totals(done)
    assert layers["outer"]["self"] == pytest.approx(outer.dur - inner.dur)
    assert layers["inner"]["calls"] == 1
    assert spans.subtree(done, outer) == [outer, inner]


def test_wrap_rebinds_engine_globals_and_unwraps(monkeypatch):
    import sys
    import types

    def public(x):
        return x + 1

    mod = types.ModuleType(f"{spans.PACKAGE}._perfbench_probe")
    mod.public = public
    mod.alias = public
    monkeypatch.setitem(sys.modules, mod.__name__, mod)
    tr = spans.Tracer(StubContext())
    assert tr.wrap(public, "layer.public") == 2
    assert mod.public(1) == 2 and mod.alias(2) == 3
    assert [s.name for s in tr._fresh] == ["layer.public", "layer.public"]
    tr.unwrap()
    assert mod.public is public and mod.alias is public


# -- oracle hash -------------------------------------------------------------
def test_value_hash_ignores_row_and_column_order():
    a = value_hash(["b", "a"], [(1, "x"), (2.5, None)])
    b = value_hash(["a", "b"], [(None, 2.5), ("x", 1)])
    assert a == b
    assert a != value_hash(["a", "b"], [("x", 1), (None, 2.50000001)])
    # floats compare at nine significant digits
    assert value_hash(["f"], [(0.1 + 0.2,)]) == value_hash(["f"], [(0.3,)])


def test_lsh_check_can_fail():
    import duckdb

    words = " ".join(f"w{i}" for i in range(12))  # 10 shingles
    o = Oracle.__new__(Oracle)
    o.con = duckdb.connect()
    o.con.execute(
        "CREATE TABLE documents AS SELECT * FROM (VALUES (1, ?), (2, ?), (3, ?)) t(doc_id, text)",
        [words, words + " dup", "a b c d e f"],
    )
    cols = ["id_a", "id_b", "jaccard"]
    good = (1, 2, round(10 / 11, 6))
    assert o.check("q37_minhash_lsh_pairs", None, cols, [good]) is None
    assert o.check("q37_minhash_lsh_pairs", None, ["jaccard", "id_a", "id_b"], [good[2:] + good[:2]]) is None
    assert "recall" in o.check("q37_minhash_lsh_pairs", None, cols, [])
    assert "twice" in o.check("q37_minhash_lsh_pairs", None, cols, [good, good])
    assert "not at exact" in o.check("q37_minhash_lsh_pairs", None, cols, [(1, 2, 0.5)])
    assert "not at exact" in o.check("q37_minhash_lsh_pairs", None, cols, [good, (1, 3, 1.0)])
    assert o.check("q99_other", None, cols, [good]) is not None
    o.close()


# -- BENCHMARK.json ----------------------------------------------------------
def test_benchmark_json_matches_reported_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.per_layer_units()
    assert bench["command"] == ["python3", "perfbench/run.py"]
    assert bench["paths"] == ["perfbench"]
    names = [w["name"] for w in bench["workloads"]]
    assert all(n in ("analytics_sf0.01", "enrich_batch") for n in names)
