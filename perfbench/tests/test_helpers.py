"""Tests of the benchmark's own helpers. They need no Spark session:

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os

import numpy as np
import pytest

from perfbench import data, run, trace
from perfbench.harness import (
    Tally, forbidden_env, quantile, recall_at_k, tail_percentile,
    topk_shape_error)

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))


# -- the percentile rule ---------------------------------------------

def test_quantile_matches_numpy():
    xs = [5.0, 1.0, 4.0, 2.0, 3.0, 9.0]
    for q in (0.0, 0.25, 0.5, 0.9, 1.0):
        assert quantile(xs, q) == pytest.approx(np.quantile(xs, q))


def test_p90_needs_ten_samples_beyond_it():
    assert tail_percentile(list(range(1, 101)))[0] == 0.9  # 10 beyond p90
    assert tail_percentile(list(range(1, 91)))[0] == 0.75  # 9 beyond p90
    q, v = tail_percentile(list(range(1, 51)))
    assert q == 0.75 and sum(1 for x in range(1, 51) if x > v) >= 10


def test_no_percentile_from_too_few_samples():
    assert tail_percentile(list(range(15))) is None
    assert tail_percentile(list(range(100)), candidates=(0.99,)) is None


def test_ties_at_the_percentile_are_not_beyond_it():
    # 95 equal samples and 5 larger: nothing reaches 10 beyond p50
    assert tail_percentile([1.0] * 95 + [2.0] * 5) is None


# -- recall against ties ---------------------------------------------

def test_recall_counts_any_of_the_tied_rows():
    # rows 1..4 are all at distance 1 from the query: a top-2 may hold
    # any two of them
    mat = np.array([[0, 0], [1, 0], [0, 1], [-1, 0], [0, -1], [5, 5]],
                   dtype=np.float32)
    ids = np.arange(6) + 100
    truth = data.topk_sets(mat, ids, np.array([[0.0, 0.0]]), k=2)
    assert truth[0] == frozenset({100, 101, 102, 103, 104})
    assert recall_at_k({0: [100, 104]}, truth, 2) == 1.0
    assert recall_at_k({0: [100, 105]}, truth, 2) == 0.5
    # a tied set larger than k still caps the score at k hits
    assert recall_at_k({0: [101, 102, 103]}, truth, 2) == 1.0


def test_recall_of_a_missing_query_is_zero():
    truth = [frozenset({1, 2}), frozenset({3, 4})]
    assert recall_at_k({0: [1, 2]}, truth, 2) == 0.5


def test_topk_shape_exact_and_partial_probe():
    full = {0: [1, 2], 1: [3, 4]}
    short = {0: [1, 2], 1: [3]}
    assert topk_shape_error(full, 2, 2, exact=True) is None
    assert "got 1 rows" in topk_shape_error(short, 2, 2, exact=True)
    assert topk_shape_error(short, 2, 2, exact=False) is None
    assert "answered 1 of 2" in topk_shape_error({0: [1, 2]}, 2, 2, False)
    assert "repeats" in topk_shape_error({0: [1, 1], 1: [2]}, 2, 2, False)
    assert "got 3 rows" in topk_shape_error({0: [1, 2, 3], 1: [4]}, 2, 2,
                                            False)


# -- self time with overlapping children -----------------------------

def _span(name, start, end, parent=None):
    return trace.Span(name, 0, parent, start, end)


def test_self_time_counts_overlapping_children_once():
    parent = _span("p", 0.0, 10.0)
    kids = [_span("a", 1.0, 4.0), _span("b", 3.0, 6.0),  # overlap 3..4
            _span("c", 8.0, 12.0)]  # runs past the parent's end
    assert trace.self_time(parent, kids) == pytest.approx(10 - 5 - 2)


def test_self_time_without_children_is_wall_time():
    assert trace.self_time(_span("p", 2.0, 5.5), []) == pytest.approx(3.5)


def test_spans_nest_and_skip_reentry():
    tr = trace.Tracer()
    with tr.span("outer"):
        with tr.span("outer"):  # a wrapped call inside its own span
            with tr.span("inner"):
                pass
    assert [s.name for s in tr.spans] == ["outer", "inner"]
    assert tr.spans[1].parent == tr.spans[0].sid
    assert tr.coverage(tr.spans[0].start, tr.spans[0].end) == 1.0


def test_jobs_are_charged_by_group_then_by_time():
    tr = trace.Tracer()
    with tr.span("index.api.create_index"):
        with tr.span("index.vamana.build"):
            pass
    outer, inner = tr.spans
    at_inner = inner.epoch_ms + (inner.end - inner.start) * 500.0
    jobs = [
        {"id": 1, "group": trace.GROUP_PREFIX + str(inner.sid),
         "submitted_ms": 0.0, "task_s": 2.0, "shuffle_bytes": 10.0},
        {"id": 2, "group": None, "submitted_ms": at_inner,
         "task_s": 1.0, "shuffle_bytes": 0.0},
        {"id": 3, "group": trace.GROUP_PREFIX + str(outer.sid),
         "submitted_ms": 0.0, "task_s": 0.5, "shuffle_bytes": 1.0},
    ]
    out = tr.summary(jobs)
    assert out["index.vamana.build"]["jobs"] == 2
    assert out["index.vamana.build"]["task_s"] == 3.0
    assert out["index.api.create_index"]["jobs"] == 3
    assert out["index.api.create_index"]["shuffle_bytes"] == 11.0
    assert out["index.api.index_scan"]["jobs"] == 0  # every span reported


# -- failure counting ------------------------------------------------

def test_an_operation_fails_once_however_many_checks_fail():
    t = Tally()
    a, b, c = t.begin(), t.begin(), t.begin()
    assert t.check(a, True, "rows")
    t.check(b, False, "rows")
    t.check(b, False, "recall")
    t.fail(c, "raised")
    assert (t.attempted, t.failed) == (3, 2)
    assert t.notes == ["rows", "recall", "raised"]


def test_only_the_core_count_may_be_set():
    env = {"SPARK_GRAFT_CPUS": "4", "SPARK_GRAFT_PRUNE_C": "0",
           "SPARK_GRAFT_KNN_BCAST_MB": "0", "OMP_NUM_THREADS": "2"}
    assert forbidden_env(env) == ["SPARK_GRAFT_KNN_BCAST_MB",
                                  "SPARK_GRAFT_PRUNE_C"]


# -- BENCHMARK.json agrees with what the harness prints ---------------

def test_benchmark_json_lists_the_printed_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    from perfbench.workloads import WORKLOADS

    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == list(
        run.E2E)
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == (
        run.layer_metric_units())
