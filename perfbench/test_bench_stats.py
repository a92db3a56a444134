"""Self-tests of the benchmark's pure helpers (no Spark session).

    python3 -m pytest perfbench/test_bench_stats.py -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from bench_stats import (  # noqa: E402
    Job,
    Span,
    attribute_jobs,
    frame_digest,
    latency_summary,
    percentile,
    self_times,
    subtree_ids,
    tail_percentile,
    union_length,
)
from bench_trace import Tracer, read_event_log  # noqa: E402


def test_tail_percentile_needs_ten_samples_beyond_it():
    assert tail_percentile(19) is None  # even p50 has only 9.5 beyond
    assert tail_percentile(20) == 50.0
    assert tail_percentile(40) == 75.0
    assert tail_percentile(99) == 75.0
    assert tail_percentile(100) == 90.0
    assert tail_percentile(200) == 95.0
    assert tail_percentile(1000) == 99.0
    assert tail_percentile(10_000) == 99.9


def test_latency_summary_reports_median_tail_and_count():
    xs = [float(i) for i in range(1, 101)]  # 1..100
    s = latency_summary(xs)
    assert s["n"] == 100
    assert s["p50"] == 50.5
    assert s["p90"] == pytest.approx(percentile(xs, 90.0))
    assert "p95" not in s  # only 5 samples beyond it
    assert latency_summary([3.0]) == {"n": 1, "p50": 3.0}
    assert latency_summary([]) == {"n": 0}


def test_percentile_interpolates():
    assert percentile([1.0, 2.0, 3.0, 4.0], 50.0) == 2.5
    assert percentile([5.0], 99.0) == 5.0
    with pytest.raises(ValueError):
        percentile([], 50.0)


def test_union_length_merges_overlaps():
    assert union_length([]) == 0.0
    assert union_length([(0, 1), (2, 3)]) == 2.0
    assert union_length([(0, 2), (1, 3)]) == 3.0
    assert union_length([(0, 10), (2, 3), (4, 5)]) == 10.0
    assert union_length([(3, 3), (5, 4)]) == 0.0


def _spans():
    # root [0,10] with children a [1,4] and b [3,6]; a has child c [2,3]
    return [
        Span("r", "root", None, 0.0, 10.0),
        Span("a", "a", "r", 1.0, 4.0),
        Span("b", "b", "r", 3.0, 6.0),
        Span("c", "c", "a", 2.0, 3.0),
    ]


def test_self_time_subtracts_the_union_of_children():
    st = self_times(_spans())
    assert st["r"] == pytest.approx(10.0 - 5.0)  # children cover [1,6]
    assert st["a"] == pytest.approx(3.0 - 1.0)
    assert st["b"] == pytest.approx(3.0)
    assert st["c"] == pytest.approx(1.0)


def test_self_time_clips_children_to_the_parent():
    spans = [Span("p", "p", None, 0.0, 2.0), Span("k", "k", "p", 1.0, 5.0)]
    assert self_times(spans)["p"] == pytest.approx(1.0)


def test_subtree_ids():
    assert subtree_ids(_spans(), "a") == {"a", "c"}
    assert subtree_ids(_spans(), "r") == {"r", "a", "b", "c"}


def test_jobs_belong_to_the_span_named_by_their_group():
    jobs = [
        Job(0, "a", 1.0, 2.0),
        Job(1, "a", 1.5, 3.0),
        Job(2, "c", 2.0, 2.5),
        Job(3, None, 0.0, 9.0),  # untagged: nobody's
    ]
    got = attribute_jobs(jobs, _spans())
    assert [j.id for j in got["a"]] == [0, 1]
    assert [j.id for j in got["c"]] == [2]
    assert got["r"] == [] and got["b"] == []
    assert union_length([(j.submit, j.end) for j in got["a"]]) == pytest.approx(2.0)


class _FakeSC:
    def __init__(self):
        self.props = {}

    def setLocalProperty(self, key, value):
        if value is None:
            self.props.pop(key, None)
        else:
            self.props[key] = value


def test_tracer_sets_and_restores_the_job_group():
    sc = _FakeSC()
    tr = Tracer(sc)
    with tr.span("outer") as outer:
        with tr.span("inner") as inner:
            assert sc.props["spark.jobGroup.id"] == inner.id
        assert sc.props["spark.jobGroup.id"] == outer.id
    assert "spark.jobGroup.id" not in sc.props
    assert inner.parent == outer.id and outer.parent is None
    assert outer.start <= inner.start <= inner.end <= outer.end


def test_tracer_patch_wraps_and_restores():
    class Mod:
        @staticmethod
        def f(x):
            return x + 1

    orig = Mod.f
    tr = Tracer()
    tr.patch(Mod, "f", "layer.f")
    assert Mod.f(1) == 2
    assert [s.name for s in tr.spans] == ["layer.f"]
    tr.unpatch()
    assert Mod.f is orig


def test_read_event_log_attributes_tasks_to_jobs(tmp_path):
    events = [
        {"Event": "SparkListenerApplicationStart"},
        {
            "Event": "SparkListenerJobStart",
            "Job ID": 7,
            "Submission Time": 1000,
            "Stage IDs": [3, 4],
            "Properties": {"spark.jobGroup.id": "s5"},
        },
        {
            "Event": "SparkListenerTaskEnd",
            "Stage ID": 4,
            "Task Metrics": {
                "Executor Run Time": 250,
                "JVM GC Time": 10,
                "Shuffle Read Metrics": {"Remote Bytes Read": 5, "Local Bytes Read": 6},
                "Shuffle Write Metrics": {"Shuffle Bytes Written": 40},
            },
        },
        {"Event": "SparkListenerJobEnd", "Job ID": 7, "Completion Time": 1500},
    ]
    (tmp_path / "app-1").write_text("\n".join(json.dumps(e) for e in events) + "\n")
    jobs, tasks = read_event_log(str(tmp_path))
    assert [(j.id, j.group, j.submit, j.end) for j in jobs] == [(7, "s5", 1.0, 1.5)]
    assert tasks == [
        {
            "job": 7,
            "stage": 4,
            "run_s": 0.25,
            "gc_s": 0.01,
            "shuffle_read": 11,
            "shuffle_write": 40,
        }
    ]


def test_frame_digest_ignores_row_and_column_order():
    pd = pytest.importorskip("pandas")
    a = pd.DataFrame({"id": [1, 2, 3], "text": ["x", "y", "z"]})
    b = pd.DataFrame({"text": ["z", "x", "y"], "id": [3, 1, 2]})
    assert frame_digest(a) == frame_digest(b)
    assert frame_digest(a).startswith("3:")


def test_frame_digest_sees_every_value_and_column_name():
    pd = pytest.importorskip("pandas")
    a = pd.DataFrame({"id": [1, 2], "score": [0.5, 0.25]})
    assert frame_digest(a) != frame_digest(pd.DataFrame({"id": [1, 2], "score": [0.5, 0.2500001]}))
    assert frame_digest(a) != frame_digest(pd.DataFrame({"id": [1, 3], "score": [0.5, 0.25]}))
    assert frame_digest(a) != frame_digest(pd.DataFrame({"key": [1, 2], "score": [0.5, 0.25]}))
    assert frame_digest(a) != frame_digest(a.iloc[:1])


def test_frame_digest_matches_across_engine_dtypes():
    """Spark's and DuckDB's pandas frames differ in dtypes, not values."""
    pd = pytest.importorskip("pandas")
    np = pytest.importorskip("numpy")
    spark_like = pd.DataFrame(
        {
            "n": pd.Series([1, 2], dtype="int32"),
            "m": [1.0, float("nan")],  # nullable long read back as float
            "v": [np.array([1, 2]), np.array([3])],
        }
    )
    duck_like = pd.DataFrame(
        {
            "n": pd.Series([1, 2], dtype="int64"),
            "m": pd.Series([1, None], dtype="Int64"),
            "v": [[1, 2], [3]],
        }
    )
    assert frame_digest(spark_like) == frame_digest(duck_like)
