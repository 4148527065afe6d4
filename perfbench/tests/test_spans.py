from pathlib import Path

import pytest
from spans import (Span, Tracer, layer_self_times, read_event_log, self_times,
                   spark_counters, tail_percentile)

FIXTURE = Path(__file__).resolve().parent / "fixtures" / "eventlog.json"


def test_tail_needs_ten_samples_beyond_it():
    assert tail_percentile([1.0] * 10) is None
    assert tail_percentile([float(i) for i in range(11)]) == (9, 0.0)
    assert tail_percentile([float(i) for i in range(20)]) == (50, 9.0)
    assert tail_percentile([float(i) for i in range(100)]) == (90, 89.0)
    assert tail_percentile([float(i) for i in range(1000)]) == (99, 989.0)


def test_self_time_subtracts_children_once():
    spans = [
        Span(1, "cycle", "bench", None, 0.0, 10.0),
        Span(2, "track_deltas", "delta", 1, 1.0, 9.0),
        Span(3, "upsert_append", "silver", 2, 2.0, 4.0),
        Span(4, "fs.exists", "fs", 3, 2.5, 3.0),
        Span(5, "rebuild_reports", "gold", 2, 5.0, 8.0),
    ]
    st = self_times(spans)
    assert st == pytest.approx({1: 2.0, 2: 3.0, 3: 1.5, 4: 0.5, 5: 3.0})
    assert sum(st.values()) == pytest.approx(10.0)
    assert layer_self_times(spans) == pytest.approx(
        {"bench": 2.0, "delta": 3.0, "silver": 1.5, "fs": 0.5, "gold": 3.0})


def test_self_time_counts_overlapping_children_as_covered_once():
    spans = [Span(1, "p", "a", None, 0.0, 10.0),
             Span(2, "c1", "b", 1, 1.0, 6.0),
             Span(3, "c2", "b", 1, 4.0, 8.0)]
    assert self_times(spans)[1] == pytest.approx(3.0)


class FakeContext:
    def __init__(self):
        self.calls = []

    def setJobGroup(self, group, desc):
        self.calls.append(group)

    def setLocalProperty(self, key, value):
        assert key == "spark.jobGroup.id"
        self.calls.append(value)


def test_tracer_nests_spans_and_restores_job_groups():
    sc = FakeContext()
    tr = Tracer(sc)
    with tr.span("outer", "bench") as outer:
        with tr.span("fs.exists", "fs", jobs=False):
            pass
        with tr.span("inner", "delta") as inner:
            pass
    assert [s.parent for s in tr.spans] == [None, outer.id, outer.id]
    assert sc.calls == [outer.group, inner.group, outer.group, None]
    assert tr.descendants(outer) == tr.spans
    assert tr.descendants(inner) == [inner]


def test_patch_records_calls_and_unpatch_restores():
    class Owner:
        def work(self, x):
            return x + 1

    orig = Owner.__dict__["work"]
    tr = Tracer()
    tr.patch(Owner, "work", "layer", "owner.work")
    assert Owner().work(1) == 2
    assert [(s.name, s.layer) for s in tr.spans] == [("owner.work", "layer")]
    tr.unpatch_all()
    assert Owner.__dict__["work"] is orig


def test_event_log_counters_per_job_group():
    with open(FIXTURE) as fh:
        jobs = read_event_log(fh)
    assert sorted(jobs) == [0, 1, 2]
    assert [jobs[i].group for i in (0, 1, 2)] == ["pb1", "pb2", None]
    j0 = jobs[0]
    assert (j0.stages, j0.tasks, j0.executor_run_ms, j0.gc_ms) == (2, 4, 843, 58)
    assert j0.shuffle_read_bytes == j0.shuffle_write_bytes == 266

    start = jobs[0].submit_ms / 1e3 - 1.0
    end = jobs[2].end_ms / 1e3 + 1.0
    root = Span(1, "round", "bench", None, start, end)
    child = Span(2, "query", "battery", 1, start + 0.5, end - 0.5)
    c = spark_counters([root, child], jobs)
    assert (c["spark.jobs"], c["spark.stages"], c["spark.tasks"]) == (2, 4, 7)
    walls = [(j.end_ms - j.submit_ms) / 1e3 for j in (jobs[0], jobs[1])]
    assert c["spark.jobs_wall_s"] == pytest.approx(sum(walls))
    assert c["spark.driver_s"] == pytest.approx(root.dur - sum(walls))
    assert c["spark.shuffle_write_bytes"] == 266 + 118
