"""Span arithmetic and job attribution of the traced run."""

import json
import os
import types

import pytest

from perfbench.trace import (
    Span,
    Tracer,
    attribute,
    driver_time,
    jobs_under,
    parse_event_log,
    self_times,
    subtree,
    task_skew,
    union_length,
    work_of,
)

DATA = os.path.join(os.path.dirname(__file__), "data", "eventlog_small.json")


def _span(i, parent, start, end, name="s"):
    return Span(i, name, "test", parent, "run", start, end)


def test_union_length_merges_overlaps_and_clips():
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert union_length([(0, 10)], lo=2, hi=4) == 2
    assert union_length([(0, 1)], lo=2, hi=4) == 0
    assert union_length([]) == 0


def test_self_time_excludes_children_but_not_grandchildren_twice():
    spans = [
        _span(0, None, 0.0, 10.0),
        _span(1, 0, 1.0, 4.0),
        _span(2, 1, 2.0, 3.0),      # grandchild: inside its parent's share
        _span(3, 0, 3.5, 6.0),      # overlaps span 1 (another thread)
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - 5.0)   # children cover [1, 6]
    assert st[1] == pytest.approx(3.0 - 1.0)
    assert st[2] == pytest.approx(1.0)
    assert st[3] == pytest.approx(2.5)
    assert subtree(spans, 1) == {1, 2}
    assert subtree(spans, 0) == {0, 1, 2, 3}


def test_self_times_sum_to_root_wall_for_nested_spans():
    spans = [_span(0, None, 0, 9), _span(1, 0, 1, 4), _span(2, 1, 2, 3),
             _span(3, 0, 5, 8)]
    assert sum(self_times(spans).values()) == pytest.approx(9)


def test_driver_time_is_span_time_without_any_job():
    span = _span(0, None, 10.0, 20.0)
    jobs = [(9.0, 12.0), (11.0, 13.0), (15.0, 16.0), (19.5, 25.0)]
    # jobs cover [10, 13] + [15, 16] + [19.5, 20] = 4.5 of the span
    assert driver_time(span, jobs) == pytest.approx(5.5)
    assert driver_time(span, []) == pytest.approx(10.0)


def test_tracer_nests_spans_sets_property_and_unpatches():
    props = []
    tracer = Tracer("r", props.append)
    mod = types.SimpleNamespace(f=lambda x: x + 1, g=lambda: 3)
    tracer.patch(mod, "f", "layer.f", "layer")
    tracer.patch(mod, "g", "layer.g", "layer", keep_value=True)
    root = tracer.open("root", "test")
    assert mod.f(1) == 2 and mod.g() == 3
    tracer.close(root)
    tracer.unpatch()
    assert mod.f(1) == 2 and not hasattr(mod.f, "__wrapped__")
    names = [(s.name, s.parent) for s in tracer.spans]
    assert names == [("root", None), ("layer.f", 0), ("layer.g", 0)]
    assert tracer.spans[2].value == 3
    # property: root, f, back to root, g, back to root, cleared
    assert props == ["0", "1", "0", "2", "0", None]


def test_tracer_closes_span_when_the_call_raises():
    tracer = Tracer("r")

    def boom():
        raise ValueError("x")

    with pytest.raises(ValueError):
        tracer.wrap(boom, "boom", "test")()
    assert tracer.spans[0].end >= tracer.spans[0].start > 0


@pytest.fixture(scope="module")
def recorded():
    with open(DATA) as f:
        d = json.load(f)
    spans = [Span(**s) for s in d["spans"]]
    log = parse_event_log(json.dumps(e) for e in d["events"])
    return spans, log


def test_jobs_attribute_to_the_innermost_open_span(recorded):
    spans, log = recorded
    attrib = attribute(log, spans)
    outer, inner = (next(s for s in spans if s.name == n) for n in ("outer", "inner"))
    assert len(attrib[outer.id]) >= 1          # the count() job
    assert len(attrib[inner.id]) >= 1          # the groupBy collect job(s)
    assert len(attrib[None]) >= 1              # the job outside any span
    assert sum(len(v) for v in attrib.values()) == len(log.jobs)
    # every attributed job ran inside its span's interval
    for sid in (outer.id, inner.id):
        span = spans[sid]
        for jid in attrib[sid]:
            assert span.start - 0.001 <= log.jobs[jid].start <= span.end + 0.001


def test_work_of_a_subtree_counts_the_shuffle(recorded):
    spans, log = recorded
    attrib = attribute(log, spans)
    outer, inner = spans[0], spans[1]
    inner_work = work_of(log, jobs_under(attrib, subtree(spans, inner.id)))
    outer_work = work_of(log, jobs_under(attrib, subtree(spans, outer.id)))
    assert inner_work.shuffle_mb > 0
    assert outer_work.jobs == len(attrib[outer.id]) + len(attrib[inner.id])
    assert outer_work.tasks > inner_work.tasks > 0
    assert outer_work.task_s >= inner_work.task_s
    assert task_skew(log, list(log.jobs)) >= 1.0
    assert driver_time(outer, log.job_intervals()) < outer.wall
