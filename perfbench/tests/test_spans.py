import pytest

from spans import Tracer, covered


def test_covered_merges_overlaps_and_clips():
    assert covered(0, 10, []) == 0
    assert covered(0, 10, [(1, 3), (2, 5), (7, 8)]) == pytest.approx(5)
    assert covered(0, 10, [(-5, 2), (9, 20)]) == pytest.approx(3)
    assert covered(0, 10, [(1, 9), (2, 3)]) == pytest.approx(8)


def test_self_time_subtracts_children_once():
    t = Tracer(enabled=True)
    root = t.add(None, "pass", 0.0, 10.0, "span")
    build = t.add(root.id, "build", 1.0, 6.0, "span")
    t.add(build.id, "job:1", 2.0, 4.0, "job")
    t.add(build.id, "job:2", 3.0, 5.0, "job")  # overlaps job:1
    sink = t.add(root.id, "sink", 6.0, 9.0, "span")
    t.add(sink.id, "job:3", 6.5, 9.5, "job")  # runs past its span
    assert t.self_time(build.id) == pytest.approx(5.0 - 3.0)
    assert t.self_time(sink.id) == pytest.approx(3.0 - 2.5)
    assert t.self_time(root.id) == pytest.approx(10.0 - 8.0)


def test_attach_picks_deepest_open_span():
    t = Tracer(enabled=True)
    root = t.add(None, "pass", 100.0, 110.0, "span")
    q = t.add(root.id, "query:a", 100.0, 105.0, "span")
    build = t.add(q.id, "build", 100.5, 103.0, "span")
    in_build = t.attach(root.id, "job:1", 101.0, 102.0, "job")
    in_query = t.attach(root.id, "job:2", 104.0, 104.5, "job")
    in_pass = t.attach(root.id, "job:3", 107.0, 108.0, "job")
    assert (in_build.parent, in_query.parent, in_pass.parent) == (build.id, q.id, root.id)


def test_nested_span_context_records_parents():
    t = Tracer(enabled=True)
    with t.span("pass") as p:
        with t.span("build") as b:
            pass
    assert b.parent == p.id and p.parent is None and p.end >= b.end >= b.start >= p.start


def test_disabled_tracer_records_nothing():
    t = Tracer(enabled=False)
    with t.span("pass") as s:
        assert s is None
    assert t.spans == []
