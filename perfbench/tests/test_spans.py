"""Self-time arithmetic: a span's duration minus what its children and
the Spark jobs cover, each covered instant counted once."""

import pytest

from spans import Tracer, covered, self_time, self_times, union


def test_union_merges_overlaps_and_drops_empty():
    assert union([(3, 4), (0, 1), (0.5, 2), (5, 5)]) == [(0, 2), (3, 4)]


def test_covered_clips_to_window():
    assert covered([(0, 2), (1, 3), (8, 12)], 1, 10) == pytest.approx(2 + 2)


def test_self_time_subtracts_children_and_jobs_once():
    # span 0..10; child 1..4; job 3..6 overlaps the child; job 9..12 leaks out
    assert self_time(0, 10, [(1, 4)], [(3, 6), (9, 12)]) == pytest.approx(10 - 5 - 1)


def test_self_times_over_a_tree():
    tr = Tracer()
    op = tr.add_span("harness.batch", 0.0, 10.0, op=True)
    run = tr.add_span("pipeline.run", 1.0, 9.0)
    adopt = tr.add_span("tablestore.adopt_dir", 6.0, 8.0)
    run.parent, adopt.parent = op.sid, run.sid
    tr.attach_orphans()
    st = self_times(tr.spans, [(2.0, 5.0), (7.0, 7.5)])
    assert st[op.sid] == pytest.approx(2.0)        # 10 - child 8
    assert st[run.sid] == pytest.approx(8 - 2 - 3)  # minus adopt and job 2..5
    assert st[adopt.sid] == pytest.approx(1.5)      # minus job 7..7.5
    # self times and job time partition the op wall
    assert sum(st.values()) + 3.5 == pytest.approx(10.0)


def test_orphans_attach_to_enclosing_op():
    tr = Tracer()
    op = tr.add_span("server.first", 0.0, 5.0, op=True)
    handler = tr.add_span("server.handler", 1.0, 4.0)   # other thread
    inner = tr.add_span("pipeline_json.run", 1.5, 3.5)
    inner.parent = handler.sid
    outside = tr.add_span("tablestore.append", 6.0, 7.0)
    tr.attach_orphans()
    assert (handler.parent, handler.op) == (op.sid, op.sid)
    assert inner.op == op.sid
    assert outside.op is None


def test_wrap_records_nesting_and_unwraps():
    class Box:
        def outer(self):
            return self.inner() + 1

        def inner(self):
            return 1

    tr = Tracer()
    tr.wrap(Box, "outer", "m.outer", tag_jobs=False)
    tr.wrap(Box, "inner", "m.inner", tag_jobs=False)
    with tr.span("harness.x", op=True):
        assert Box().outer() == 2
    names = {s.name: s for s in tr.spans}
    assert names["m.inner"].parent == names["m.outer"].sid
    assert names["m.outer"].op == names["harness.x"].sid
    tr.unwrap_all()
    Box().outer()
    assert len(tr.spans) == 3
