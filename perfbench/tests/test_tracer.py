"""Self time is a span minus the union of its children, clipped to it."""

import threading

import pytest

from perfbench.tracer import Span, Tracer, covered, self_times


def test_covered_merges_overlaps_and_clips():
    assert covered([(1, 3), (2, 5), (8, 12)], 0, 10) == pytest.approx(6.0)
    assert covered([], 0, 10) == 0.0
    assert covered([(11, 12)], 0, 10) == 0.0


def test_self_time_arithmetic():
    spans = [
        Span(1, "root", 0.0, 10.0, None, "r"),
        Span(2, "a", 1.0, 3.0, 1, "r"),
        Span(3, "b", 2.0, 5.0, 1, "r"),  # overlaps a (another thread)
        Span(4, "c", 8.0, 12.0, 1, "r"),  # runs past the parent's end
        Span(5, "a.child", 1.5, 2.5, 2, "r"),
    ]
    st = self_times(spans)
    assert st[1] == pytest.approx(10.0 - 6.0)
    assert st[2] == pytest.approx(2.0 - 1.0)
    assert st[3] == pytest.approx(3.0)
    assert st[5] == pytest.approx(1.0)
    # self times never exceed the root's wall time they sit under
    assert st[1] + 6.0 == pytest.approx(10.0)


def test_spans_nest_per_thread_and_attach_to_root():
    tr = Tracer("run-1")
    with tr.span("phase", root=True):
        with tr.span("inner"):
            pass
        done = []

        def work():
            with tr.span("worker"):
                done.append(True)

        t = threading.Thread(target=work)
        t.start()
        t.join(timeout=10)
        assert not t.is_alive() and done
    names = {s.name: s for s in tr.spans}
    assert names["inner"].parent == names["phase"].id
    assert names["worker"].parent == names["phase"].id
    assert names["phase"].parent is None
    assert {s.run_id for s in tr.spans} == {"run-1"}


def test_disabled_tracer_records_nothing_and_wrap_restores():
    class Box:
        def f(self, x):
            return x + 1

    orig = Box.__dict__["f"]
    tr = Tracer("r", enabled=False)
    tr.wrap(Box, "f", "box.f")
    assert Box.__dict__["f"] is not orig
    assert Box().f(1) == 2 and tr.spans == []
    tr.enabled = True
    assert Box().f(2) == 3 and [s.name for s in tr.spans] == ["box.f"]
    tr.restore()
    assert Box.__dict__["f"] is orig
