"""Span bookkeeping and self time."""

from tracing import Span, Tracer, self_times


class FakeClock:
    def __init__(self):
        self.t = 0.0

    def __call__(self):
        return self.t


def test_self_time_subtracts_union_of_children():
    spans = [Span(0, "query", None, "q", 0.0, 10.0),
             Span(1, "build", 0, "q", 1.0, 4.0),
             Span(2, "action", 1, "q", 2.0, 3.0),
             Span(3, "materialize", 0, "q", 3.5, 9.0)]
    st = self_times(spans)
    # children of query cover [1, 4] and [3.5, 9] -> union 8
    assert st[0] == 2.0
    assert st[1] == 2.0
    assert st[2] == 1.0
    assert st[3] == 5.5


def test_child_outside_parent_is_clipped():
    spans = [Span(0, "p", None, "", 0.0, 1.0), Span(1, "c", 0, "", 0.5, 3.0)]
    assert self_times(spans)[0] == 0.5


def test_tracer_nesting_and_wrap():
    clock = FakeClock()
    tr = Tracer(clock=clock)

    def work(x):
        clock.t += 2.0
        return x * 2

    wrapped = tr.wrap(work, "work", when=lambda x: x > 0)
    tr.exec_id = "1:q"
    with tr.span("outer"):
        clock.t += 1.0
        assert wrapped(3) == 6
        assert wrapped(-1) == -2  # not traced
    names = [(s.name, s.parent, s.exec_id, s.start, s.end) for s in tr.spans]
    assert names == [("outer", None, "1:q", 0.0, 5.0), ("work", 0, "1:q", 1.0, 3.0)]
    assert self_times(tr.spans) == {0: 3.0, 1: 2.0}
    assert tr.stack == []


def test_span_closed_when_wrapped_call_raises():
    tr = Tracer()

    def boom():
        raise ValueError("x")

    w = tr.wrap(boom, "boom")
    try:
        w()
    except ValueError:
        pass
    assert tr.stack == [] and tr.spans[0].end >= tr.spans[0].start
