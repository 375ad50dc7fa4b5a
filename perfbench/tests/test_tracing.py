"""Self time of nested spans."""

from tracing import Tracer


class FakeClock:
    def __init__(self):
        self.t = 0.0

    def __call__(self):
        return self.t


def test_self_times_of_nested_spans_sum_to_the_root():
    clock = FakeClock()
    tr = Tracer(clock=clock)
    with tr.span("root") as root:          # 0 .. 10
        clock.t = 1
        with tr.span("a") as a:            # 1 .. 5
            clock.t = 2
            with tr.span("a1") as a1:      # 2 .. 3
                clock.t = 3
            clock.t = 5
        clock.t = 6
        with tr.span("b") as b:            # 6 .. 9
            clock.t = 9
        clock.t = 10
    st = tr.self_times()
    assert st[root.id] == 10 - 4 - 3
    assert st[a.id] == 4 - 1
    assert st[a1.id] == 1
    assert st[b.id] == 3
    assert sum(st.values()) == root.duration
    assert a1.parent == a.id and a.parent == root.id and root.parent is None


def test_disabled_tracer_records_nothing():
    tr = Tracer(enabled=False)
    with tr.span("x") as s:
        assert s is None
    assert tr.spans == [] and tr.self_times() == {}


def test_counts_and_trace_ids():
    tr = Tracer()
    tr.new_trace("pass-1")
    with tr.span("x") as s:
        s.count("rows", 2)
        s.count("rows", 3)
    assert s.counts == {"rows": 5}
    assert tr.find("x", "pass-1") == [s] and tr.find("x", "pass-2") == []
