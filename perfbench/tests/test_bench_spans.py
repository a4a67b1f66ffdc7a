from spans import Span, Tracer, busy_time, self_times


def test_self_time_subtracts_direct_children_once():
    spans = [
        Span("root", 0.0, 10.0),
        Span("a", 1.0, 4.0, parent=0),
        Span("b", 3.0, 6.0, parent=0),  # overlaps a: union 1..6
        Span("a.child", 1.5, 2.5, parent=1),
        Span("late", 9.0, 12.0, parent=0),  # clipped to the parent's end
    ]
    assert self_times(spans) == [10.0 - 5.0 - 1.0, 3.0 - 1.0, 3.0, 1.0, 3.0]


def test_busy_time_clips_and_merges():
    assert busy_time([(0.0, 2.0), (1.0, 3.0), (5.0, 9.0)], 1.0, 6.0) == 3.0
    assert busy_time([], 0.0, 1.0) == 0.0


class _Mod:
    @staticmethod
    def f(x, eager=True):
        return x + 1


def test_wrappers_record_spans_and_restore():
    t = Tracer()
    orig = _Mod.f
    t.wrap(_Mod, "f", "mod.f", lambda a, k: {"eager": k.get("eager", True)})
    with t.span("outer"):
        assert _Mod.f(1, eager=False) == 2
    t.restore()
    assert _Mod.f is orig
    (outer, inner) = t.spans
    assert inner.parent == 0 and inner.attrs["eager"] is False
    assert inner.attrs["caller"] == __name__
    assert outer.start <= inner.start <= inner.end <= outer.end
