"""Span self time: duration minus the time covered by child spans."""

from spans import Span, Tracer, self_times


def test_self_time_subtracts_union_of_children():
    spans = [
        Span(0, None, "invoke", 0.0, 10.0),
        Span(1, 0, "build", 1.0, 3.0),
        Span(2, 0, "plan", 2.5, 4.0),  # overlaps build: counted once
        Span(3, 0, "exec", 6.0, 12.0),  # runs past its parent: clipped
        Span(4, 3, "inner", 6.0, 7.0),  # grandchild: only exec's child
    ]
    st = self_times(spans)
    assert st[0] == 10.0 - (3.0 + 4.0)  # [1, 4] and [6, 10] covered
    assert st[1] == 2.0 and st[2] == 1.5
    assert st[3] == 6.0 - 1.0
    assert st[4] == 1.0


def test_tracer_nests_spans():
    tr = Tracer()
    with tr.span("outer", op="x"):
        with tr.span("inner"):
            pass
    outer, inner = tr.spans
    assert (outer.parent, inner.parent) == (None, outer.id)
    assert outer.attrs == {"op": "x"}
    assert outer.start <= inner.start <= inner.end <= outer.end
    assert self_times(tr.spans)[outer.id] >= 0.0
