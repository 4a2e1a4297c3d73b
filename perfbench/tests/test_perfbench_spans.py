"""Self-time arithmetic of nested spans (no Spark)."""

from spans import Span, Tracer, self_seconds


def _span(i, parent, start, end, layer="l"):
    return Span(i, layer, "", 0, parent, start, end)


def test_self_time_subtracts_children_once():
    spans = [
        _span(0, None, 0.0, 10.0),
        _span(1, 0, 1.0, 3.0),
        _span(2, 0, 2.0, 5.0),  # overlaps span 1: 1..5 is covered once
        _span(3, 0, 7.0, 8.0),
        _span(4, 3, 7.2, 7.7),  # a grandchild does not count against span 0
    ]
    got = self_seconds(spans)
    assert got[0] == 10.0 - 4.0 - 1.0
    assert got[1] == 2.0
    assert got[2] == 3.0
    assert abs(got[3] - 0.5) < 1e-12
    assert got[4] == 0.5


def test_child_sticking_out_of_its_parent_is_clipped():
    got = self_seconds([_span(0, None, 0.0, 2.0), _span(1, 0, 1.5, 3.0)])
    assert got[0] == 1.5


def test_layer_totals_sum_self_time_per_layer():
    tr = Tracer()
    tr.spans = [
        _span(0, None, 0.0, 10.0, "cli"),
        _span(1, 0, 1.0, 4.0, "sources.rss"),
        _span(2, 0, 5.0, 6.0, "sources.rss"),
    ]
    totals = tr.layer_totals(0)
    assert totals["cli"]["self_s"] == 6.0
    assert totals["sources.rss"]["self_s"] == 4.0
    assert totals["sources.rss"]["seconds"] == 4.0

