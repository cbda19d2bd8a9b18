import pytest

from perfbench.spans import Span, Tracer, covered, self_times


def test_covered_merges_and_clips():
    assert covered([], 0, 10) == 0
    assert covered([(1, 3), (2, 5)], 0, 10) == 4  # overlap counted once
    assert covered([(1, 3), (3, 5)], 0, 10) == 4  # touching
    assert covered([(6, 8), (1, 2)], 0, 10) == 3  # unsorted, disjoint
    assert covered([(8, 12), (-3, 1)], 0, 10) == 3  # clipped at both ends
    assert covered([(11, 12)], 0, 10) == 0  # outside
    assert covered([(2, 9), (3, 4)], 0, 10) == 7  # nested


def test_self_time_subtracts_direct_children_only():
    spans = [
        Span("wave", 0, 10, None, "w1"),
        Span("commit", 1, 4, 0, "w1"),
        Span("compact", 5, 9, 0, "w1"),
        Span("commit", 6, 8, 2, "w1"),  # nested inside compact
    ]
    assert self_times(spans) == [pytest.approx(3), pytest.approx(3), pytest.approx(2),
                                 pytest.approx(2)]
    # the tree's self times partition the root span
    assert sum(self_times(spans)) == pytest.approx(spans[0].duration)


def test_self_time_of_overlapping_children_counts_overlap_once():
    spans = [Span("p", 0, 10, None, "t"), Span("a", 1, 3, 0, "t"), Span("b", 2, 5, 0, "t"),
             Span("c", 8, 12, 0, "t")]
    assert self_times(spans)[0] == pytest.approx(10 - 4 - 2)


def test_tracer_nests_wraps_and_aggregates():
    tr = Tracer()

    def leaf(x):
        return x * 2

    def outer(x):
        return traced_leaf(x) + traced_leaf(x)

    traced_leaf = tr.wrap(leaf, "leaf", lambda s, r, a, k: s.counts.update(rows=r))
    traced_outer = tr.wrap(outer, lambda x: f"outer.{x}")

    assert traced_outer(3) == 12  # disabled: plain calls, nothing recorded
    assert tr.spans == []

    tr.enabled, tr.trace_id = True, "w1"
    with tr.span("wave"):
        assert traced_outer(3) == 12
    tr.enabled = False

    names = [s.name for s in tr.spans]
    assert names == ["wave", "outer.3", "leaf", "leaf"]
    assert [s.parent for s in tr.spans] == [None, 0, 1, 1]
    agg = tr.per_trace()["w1"]
    assert agg["leaf"]["n"] == 2 and agg["leaf"]["rows"] == 12
    total_self = sum(v["self_s"] for v in agg.values())
    assert total_self == pytest.approx(agg["wave"]["s"], abs=1e-9)


def test_tracer_closes_span_when_call_raises():
    tr = Tracer()
    tr.enabled = True

    def boom():
        raise KeyError("x")

    with pytest.raises(KeyError):
        tr.wrap(boom, "boom")()
    assert tr.spans[0].end >= tr.spans[0].start > 0
    assert tr._stack == []
