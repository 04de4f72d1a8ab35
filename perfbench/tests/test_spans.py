import pytest

from spans import Span, Tracer, covered, descendants, self_times, totals_by_name


def _tree():
    # op [0, 10] -> a [1, 4] -> a1 [2, 3]
    #            -> b [5, 9] (children overlapping: b1 [5, 7], b2 [6, 8])
    return [
        Span(0, "op", 0.0, 10.0, None, "r"),
        Span(1, "a", 1.0, 4.0, 0, "r"),
        Span(2, "a1", 2.0, 3.0, 1, "r"),
        Span(3, "b", 5.0, 9.0, 0, "r"),
        Span(4, "b1", 5.0, 7.0, 3, "r"),
        Span(5, "b2", 6.0, 8.0, 3, "r"),
    ]


def test_self_time_subtracts_covered_child_time():
    st = self_times(_tree())
    assert st[0] == pytest.approx(10 - 3 - 4)
    assert st[1] == pytest.approx(3 - 1)
    assert st[2] == pytest.approx(1)
    assert st[3] == pytest.approx(4 - 3)  # b1 and b2 overlap: union is [5, 8]
    assert st[4] == pytest.approx(2) and st[5] == pytest.approx(2)
    assert sum(st.values()) == pytest.approx(10 + 1)  # b1/b2 overlap counted twice


def test_covered_merges_overlaps():
    assert covered([]) == 0
    assert covered([(0, 1), (0.5, 2), (3, 4)]) == pytest.approx(3)


def test_totals_and_descendant_groups():
    spans = _tree() + [Span(6, "a", 11.0, 12.0, None, "r")]
    t = totals_by_name(spans)
    assert t["a"]["calls"] == 2
    assert t["a"]["total_s"] == pytest.approx(4)
    assert t["a"]["self_s"] == pytest.approx(3)
    g = descendants(spans, {"b", "op"})
    assert g["b"] == {"span-3", "span-4", "span-5"}
    assert len(g["op"]) == 6


def test_disabled_tracer_records_nothing():
    tr = Tracer(False, "r")
    with tr.span("x") as s:
        assert s is None
    assert tr.spans == []


def test_tracer_nests_spans():
    tr = Tracer(True, "r")
    with tr.span("outer"):
        with tr.span("inner"):
            pass
    outer, inner = tr.spans
    assert inner.parent == outer.id and outer.parent is None
    assert outer.start <= inner.start <= inner.end <= outer.end



def test_aba_overhead_cancels_linear_drift():
    from run import aba_overhead, is_traced_op

    assert [is_traced_op(i) for i in range(6)] == [True, False, True] * 2
    drift = [10.0 + 0.5 * i for i in range(6)]
    assert aba_overhead(drift) == pytest.approx(0.0)
    traced = [t + (0.25 if is_traced_op(i) else 0.0) for i, t in enumerate(drift)]
    assert aba_overhead(traced) == pytest.approx(0.25)
    assert aba_overhead(traced[:2]) == 0.0  # no complete group of three
