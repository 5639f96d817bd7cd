import pytest

from tracing import Tracer, prefix_self_times, tail_percentile


@pytest.mark.parametrize(
    "n, pct",
    [(19, None), (20, 50.0), (39, 50.0), (40, 75.0), (99, 75.0), (100, 90.0),
     (199, 90.0), (200, 95.0), (1000, 99.0), (10_000, 99.9)],
)
def test_tail_is_highest_percentile_with_ten_beyond(n, pct):
    samples = list(range(n, 0, -1))  # unsorted on purpose
    got = tail_percentile(samples)
    if pct is None:
        assert got is None
        return
    p, value, count = got
    assert (p, count) == (pct, n)
    assert sum(1 for s in samples if s > value) >= 10
    assert value == -(-round(p * 10) * n // 1000)  # nearest rank


def test_prefix_self_times_are_differences_of_cumulative_walls():
    walls = {"scan": 0.2, "entries": 0.25, "parsers": 0.75, "enrich": 0.8, "route": 0.79}
    got = prefix_self_times(walls, list(walls))
    assert got == pytest.approx(
        {"scan": 0.2, "entries": 0.05, "parsers": 0.5, "enrich": 0.05, "route": -0.01})
    assert sum(got.values()) == pytest.approx(walls["route"])


def test_spans_nest_and_disabled_tracer_records_nothing(tmp_path):
    t = Tracer(True)
    t.run_id = "r1"
    with t.span("outer"):
        with t.span("inner", k=1):
            pass
    assert [(s.name, s.parent, s.run_id) for s in t.spans] == [
        ("outer", None, "r1"), ("inner", 0, "r1")]
    outer, inner = t.spans
    assert outer.start <= inner.start <= inner.end <= outer.end
    t.write(str(tmp_path / "spans.json"))
    off = Tracer(False)
    with off.span("x") as sp:
        assert sp is None
    assert off.spans == []
