import pytest

from spans import Tracer, durations, nested, self_times


def span(id, start, end, parent=None, name=None):
    return {"id": id, "name": name or f"s{id}", "start": start, "end": end,
            "parent": parent, "run_id": "r"}


def test_self_time_subtracts_children():
    spans = [span(1, 0.0, 10.0), span(2, 1.0, 3.0, 1), span(3, 5.0, 9.0, 1),
             span(4, 6.0, 7.0, 3)]
    st = self_times(spans)
    assert st[1] == pytest.approx(10.0 - 2.0 - 4.0)
    assert st[2] == pytest.approx(2.0)
    assert st[3] == pytest.approx(3.0)
    assert st[4] == pytest.approx(1.0)


def test_self_time_counts_overlapping_children_once_and_clips():
    # children overlap each other and one runs past its parent's end
    spans = [span(1, 0.0, 10.0), span(2, 2.0, 6.0, 1), span(3, 4.0, 8.0, 1),
             span(4, 9.0, 12.0, 1)]
    st = self_times(spans)
    assert st[1] == pytest.approx(10.0 - (8.0 - 2.0) - (10.0 - 9.0))


def test_self_times_sum_to_root_duration():
    spans = [span(1, 0.0, 5.0), span(2, 0.5, 2.0, 1), span(3, 2.0, 4.5, 1),
             span(4, 2.5, 3.0, 3)]
    assert sum(self_times(spans).values()) == pytest.approx(5.0)


def test_nested_cumulative_steps_telescope():
    chain = nested([("scan", 1.0), ("arrow", 1.5), ("kernel", 4.0)], "r")
    st = self_times(chain)
    assert [st[s["id"]] for s in chain] == pytest.approx([1.0, 0.5, 2.5])
    assert chain[-1]["parent"] is None


def test_tracer_records_parents_and_job_descriptions():
    class FakeContext:
        def __init__(self):
            self.calls = []

        def setJobDescription(self, d):
            self.calls.append(d)

    ticks = iter(range(100))
    sc = FakeContext()
    tr = Tracer("run-1", sc=sc, clock=lambda: float(next(ticks)))
    with tr.span("outer"):
        with tr.span("inner"):
            pass
        with tr.span("inner"):
            pass
    by_name = {}
    for s in tr.spans:
        by_name.setdefault(s["name"], []).append(s)
    outer = by_name["outer"][0]
    assert all(s["parent"] == outer["id"] for s in by_name["inner"])
    assert outer["parent"] is None
    assert {s["run_id"] for s in tr.spans} == {"run-1"}
    # each span labels its jobs, and the parent's label comes back after it
    assert sc.calls == ["outer", "inner", "outer", "inner", "outer", None]
    assert durations(tr.spans) == {"inner": [1.0, 1.0], "outer": [5.0]}
