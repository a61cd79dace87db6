import json

import pytest

from perfbench.trace import NULL_TRACER, Tracer, covered, parse_size, self_times


class FakeClock:
    def __init__(self):
        self.t = 0.0

    def __call__(self):
        return self.t


def test_covered_is_union_length_clipped_to_the_window():
    assert covered([], 0, 10) == 0
    assert covered([(1, 3), (2, 5), (7, 8)], 0, 10) == 5
    assert covered([(-5, 2), (9, 20)], 0, 10) == 3
    assert covered([(1, 9), (2, 3)], 0, 10) == 8


def test_self_time_subtracts_the_part_children_cover():
    clock = FakeClock()
    tr = Tracer("r", clock=clock)
    with tr.span("op"):
        clock.t = 1.0
        with tr.span("a"):
            clock.t = 3.0
            with tr.span("a.inner"):
                clock.t = 3.5
        clock.t = 4.0
        with tr.span("b"):
            clock.t = 6.0
        clock.t = 7.0
    op, a, inner, b = tr.spans
    assert (a.parent, inner.parent, b.parent, op.parent) == (op.sid, a.sid, op.sid, None)
    st = self_times(tr.spans)
    assert op.duration == 7.0
    assert st[op.sid] == pytest.approx(7.0 - 2.5 - 2.0)
    assert st[a.sid] == pytest.approx(2.5 - 0.5)
    assert st[inner.sid] == pytest.approx(0.5)
    assert st[b.sid] == pytest.approx(2.0)


def test_spans_carry_run_id_and_dump_once(tmp_path):
    tr = Tracer("run-7")
    with tr.span("x"):
        pass
    out = tmp_path / "spans.json"
    tr.dump(str(out))
    doc = json.loads(out.read_text())
    assert doc["run_id"] == "run-7"
    (row,) = doc["spans"]
    assert row["name"] == "x" and row["run_id"] == "run-7" and row["parent"] is None
    assert row["self_s"] == pytest.approx(row["end"] - row["start"])


def test_null_tracer_records_nothing():
    with NULL_TRACER.span("x"):
        pass
    assert NULL_TRACER.spans == []


@pytest.mark.parametrize(
    "text, nbytes",
    [
        ("16.0 B", 16.0),
        ("1024.4 KiB", 1024.4 * 1024),
        ("total (min, med, max (stageId: taskId))\n31.3 KiB (7.8 KiB, 7.8 KiB, 7.8 KiB (stage 0.0: task 2))", 31.3 * 1024),
        ("2.5 MiB", 2.5 * 2**20),
    ],
)
def test_parse_size_reads_the_total(text, nbytes):
    assert parse_size(text) == pytest.approx(nbytes)
