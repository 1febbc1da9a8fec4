"""Self-time arithmetic on a hand-built span tree."""

import pytest

from spans import Span, Tracer, self_times


def _tree():
    # op [0, 10]
    #   build [1, 3]
    #   pipeline [3, 9]
    #     ingest a [4, 7]   (worker thread)
    #     ingest b [5, 8]   (worker thread, overlaps a)
    #     ingest c [8.5, 12] (runs past its parent: clipped at 9)
    return [
        Span(1, "op", 0.0, 10.0, None, 1),
        Span(2, "build", 1.0, 3.0, 1, 1),
        Span(3, "pipeline", 3.0, 9.0, 1, 1),
        Span(4, "ingest", 4.0, 7.0, 3, 1),
        Span(5, "ingest", 5.0, 8.0, 3, 1),
        Span(6, "ingest", 8.5, 12.0, 3, 1),
    ]


def test_self_time_subtracts_union_of_children():
    st = self_times(_tree())
    assert st[1] == pytest.approx(10 - (2 + 6))
    # children cover [4, 8] and [8.5, 9]: 4.5 of the pipeline's 6 s
    assert st[3] == pytest.approx(6 - 4.5)
    assert st[4] == pytest.approx(3.0)  # leaves keep their whole duration
    assert st[6] == pytest.approx(3.5)


def test_self_times_sum_to_root_duration_without_overlap():
    spans = [s for s in _tree() if s.id in (1, 2, 3, 4)]
    assert sum(self_times(spans).values()) == pytest.approx(10.0)


def test_worker_thread_spans_attach_to_open_span_of_op_thread():
    import threading

    tr = Tracer()
    tr.enabled = True
    with tr.span("op"):
        with tr.span("pipeline") as pipe:
            t = threading.Thread(target=lambda: tr.end(tr.begin("ingest")))
            t.start()
            t.join(timeout=10)
            assert not t.is_alive()
    by_name = {s.name: s for s in tr.spans}
    assert by_name["ingest"].parent == pipe.id
    assert by_name["ingest"].op == by_name["op"].id
    assert by_name["op"].parent is None


def test_disabled_tracer_records_nothing():
    tr = Tracer()
    with tr.span("op") as sp:
        assert sp is None
    assert tr.spans == []
