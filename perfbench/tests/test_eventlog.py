"""The event-log parser on a tiny recorded log: one job of two stages (a
groupBy over spark.range, two tasks each) written to the noop sink."""

import os

import pytest

import eventlog

LOG = os.path.join(os.path.dirname(__file__), "data", "tiny_eventlog.json")
SUBMITTED, COMPLETED = 1792254681339, 1792254682156


def test_exec_metrics_of_recorded_job():
    log = eventlog.read(LOG)
    m = eventlog.exec_metrics(log, [(SUBMITTED - 1, COMPLETED)], cores=2)
    assert m["exec.jobs"] == 1
    assert m["exec.stages"] == 2
    assert m["exec.tasks"] == 4
    assert m["exec.s"] == pytest.approx(0.817)
    assert m["exec.task_s"] == pytest.approx((388 + 418 + 131 + 134) / 1000)
    assert m["exec.busy_ratio"] == pytest.approx(1.071 / (0.817 * 2))
    assert m["exec.gc_s"] == pytest.approx(0.05)
    assert m["exec.shuffle_write_bytes"] == 266
    assert m["exec.shuffle_read_bytes"] == 140 + 126
    assert m["exec.input_bytes"] == 0
    assert m["exec.spill_bytes"] == 0
    # stage 0: tasks of 388 and 418 ms -> max / median = 418 / 403
    assert m["exec.task_skew"] == pytest.approx(418 / 403)


def test_jobs_outside_every_window_are_not_counted():
    log = eventlog.read(LOG)
    assert eventlog.jobs_in(log, [(0, SUBMITTED - 1)]) == []
    m = eventlog.exec_metrics(log, [(COMPLETED + 1, COMPLETED + 2)], cores=2)
    assert m["exec.jobs"] == 0 and m["exec.tasks"] == 0 and m["exec.busy_ratio"] == 0.0
