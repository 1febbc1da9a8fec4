"""The failure count behind fail_ratio."""

from types import SimpleNamespace

from outcome import Outcome, fail_ratio, tally
from workloads import pipeline_outcome


def _result(table, status="success", error=None):
    return SimpleNamespace(table=table, status=status, error=error)


def test_first_full_load_is_not_a_failure():
    # the first full load on an empty lake logs PATH_NOT_FOUND for the run
    # history, yet every table's IngestResult succeeds: nothing failed
    results = [_result(t) for t in ("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events")]
    attempted, failed, errors = pipeline_outcome(results)
    outcomes = [Outcome("full_load", 1.0, attempted, failed, errors)]
    assert tally(outcomes) == (8, 0)
    assert fail_ratio(outcomes) == 0.0


def test_failed_ingest_result_counts_once_per_table():
    results = [_result("orders"), _result("customer", "failed", "boom"), _result("region")]
    attempted, failed, errors = pipeline_outcome(results)
    assert (attempted, failed) == (3, 1)
    assert errors == ["customer: boom"]


def test_fail_ratio_counts_tables_of_a_pipeline_run():
    outcomes = [
        Outcome("full_load", 1.0, attempted=8, failed=0),
        Outcome("incr_cycle", 1.0, attempted=3, failed=1),  # one IngestResult "failed"
        Outcome("txlog.merge", 1.0),
        Outcome("txlog.delete", 1.0, failed=1),  # raised
    ]
    assert tally(outcomes) == (13, 2)
    assert fail_ratio(outcomes) == 2 / 13
    assert fail_ratio([]) == 0.0
