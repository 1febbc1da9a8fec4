"""Operation outcomes and the failure count.

An operation fails when it raises, or, for a pipeline run, once per ingest
result with ``status == "failed"`` (one attempt per table). A table the
pipeline retried to success is not a failure; it shows in the attempt count.
Nothing else is a failure: in particular the ``PATH_NOT_FOUND`` line Spark
logs for ``historico_execucao`` when the first ``latest_runs`` reads the
history of an empty lake (the pipeline's "nothing loaded yet") is only log
output, and the full load it belongs to counts as succeeded.
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass
class Outcome:
    op: str
    seconds: float
    attempted: int = 1  # a pipeline run attempts one ingest per table
    failed: int = 0
    errors: list[str] = field(default_factory=list)  # why it failed


def tally(outcomes: list[Outcome]) -> tuple[int, int]:
    """(attempted, failed) over ``outcomes``."""
    return sum(o.attempted for o in outcomes), sum(o.failed for o in outcomes)


def fail_ratio(outcomes: list[Outcome]) -> float:
    attempted, failed = tally(outcomes)
    return failed / attempted if attempted else 0.0
