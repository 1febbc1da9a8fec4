"""End-to-end ingestion pipeline: detect -> ingest (parallel) -> audit.

The reference's EP1 lifecycle (SURVEY.md §3) minus Airflow: a plain Python
driver that (1) runs change detection, (2) writes the manifest, (3) ingests
each changed table, (4) writes the run's audit rows. Two reference
anti-patterns fixed, both self-reported or survey-flagged:

- per-table ingestion runs in a ``ThreadPoolExecutor`` (the reference is
  deliberately sequential, ``Sites/Dag_ingest/ingest_slmandicprd.py:58-83``;
  its own README names parallelization as the fix, ``README.md:84``).
  Threads are correct here: each submits independent Spark jobs and the
  scheduler interleaves them (FAIR pool friendly).
- row counts come from ``observe()`` during the write, not a second source
  scan (``spark_ingest_slmandicprd.py:108`` anti-pattern).

The worker threads only write table data, each to its own directory. The
history is written once per run, after the pool, with one row per table
that ingested: the history is a single parquet directory without a commit
protocol, so one append per worker would race (see ``history.py``). A
failed history write raises; the tables it would have recorded stay stale
and are re-detected by the next run.
"""

from __future__ import annotations

import os
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from feature_datalake_sl_mandic_spark.ingest import history as hist
from feature_datalake_sl_mandic_spark.ingest.change_detection import detect_changes
from feature_datalake_sl_mandic_spark.ingest.manifest import write_json, write_manifest
from feature_datalake_sl_mandic_spark.sources import parquet as lake

MAX_WORKERS = 4


@dataclass
class IngestResult:
    table: str
    row_count: int
    seconds: float
    status: str = "ok"  # "ok" | "failed"
    attempts: int = 1
    error: str | None = None


def ingest_table(
    spark: SparkSession,
    source_df: DataFrame,
    lake_dir: str,
    database: str,
    table: str,
) -> IngestResult:
    """Single-table full refresh (EP2 parity): overwrite write with observed
    row count. Timing covers read+write wall clock like the reference's
    ``execution_time_sec`` (``spark_ingest_slmandicprd.py:53,109``)."""
    t0 = time.time()
    observed, obs = hist.observed_count(source_df)
    lake.write_table(observed, lake_dir, database, table, mode="overwrite")
    return IngestResult(table, int(obs.get["row_count"]), time.time() - t0)


def ingest_table_with_retry(
    spark: SparkSession,
    source_df: DataFrame,
    lake_dir: str,
    database: str,
    table: str,
    retries: int = 2,
) -> IngestResult:
    """``ingest_table`` with bounded retries and failure isolation — parity
    with the reference controller's per-task Airflow retry
    (``Sites/dag_controller/controller_slmandicprd.py:23-44``). A table that
    exhausts its retries returns a ``failed`` result instead of raising, so
    one poisoned table cannot sink the batch; the run writes NO history row
    for it, which leaves it stale in ``latest_runs`` and therefore re-detected
    as changed on the next pipeline run (self-healing retry-across-runs)."""
    t0 = time.time()
    for attempt in range(1, retries + 2):
        try:
            res = ingest_table(spark, source_df, lake_dir, database, table)
            return IngestResult(table, res.row_count, time.time() - t0, "ok", attempt)
        except Exception as e:  # noqa: BLE001 — isolate any per-table failure
            last_err = e
    return IngestResult(
        table,
        0,
        time.time() - t0,
        "failed",
        retries + 1,
        f"{type(last_err).__name__}: {last_err}",
    )


def run_pipeline(
    spark: SparkSession,
    catalog: DataFrame,
    sources: dict[str, DataFrame],
    lake_dir: str,
    database: str,
    retries: int = 2,
) -> list[IngestResult]:
    """detect -> manifest -> parallel per-table ingest (retried, isolated)
    -> per-run status file + one history write for the run.

    ``catalog``: (table_name, update_time) freshness. ``sources``: table_name
    -> source DataFrame (parquet lake or JDBC — same interface)."""
    history_df = hist.latest_runs(spark, lake_dir)
    changed = [r["table_name"] for r in detect_changes(catalog, history_df).collect()]
    write_manifest(os.path.join(lake_dir, "meta", "pending_tables.json"), changed)

    pending = [t for t in sorted(changed) if t in sources]
    if not pending:  # empty manifest skips cleanly (INGEST-DAG:49-51)
        return []

    run_time = hist.utcnow()  # before any source read: see history.py
    with ThreadPoolExecutor(max_workers=MAX_WORKERS) as pool:
        futures = [
            pool.submit(
                ingest_table_with_retry, spark, sources[t], lake_dir, database, t, retries
            )
            for t in pending
        ]
        results = [f.result() for f in futures]

    # Per-run status record beside the pending manifest: operators see which
    # tables failed (and why) without scanning the audit table.
    write_json(
        os.path.join(lake_dir, "meta", "last_run_status.json"),
        {
            r.table: {
                "status": r.status,
                "attempts": r.attempts,
                "row_count": r.row_count,
                "seconds": round(r.seconds, 3),
                "error": r.error,
            }
            for r in results
        },
    )
    hist.append_run(
        spark,
        lake_dir,
        database,
        [(r.table, r.row_count) for r in results if r.status == "ok"],
        run_time,
    )
    return results
