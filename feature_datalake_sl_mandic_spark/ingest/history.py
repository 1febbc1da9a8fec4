"""Run-history audit log (``historico_execucao`` parity).

The reference appends one metadata row per ingested table to a BigQuery
table ``Historico_Execucao`` (schema at ``spark_ingest_slmandicprd.py:115-132``,
append at ``:136-141``) and later reads it back with a 30-day
partition-pruned MAX…GROUP BY in BigQuery SQL
(``verifica_carga_slmandicprd.py:74-82``).

Here the history is a date-partitioned parquet table (partition column =
execution_date). Its rows are control plane, a handful per run, so like the
pending-tables manifest (``manifest.py``) the driver writes and reads them
itself with pyarrow instead of running Spark jobs: ``append_run`` writes one
run's rows as one parquet file, and ``latest_runs`` prunes to the last N
days' partitions, takes the max per table in Arrow and hands Spark the result
as a local relation.

History is written once per run: ``append_run`` takes all of a run's rows
and writes them as one file, renamed into place so no reader (Spark or
pyarrow) sees a partial one. Every row of a run carries the same timestamp,
taken before any source is read, so a source change that lands mid-run is
newer than the run and is picked up by the next one.

Anti-pattern fixed (SURVEY.md §4): the reference re-scans the whole source
with ``df.count()`` *after* writing (``spark_ingest_slmandicprd.py:108``).
``observed_count`` attaches ``df.observe()`` so the row count is collected as
a side metric of the single write pass.
"""

from __future__ import annotations

import datetime as dt
import os
import time
import uuid

import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

# Reference's explicit metadata schema (spark_ingest_slmandicprd.py:115-121),
# all nullable. FILE_SCHEMA is what a history file holds; execution_date is
# the hive partition. Files written by Spark hold execution_time as INT96,
# which pyarrow reads as naive ns: reading with HISTORY_SCHEMA casts every
# file to one type.
FILE_SCHEMA = pa.schema(
    [
        ("table_name", pa.string()),
        ("name_dataBase", pa.string()),
        ("row_count", pa.int32()),
        ("execution_time", pa.timestamp("us", tz="UTC")),
    ]
)
HISTORY_SCHEMA = FILE_SCHEMA.append(pa.field("execution_date", pa.date32()))


def observed_count(df: DataFrame) -> tuple[DataFrame, Observation]:
    """Attach an Observation counting rows during the write action itself —
    replaces the reference's second full scan (S7 anti-pattern)."""
    obs = Observation(f"ingest_metrics_{time.time_ns()}")
    return df.observe(obs, F.count(F.lit(1)).alias("row_count")), obs


def history_path(lake_dir: str) -> str:
    return os.path.join(lake_dir, "meta", "historico_execucao")


def utcnow() -> dt.datetime:
    """Naive UTC timestamp, the history's ``execution_time`` convention."""
    return dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)


def append_run(
    spark: SparkSession,
    lake_dir: str,
    database: str,
    rows: list[tuple[str, int]],
    execution_time: dt.datetime | None = None,
) -> None:
    """Append one run's audit rows, ``(table_name, row_count)`` each, as one
    parquet file (S8/S11 parity) in its execution_date partition, so the
    freshness lookup partition-prunes. No rows, no write."""
    if not rows:
        return
    execution_time = execution_time or utcnow()
    names, counts = zip(*rows)
    table = pa.table(
        {
            "table_name": list(names),
            "name_dataBase": [database] * len(rows),
            "row_count": [int(c) for c in counts],
            # a naive time is local time, the instant Spark stores for it
            "execution_time": [execution_time.astimezone(dt.timezone.utc)] * len(rows),
        },
        schema=FILE_SCHEMA,
    )
    part = os.path.join(
        history_path(lake_dir), f"execution_date={execution_time.date().isoformat()}"
    )
    os.makedirs(part, exist_ok=True)
    name = f"part-{uuid.uuid4().hex}.parquet"
    tmp = os.path.join(part, "." + name)  # dot files are hidden from readers
    pq.write_table(table, tmp)
    os.replace(tmp, os.path.join(part, name))


def latest_runs(
    spark: SparkSession, lake_dir: str, lookback_days: int = 30
) -> DataFrame:
    """(table_name, last_exec): MAX(execution_time) per table over the last N
    days — the reference's BQ query (``verifica_carga_slmandicprd.py:74-82``)
    as a partition-pruned Arrow aggregation, returned as a local relation.
    No history yet (first load) gives no rows; any other read error raises."""
    path = history_path(lake_dir)
    if os.path.exists(path):
        cutoff = (utcnow() - dt.timedelta(days=int(lookback_days))).date()
        runs = ds.dataset(path, schema=HISTORY_SCHEMA, partitioning="hive").to_table(
            columns=["table_name", "execution_time"],
            filter=ds.field("execution_date") >= cutoff,
        )
    else:
        runs = HISTORY_SCHEMA.empty_table()
    latest = runs.group_by("table_name").aggregate([("execution_time", "max")])
    return spark.createDataFrame(
        latest.select(["table_name", "execution_time_max"]).rename_columns(
            ["table_name", "last_exec"]
        )
    )
