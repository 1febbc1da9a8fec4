"""Run-history audit log (``historico_execucao`` parity).

The reference appends one metadata row per ingested table to a BigQuery
table ``Historico_Execucao`` (schema at ``spark_ingest_slmandicprd.py:115-132``,
append at ``:136-141``) and later reads it back with a 30-day
partition-pruned MAX…GROUP BY in BigQuery SQL
(``verifica_carga_slmandicprd.py:74-82``).

Here the history is a date-partitioned parquet table; ``latest_runs`` is the
same aggregation as a DataFrame plan, so the partition filter prunes files
(partition column = execution_date) instead of relying on a warehouse.

History is written once per run: ``append_run`` takes all of a run's rows
and appends them in one Spark job. A plain parquet directory has no commit
protocol, so concurrent appends to it (one per pipeline worker thread) clash
on the shared ``_temporary`` directory and can leave duplicate rows; a
single writer per run cannot. Every row of a run carries the same timestamp,
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

from pyspark.sql import DataFrame, Observation, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Reference's explicit metadata schema (spark_ingest_slmandicprd.py:115-121),
# all nullable.
HISTORY_SCHEMA = T.StructType(
    [
        T.StructField("table_name", T.StringType(), True),
        T.StructField("name_dataBase", T.StringType(), True),
        T.StructField("row_count", T.IntegerType(), True),
        T.StructField("execution_date", T.DateType(), True),
        T.StructField("execution_time", T.TimestampType(), True),
    ]
)


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
    """Append one run's audit rows, ``(table_name, row_count)`` each, in one
    write (S8/S11 parity), partitioned by execution_date so the freshness
    lookup partition-prunes. No rows, no write."""
    if not rows:
        return
    execution_time = execution_time or utcnow()
    records = [
        Row(
            table_name=table_name,
            name_dataBase=database,
            row_count=int(row_count),
            execution_date=execution_time.date(),
            execution_time=execution_time,
        )
        for table_name, row_count in rows
    ]
    (
        spark.createDataFrame(records, schema=HISTORY_SCHEMA)
        .coalesce(1)
        .write.mode("append")
        .partitionBy("execution_date")
        .parquet(history_path(lake_dir))
    )


def latest_runs(
    spark: SparkSession, lake_dir: str, lookback_days: int = 30
) -> DataFrame:
    """(table_name, last_exec): MAX(execution_time) per table over the last N
    days — the reference's BQ query (``verifica_carga_slmandicprd.py:74-82``)
    as a partition-pruned DataFrame aggregation. No history yet (first load)
    gives no rows; any other read error raises."""
    path = history_path(lake_dir)
    if not os.path.exists(path):
        return spark.createDataFrame([], "table_name string, last_exec timestamp")
    cutoff = F.current_timestamp() - F.expr(f"INTERVAL {int(lookback_days)} DAYS")
    return (
        spark.read.parquet(path)
        .where(F.col("execution_date") >= F.to_date(cutoff))
        .groupBy("table_name")
        .agg(F.max("execution_time").alias("last_exec"))
    )
