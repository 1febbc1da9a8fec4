"""The ingest control plane runs on the driver, not as Spark jobs.

Run history, the freshness lookup and empty txlog reads move a handful of
rows, so they run on the driver: a Spark job for them would sit on the
ingest critical path.

Jobs are counted from their ids, which the scheduler hands out in order:
a marker job run before and after an action brackets every job the action
submitted, from any thread.
"""

from __future__ import annotations

import datetime as dt
import os
import time
import uuid

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from feature_datalake_sl_mandic_spark.ingest import history as hist
from feature_datalake_sl_mandic_spark.ingest.cdf import apply_cdf_batch, bootstrap_cdf
from feature_datalake_sl_mandic_spark.ingest.change_detection import detect_changes
from feature_datalake_sl_mandic_spark.ingest.pipeline import run_pipeline
from feature_datalake_sl_mandic_spark.sources.txlog import TxTable
from tests.conftest import SF_SMALL

CATALOG_SCHEMA = "table_name string, update_time timestamp"


def _marker_job(sc) -> int:
    """Run one one-task job in its own job group and return its id."""
    group = f"marker-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        sc.parallelize([0], 1).count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    for _ in range(200):  # the status store is fed asynchronously
        ids = sc.statusTracker().getJobIdsForGroup(group)
        if ids:
            return ids[0]
        time.sleep(0.05)
    raise AssertionError(f"marker job of group {group} never reported")


class JobCounter:
    """Calling it returns the number of Spark jobs since the last call."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.last = _marker_job(self.sc)

    def __call__(self) -> int:
        mark = _marker_job(self.sc)
        n, self.last = mark - self.last - 1, mark
        return n


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _spark_history_append(spark, lake_dir, rows, execution_time):
    """A history append the way Spark wrote it before: INT96 execution_time."""
    schema = T.StructType(
        [
            T.StructField("table_name", T.StringType()),
            T.StructField("name_dataBase", T.StringType()),
            T.StructField("row_count", T.IntegerType()),
            T.StructField("execution_date", T.DateType()),
            T.StructField("execution_time", T.TimestampType()),
        ]
    )
    (
        spark.createDataFrame(
            [(t, "db", n, execution_time.date(), execution_time) for t, n in rows],
            schema,
        )
        .coalesce(1)
        .write.mode("append")
        .partitionBy("execution_date")
        .parquet(hist.history_path(lake_dir))
    )


@pytest.mark.parametrize("spark_file_first", [True, False])
def test_history_mixes_spark_and_pyarrow_files(spark, tmp_path, spark_file_first):
    """History written by Spark before (INT96 timestamps) and by pyarrow now
    reads back as one table, whichever of them is in the later partition."""
    lake_dir = str(tmp_path / "lake")
    day = hist.utcnow().replace(microsecond=0)
    early, late = day - dt.timedelta(days=2), day - dt.timedelta(days=1)
    old_time, new_time = (early, late) if spark_file_first else (late, early)
    _spark_history_append(spark, lake_dir, [("a", 1), ("b", 2)], old_time)
    hist.append_run(spark, lake_dir, "db", [("a", 3), ("c", 4)], new_time)

    want = {"a": late, "b": old_time, "c": new_time}
    latest = hist.latest_runs(spark, lake_dir).collect()
    assert {r["table_name"]: r["last_exec"] for r in latest} == want
    read = spark.read.parquet(hist.history_path(lake_dir))
    got = read.groupBy("table_name").agg(F.max("execution_time").alias("t")).collect()
    assert {r["table_name"]: r["t"] for r in got} == want
    assert read.count() == 4


def test_latest_runs_prunes_old_partitions(spark, tmp_path):
    lake_dir = str(tmp_path / "lake")
    now = hist.utcnow().replace(microsecond=0)
    hist.append_run(spark, lake_dir, "db", [("old", 1)], now - dt.timedelta(days=40))
    hist.append_run(spark, lake_dir, "db", [("new", 1)], now)
    latest = hist.latest_runs(spark, lake_dir).collect()
    assert [(r["table_name"], r["last_exec"]) for r in latest] == [("new", now)]


def test_history_write_leaves_no_temporary_file(spark, tmp_path):
    lake_dir = str(tmp_path / "lake")
    now = hist.utcnow()
    hist.append_run(spark, lake_dir, "db", [("a", 1), ("b", 2)], now)
    part = os.path.join(hist.history_path(lake_dir), f"execution_date={now.date()}")
    (name,) = os.listdir(part)
    assert name.startswith("part-") and name.endswith(".parquet")


def test_history_submits_no_jobs(spark, tmp_path):
    lake_dir = str(tmp_path / "lake")
    jobs = JobCounter(spark)
    hist.append_run(spark, lake_dir, "db", [("a", 1), ("b", 2)])
    assert jobs() == 0
    latest = hist.latest_runs(spark, lake_dir)
    assert jobs() == 0
    assert sorted(r["table_name"] for r in latest.collect()) == ["a", "b"]
    assert jobs() == 0  # a local relation: nothing to schedule


def test_empty_frames_are_local_relations(spark, tmp_path):
    latest = hist.latest_runs(spark, str(tmp_path / "lake"))
    assert "LocalTableScan" in _plan(latest)

    nation = spark.read.parquet(f"{SF_SMALL}/nation.parquet")
    t = TxTable.create(spark, str(tmp_path / "t"), nation)
    empty = t.read(spark, where=("n_nationkey", 1000, 2000))
    assert "LocalTableScan" in _plan(empty)
    assert empty.schema == t.snapshot().schema()
    assert empty.collect() == []


def test_cdf_apply_submits_no_job_before_its_write(spark, tmp_path):
    def df(rows):
        return spark.createDataFrame(rows, "k BIGINT, val BIGINT")

    source = TxTable.create(spark, str(tmp_path / "src"), df([(i, i) for i in range(10)]))
    source.overwrite(df([(i, 10 * i) for i in range(1, 12)]))
    target = bootstrap_cdf(spark, source, str(tmp_path / "tgt"), source_version=0)

    jobs = JobCounter(spark)
    before_write = []
    real_write = target._write_files

    def write_files(frame):
        before_write.append(jobs())
        return real_write(frame)

    target._write_files = write_files
    summary = apply_cdf_batch(spark, source, target, "k")
    assert before_write == [0]
    assert (summary["n_insert"], summary["n_update"], summary["n_delete"]) == (2, 9, 1)
    assert {r["k"]: r["val"] for r in target.read(spark).collect()} == {
        i: 10 * i for i in range(1, 12)
    }


def test_pipeline_runs_one_job_per_table(spark, tmp_path):
    """Besides the per-table writes, a run costs only the change-detection
    collect: no history write or read job."""
    tables = ["nation", "region", "supplier"]
    sources = {t: spark.read.parquet(f"{SF_SMALL}/{t}.parquet") for t in tables}
    catalog = spark.createDataFrame(
        [(t, dt.datetime.now()) for t in tables], CATALOG_SCHEMA
    )
    lake_dir = str(tmp_path / "lake")
    jobs = JobCounter(spark)
    detect_changes(catalog, hist.latest_runs(spark, lake_dir)).collect()
    detect_jobs = jobs()
    results = run_pipeline(spark, catalog, sources, lake_dir, "testdb")
    assert all(r.status == "ok" for r in results)
    assert jobs() == len(tables) + detect_jobs
