"""Ingestion-parity tests: change-detection null semantics (FIXTURES.md §2
truth table + property-based vs DuckDB), type-mapping STRING fallback,
manifest round-trip edge cases, and the end-to-end pipeline on a tmp lake."""

from __future__ import annotations

import datetime as dt
import json

import duckdb
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import types as T

from feature_datalake_sl_mandic_spark.ingest import manifest as mf
from feature_datalake_sl_mandic_spark.ingest.change_detection import detect_changes
from feature_datalake_sl_mandic_spark.ingest.type_mapping import (
    schema_to_ddl,
    spark_to_target_type,
)
from tests.conftest import SF_SMALL

TS = dt.datetime(2024, 1, 15, 12, 0, 0)
CATALOG_SCHEMA = T.StructType(
    [
        T.StructField("table_name", T.StringType()),
        T.StructField("update_time", T.TimestampType()),
    ]
)
HISTORY_SCHEMA = T.StructType(
    [
        T.StructField("table_name", T.StringType()),
        T.StructField("last_exec", T.TimestampType()),
    ]
)


def _detect(spark, catalog_rows, history_rows):
    cat = spark.createDataFrame(catalog_rows, CATALOG_SCHEMA)
    hist = spark.createDataFrame(history_rows, HISTORY_SCHEMA)
    return {
        r["table_name"]: r["reason"] for r in detect_changes(cat, hist).collect()
    }


class TestChangeDetectionTruthTable:
    """verifica_carga_slmandicprd.py:91-100 semantics, case by case."""

    def test_never_loaded_reloads(self, spark):
        out = _detect(spark, [("t1", TS)], [])
        assert out == {"t1": "never_loaded"}

    def test_null_update_time_skips(self, spark):
        out = _detect(spark, [("t1", None)], [])
        assert out == {}

    def test_null_update_time_skips_even_with_history(self, spark):
        out = _detect(spark, [("t1", None)], [("t1", TS)])
        assert out == {}

    def test_stale_reloads(self, spark):
        out = _detect(spark, [("t1", TS)], [("t1", TS - dt.timedelta(hours=1))])
        assert out == {"t1": "stale"}

    def test_fresh_skips(self, spark):
        out = _detect(spark, [("t1", TS)], [("t1", TS + dt.timedelta(hours=1))])
        assert out == {}

    def test_equal_timestamps_skip(self, spark):
        # strictly-greater comparison: equality is NOT a reload
        out = _detect(spark, [("t1", TS)], [("t1", TS)])
        assert out == {}


@settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    lattice=st.lists(
        st.tuples(
            st.integers(0, 9),  # table id
            st.one_of(st.none(), st.integers(0, 100)),  # update offset hours
            st.one_of(st.none(), st.integers(0, 100)),  # last_exec offset hours
        ),
        min_size=1,
        max_size=12,
        unique_by=lambda t: t[0],
    )
)
def test_change_detection_matches_sql_anti_join(spark, lattice):
    """Property: DataFrame result == DuckDB left-join anti-pattern over
    randomized timestamp lattices."""
    catalog = [
        (f"t{i}", TS + dt.timedelta(hours=u) if u is not None else None)
        for i, u, _ in lattice
    ]
    history = [
        (f"t{i}", TS + dt.timedelta(hours=e))
        for i, _, e in lattice
        if e is not None
    ]
    got = _detect(spark, catalog, history)

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE cat (table_name VARCHAR, update_time TIMESTAMP);"
        "CREATE TABLE hist (table_name VARCHAR, last_exec TIMESTAMP);"
    )
    con.executemany("INSERT INTO cat VALUES (?, ?)", catalog or [(None, None)])
    if history:
        con.executemany("INSERT INTO hist VALUES (?, ?)", history)
    want = dict(
        con.execute(
            """
            SELECT c.table_name,
                   CASE WHEN h.last_exec IS NULL THEN 'never_loaded' ELSE 'stale' END
            FROM cat c LEFT JOIN hist h USING (table_name)
            WHERE c.table_name IS NOT NULL AND c.update_time IS NOT NULL
              AND (h.last_exec IS NULL OR c.update_time > h.last_exec)
            """
        ).fetchall()
    )
    assert got == want


class TestTypeMapping:
    def test_scalar_map(self):
        assert spark_to_target_type(T.StringType()) == "STRING"
        assert spark_to_target_type(T.IntegerType()) == "INT64"
        assert spark_to_target_type(T.LongType()) == "INT64"
        assert spark_to_target_type(T.ShortType()) == "INT64"
        assert spark_to_target_type(T.DoubleType()) == "FLOAT64"
        assert spark_to_target_type(T.FloatType()) == "FLOAT64"
        assert spark_to_target_type(T.BooleanType()) == "BOOL"
        assert spark_to_target_type(T.TimestampType()) == "TIMESTAMP"
        assert spark_to_target_type(T.DateType()) == "DATE"
        assert spark_to_target_type(T.BinaryType()) == "BYTES"

    def test_unknown_degrades_to_string(self):
        # the reference's default branch (spark_ingest_slmandicprd.py:81)
        assert spark_to_target_type(T.DecimalType(12, 2)) == "STRING"
        assert spark_to_target_type(T.ArrayType(T.IntegerType())) == "STRING"
        assert spark_to_target_type(T.MapType(T.StringType(), T.LongType())) == "STRING"
        assert spark_to_target_type(T.StructType([])) == "STRING"

    def test_ddl_idempotent_create(self):
        schema = T.StructType(
            [
                T.StructField("id", T.LongType()),
                T.StructField("name", T.StringType()),
                T.StructField("amount", T.DecimalType(12, 2)),
            ]
        )
        ddl = schema_to_ddl(schema, "db_raw", "tbl")
        assert ddl == (
            "CREATE TABLE IF NOT EXISTS db_raw.tbl "
            "(id INT64, name STRING, amount STRING)"
        )


class TestManifest:
    def test_round_trip(self, tmp_path):
        p = str(tmp_path / "m.json")
        mf.write_manifest(p, ["b", "a"])
        assert mf.read_manifest(p) == ["a", "b"]

    def test_missing_file_empty(self, tmp_path):
        assert mf.read_manifest(str(tmp_path / "nope.json")) == []

    def test_corrupt_json_empty(self, tmp_path):
        p = tmp_path / "bad.json"
        p.write_text("{not json]")
        assert mf.read_manifest(str(p)) == []

    def test_non_list_payload_empty(self, tmp_path):
        p = tmp_path / "obj.json"
        p.write_text(json.dumps({"a": 1}))
        assert mf.read_manifest(str(p)) == []


class TestPipeline:
    def test_end_to_end(self, spark, tmp_path):
        """detect -> manifest -> parallel ingest -> history append, then a
        second run sees everything fresh and ingests nothing."""
        from feature_datalake_sl_mandic_spark.ingest import history as hist
        from feature_datalake_sl_mandic_spark.ingest.pipeline import run_pipeline
        from feature_datalake_sl_mandic_spark.sources import parquet as lake

        lake_dir = str(tmp_path / "lake")
        now = dt.datetime.now()
        sources = {
            "customer": spark.read.parquet("/root/testdata/sf0.001/customer.parquet"),
            "nation": spark.read.parquet("/root/testdata/sf0.001/nation.parquet"),
        }
        catalog = spark.createDataFrame(
            [("customer", now), ("nation", now), ("ghost", None)], CATALOG_SCHEMA
        )

        results = run_pipeline(spark, catalog, sources, lake_dir, "testdb")
        assert {r.table for r in results} == {"customer", "nation"}
        counts = {r.table: r.row_count for r in results}
        assert counts["customer"] == 150 and counts["nation"] == 25

        # lake has the data; history has one row per ingested table
        assert lake.read_table(spark, lake_dir, "testdb", "customer").count() == 150
        latest = hist.latest_runs(spark, lake_dir).collect()
        assert {r["table_name"] for r in latest} == {"customer", "nation"}

        # run 2: catalog unchanged (update_time == before last_exec) -> no work
        results2 = run_pipeline(spark, catalog, sources, lake_dir, "testdb")
        assert results2 == []

    def test_poisoned_table_is_isolated_and_retried(self, spark, tmp_path):
        """One failing table must not sink the batch: the good table ingests,
        the poisoned one records a 'failed' result after bounded retries,
        writes NO history row (so the next run re-detects it), and the
        per-run status manifest records both outcomes."""
        from pyspark.sql import functions as F

        from feature_datalake_sl_mandic_spark.ingest import history as hist
        from feature_datalake_sl_mandic_spark.ingest.pipeline import run_pipeline

        lake_dir = str(tmp_path / "lake")
        now = dt.datetime.now()
        poison = spark.range(3).select(
            F.when(F.col("id") >= 0, F.raise_error(F.lit("poison"))).alias("v")
        )
        sources = {
            "nation": spark.read.parquet("/root/testdata/sf0.001/nation.parquet"),
            "bad": poison,
        }
        catalog = spark.createDataFrame(
            [("nation", now), ("bad", now)], CATALOG_SCHEMA
        )

        results = run_pipeline(
            spark, catalog, sources, lake_dir, "testdb", retries=1
        )
        by_table = {r.table: r for r in results}
        assert by_table["nation"].status == "ok"
        assert by_table["nation"].row_count == 25
        assert by_table["bad"].status == "failed"
        assert by_table["bad"].attempts == 2  # initial try + 1 retry
        assert "poison" in (by_table["bad"].error or "")

        # history: only the successful table — the failed one stays stale
        latest = hist.latest_runs(spark, lake_dir).collect()
        assert {r["table_name"] for r in latest} == {"nation"}

        status = json.loads((tmp_path / "lake" / "meta" / "last_run_status.json").read_text())
        assert status["bad"]["status"] == "failed"
        assert status["nation"]["status"] == "ok"

        # run 2: the failed table is re-detected (never_loaded), nation is fresh
        results2 = run_pipeline(
            spark, catalog, sources, lake_dir, "testdb", retries=0
        )
        assert {r.table for r in results2} == {"bad"}
        assert results2[0].status == "failed"

    def test_one_history_write_per_run(self, spark, tmp_path, monkeypatch):
        """The 4-thread pool only writes data: the run appends its history
        once, after the pool, with exactly one row per ingested table, all
        stamped with the run's single timestamp."""
        from pyspark.sql import functions as F

        from feature_datalake_sl_mandic_spark.ingest import history as hist
        from feature_datalake_sl_mandic_spark.ingest.pipeline import run_pipeline

        tables = ["customer", "nation", "orders", "part", "region", "supplier"]
        sources = {
            t: spark.read.parquet(f"{SF_SMALL}/{t}.parquet") for t in tables
        }
        catalog = spark.createDataFrame(
            [(t, dt.datetime.now()) for t in tables], CATALOG_SCHEMA
        )
        calls = []
        real_append = hist.append_run

        def spy(*args, **kwargs):
            calls.append(args)
            return real_append(*args, **kwargs)

        monkeypatch.setattr(hist, "append_run", spy)
        lake_dir = str(tmp_path / "lake")
        results = run_pipeline(spark, catalog, sources, lake_dir, "testdb")
        assert sorted(r.table for r in results) == tables
        assert all(r.status == "ok" and r.attempts == 1 for r in results)
        assert len(calls) == 1

        history = spark.read.parquet(hist.history_path(lake_dir))
        per_table = {
            r["table_name"]: r["n"]
            for r in history.groupBy("table_name").agg(F.count(F.lit(1)).alias("n")).collect()
        }
        assert per_table == {t: 1 for t in tables}
        assert history.select("execution_time").distinct().count() == 1

    def test_history_write_failure_raises_without_rewrite(
        self, spark, tmp_path, monkeypatch
    ):
        from feature_datalake_sl_mandic_spark.ingest import history as hist
        from feature_datalake_sl_mandic_spark.ingest import pipeline

        ingested = []
        real_ingest = pipeline.ingest_table

        def count_ingest(*args):
            ingested.append(args[4])
            return real_ingest(*args)

        def broken_append(*args, **kwargs):
            raise RuntimeError("history unavailable")

        monkeypatch.setattr(pipeline, "ingest_table", count_ingest)
        monkeypatch.setattr(hist, "append_run", broken_append)
        sources = {
            t: spark.read.parquet(f"{SF_SMALL}/{t}.parquet") for t in ("nation", "region")
        }
        catalog = spark.createDataFrame(
            [(t, dt.datetime.now()) for t in sources], CATALOG_SCHEMA
        )
        with pytest.raises(RuntimeError, match="history unavailable"):
            pipeline.run_pipeline(spark, catalog, sources, str(tmp_path / "lake"), "testdb")
        assert sorted(ingested) == ["nation", "region"]

    def test_latest_runs_without_history_is_empty(self, spark, tmp_path):
        from feature_datalake_sl_mandic_spark.ingest import history as hist

        latest = hist.latest_runs(spark, str(tmp_path / "lake"))
        assert latest.columns == ["table_name", "last_exec"]
        assert latest.collect() == []

    def test_observed_count_no_second_scan(self, spark, tmp_path):
        from feature_datalake_sl_mandic_spark.ingest.history import observed_count
        from feature_datalake_sl_mandic_spark.sources import parquet as lake

        df = spark.read.parquet("/root/testdata/sf0.001/region.parquet")
        observed, obs = observed_count(df)
        lake.write_table(observed, str(tmp_path), "db", "region")
        assert obs.get["row_count"] == 5


class TestJdbcConfig:
    def test_partitioned_reader_options(self):
        from feature_datalake_sl_mandic_spark.sources.jdbc import (
            JdbcConfig,
            MSSQL_DRIVER,
            mssql_catalog_query,
            mysql_catalog_query,
        )

        cfg = JdbcConfig(
            url="jdbc:mysql://h/db?zeroDateTimeBehavior=CONVERT_TO_NULL",
            user="u",
            password="p",
        )
        opts = cfg.options()
        assert opts["driver"].startswith("com.mysql")
        assert "zeroDateTimeBehavior=CONVERT_TO_NULL" in opts["url"]
        assert "table_schema = 'db'" in mysql_catalog_query("db")
        assert "sys.tables" in mssql_catalog_query() and "dbo" in mssql_catalog_query()
        assert MSSQL_DRIVER.endswith("SQLServerDriver")


class TestScd2:
    def test_scd2_apply_null_transitions_and_noops(self, spark):
        from feature_datalake_sl_mandic_spark.ingest.scd import HIGH_DATE, scd2_apply
        import pyspark.sql.functions as F

        dim = spark.createDataFrame(
            [
                (1, "alice", "gold", None),     # tracked attr NULL -> value
                (2, "bob", None, "BR"),         # tracked NULL stays NULL (no-op)
                (3, "carol", "silver", "US"),   # value change
                (4, "dave", "bronze", "AR"),    # untouched (not in batch)
            ],
            "k INT, name STRING, tier STRING, country STRING",
        )
        dim = (
            dim.withColumn("valid_from", F.lit("2023-01-01").cast("date"))
            .withColumn("valid_to", F.lit(HIGH_DATE).cast("date"))
            .withColumn("is_current", F.lit(1))
        )
        updates = spark.createDataFrame(
            [
                (1, "gold", "FR"),    # NULL -> FR : change
                (2, None, "BR"),      # identical incl NULL : no-op
                (3, "gold", "US"),    # silver -> gold : change
                (5, "new", None),     # brand-new key
            ],
            "k INT, tier STRING, country STRING",
        )
        out = scd2_apply(dim, updates, "k", ["tier", "country"], "2024-06-01")
        rows = {(r.k, str(r.valid_from), r.is_current): r for r in out.collect()}

        assert len(rows) == 7  # 4 original-era rows (2 closed) + 2 new versions + 1 insert
        # k=1: closed old (country NULL) + open new (country FR)
        assert rows[(1, "2023-01-01", 0)].country is None
        assert str(rows[(1, "2023-01-01", 0)].valid_to) == "2024-06-01"
        assert rows[(1, "2024-06-01", 1)].country == "FR"
        assert rows[(1, "2024-06-01", 1)].name == "alice"  # non-tracked carried
        # k=2: single untouched current version (NULL == NULL is not a change)
        assert rows[(2, "2023-01-01", 1)].is_current == 1
        assert (2, "2024-06-01", 1) not in rows
        # k=3: versioned
        assert rows[(3, "2023-01-01", 0)].tier == "silver"
        assert rows[(3, "2024-06-01", 1)].tier == "gold"
        # k=4: untouched
        assert rows[(4, "2023-01-01", 1)].valid_to.year == 9999
        # k=5: inserted, non-tracked attrs NULL
        assert rows[(5, "2024-06-01", 1)].name is None


class TestIncrementalRefresh:
    def test_retraction_and_new_group(self, spark):
        from feature_datalake_sl_mandic_spark.ingest.incremental import (
            aggregate_batch,
            incremental_refresh,
        )
        import pyspark.sql.functions as F

        base = spark.createDataFrame(
            [("a", 10.0), ("a", 20.0), ("b", 5.0)], "k STRING, v DOUBLE"
        )
        mv = aggregate_batch(base, ["k"], {"total": "v"})
        # retraction: remove one 'a' row (negative delta); new group 'c'
        delta_rows = spark.createDataFrame(
            [("a", -20.0, -1), ("c", 7.0, 1)], "k STRING, v DOUBLE, sign INT"
        )
        delta = delta_rows.groupBy("k").agg(
            F.sum("sign").cast("bigint").alias("n_rows"),
            F.sum(F.col("v").cast("decimal(38,6)")).alias("total"),
        )
        out = {
            r.k: (r.n_rows, float(r.total))
            for r in incremental_refresh(mv, delta, ["k"], ["total"]).collect()
        }
        assert out == {"a": (1, 10.0), "b": (1, 5.0), "c": (1, 7.0)}
