"""Transaction-log table format: atomic commits, snapshot isolation, time
travel, serializable rewrites, concurrent appends, vacuum, log-aware
compaction with no visibility gap."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from feature_datalake_sl_mandic_spark.sources.txlog import TxConflict, TxTable
from tests.conftest import SF_SMALL


@pytest.fixture()
def nation(spark):
    return spark.read.parquet(f"{SF_SMALL}/nation.parquet")


def test_create_read_append_time_travel(spark, nation, tmp_path):
    t = TxTable.create(spark, str(tmp_path / "t"), nation)
    assert t.latest_version() == 0
    assert t.read(spark).count() == 25

    extra = nation.withColumn("n_nationkey", F.col("n_nationkey") + 100)
    v1 = t.append(extra)
    assert v1 == 1
    assert t.read(spark).count() == 50
    # time travel: v0 still reads the original 25
    assert t.read(spark, version=0).count() == 25
    ops = [s.op for s in t.history()]
    assert ops == ["create", "append"]


def test_append_schema_mismatch_rejected(spark, nation, tmp_path):
    t = TxTable.create(spark, str(tmp_path / "t"), nation)
    with pytest.raises(ValueError, match="schema mismatch"):
        t.append(nation.withColumn("extra", F.lit(1)))


def test_snapshot_isolation_across_overwrite(spark, nation, tmp_path):
    """A reader's resolved snapshot keeps working after an overwrite commits
    — old files are immutable and survive until vacuum."""
    t = TxTable.create(spark, str(tmp_path / "t"), nation)
    reader_df = t.read(spark)  # resolves v0's file list
    t.overwrite(nation.where(F.col("n_nationkey") < 5))
    assert t.read(spark).count() == 5  # new readers see the overwrite
    assert reader_df.count() == 25  # old snapshot still consistent


def test_merge_upsert_semantics(spark, nation, tmp_path):
    t = TxTable.create(spark, str(tmp_path / "t"), nation)
    updates = nation.where(F.col("n_nationkey") < 3).withColumn(
        "n_name", F.lit("UPDATED")
    )
    inserts = nation.where(F.col("n_nationkey") < 2).withColumn(
        "n_nationkey", F.col("n_nationkey") + 1000
    )
    t.merge(spark, updates.unionByName(inserts), key="n_nationkey")
    out = t.read(spark)
    assert out.count() == 27  # 25 existing + 2 inserted
    assert out.where(F.col("n_name") == "UPDATED").count() == 3
    assert out.where(F.col("n_nationkey") >= 1000).count() == 2


def _commit_first_during_next_write(monkeypatch, other):
    """Make ``other()`` commit right after the next ``_write_files`` returns,
    i.e. between a writer reading its base version and committing."""
    real = TxTable._write_files
    fired = []

    def write_then_race(self, df):
        files = real(self, df)
        if not fired:
            fired.append(True)
            other()
        return files

    monkeypatch.setattr(TxTable, "_write_files", write_then_race)


def test_rewrite_conflict_detected(spark, nation, tmp_path, monkeypatch):
    """Serializable rewrites: a merge computed against a stale snapshot must
    raise TxConflict, not clobber the interleaved commit."""
    t = TxTable.create(spark, str(tmp_path / "t"), nation)
    extra = nation.withColumn("n_nationkey", F.col("n_nationkey") + 100)
    _commit_first_during_next_write(monkeypatch, lambda: TxTable(t.path).append(extra))
    with pytest.raises(TxConflict):
        t.merge(spark, nation.limit(1), key="n_nationkey")
    assert [s.op for s in t.history()] == ["create", "append"]
    assert t.read(spark).count() == 50
    # the primitive itself: a manifest built on a stale base never lands
    stale = t.snapshot(0)
    with pytest.raises(TxConflict):
        t._commit("merge", stale.schema_json, stale.entries(), stale)
    assert t.latest_version() == 1


def test_concurrent_appends_both_land(spark, nation, tmp_path, monkeypatch):
    """Optimistic concurrency for appends: writer B commits while writer A is
    writing its files — A rebases onto B's version and both land."""
    t = TxTable.create(spark, str(tmp_path / "t"), nation)
    b_rows = nation.where(F.col("n_nationkey").between(3, 5))
    _commit_first_during_next_write(monkeypatch, lambda: TxTable(t.path).append(b_rows))
    v = t.append(nation.where(F.col("n_nationkey") < 3))
    assert v == 2
    assert [s.op for s in t.history()] == ["create", "append", "append"]
    # both appends present on top of the original 25
    assert t.read(spark).count() == 25 + 3 + 3


def test_racing_create_raises_and_keeps_winner(spark, nation, tmp_path, monkeypatch):
    """Two creators of one path: the one that commits second gets TxConflict
    instead of committing its table as v1 over the winner's."""
    path = str(tmp_path / "t")
    winner = nation.where(F.col("n_nationkey") < 5)
    _commit_first_during_next_write(monkeypatch, lambda: TxTable.create(spark, path, winner))
    with pytest.raises(TxConflict):
        TxTable.create(spark, path, nation)
    t = TxTable(path)
    assert t.versions() == [0]
    assert t.read(spark).count() == 5


def test_commit_create_over_existing_v0_raises(spark, nation, tmp_path):
    t = TxTable.create(spark, str(tmp_path / "t"), nation)
    files = t._write_files(nation)
    with pytest.raises(TxConflict):
        t._commit("create", nation.schema.json(), files, None)
    assert t.versions() == [0]


def test_compact_no_visibility_gap_and_vacuum(spark, nation, tmp_path):
    t = TxTable.create(spark, str(tmp_path / "t"), nation)
    for i in range(3):
        t.append(
            nation.withColumn("n_nationkey", F.col("n_nationkey") + 100 * (i + 1))
        )
    before = t.read(spark).count()
    n_files_before = len(t.snapshot().files)
    v = t.compact(spark, n_files=1)
    assert len(t.snapshot().files) < n_files_before
    assert t.read(spark).count() == before
    # pre-compaction version still readable (no rename window, no lost path)
    assert t.read(spark, version=v - 1).count() == before

    # a batch another writer is still writing: not dead, whatever it holds
    in_flight = os.path.join(t.data_dir, "in-flight")
    os.makedirs(os.path.join(in_flight, "_temporary", "0"))
    removed = t.vacuum(keep_last=1)
    assert removed  # old files actually reclaimed
    assert t.read(spark).count() == before  # latest unaffected
    # no dead batch directory is left behind (Spark's _SUCCESS/.crc files too)
    live_batches = {os.path.dirname(f) for f in t.snapshot().files}
    batches = {os.path.join(t.data_dir, b) for b in os.listdir(t.data_dir)}
    assert batches == live_batches | {in_flight}
    with pytest.raises(FileNotFoundError):
        t.snapshot(version=0)  # beyond the retention horizon


def test_rollback_is_a_new_commit(spark, nation, tmp_path):
    t = TxTable.create(spark, str(tmp_path / "t"), nation)
    t.overwrite(nation.where(F.col("n_nationkey") < 5))
    v = t.rollback(0)
    assert v == 2  # history append-only: rollback doesn't erase v1
    assert t.read(spark).count() == 25
    assert t.snapshot().op == "rollback:0"


def test_rollback_then_vacuum_keeps_stats_for_pruning(spark, nation, tmp_path):
    """Rollback re-commits the old manifest's stats, so data skipping still
    works once vacuum has dropped the manifest rolled back to."""
    t = TxTable.create(spark, str(tmp_path / "t"), nation)  # keys 0..24
    t.append(nation.withColumn("n_nationkey", F.col("n_nationkey") + 100))
    t.overwrite(nation.limit(1))
    t.rollback(1)
    t.vacuum(keep_last=1)
    assert t.versions() == [3]
    snap = t.snapshot()
    assert all("n_nationkey" in snap.stats[f] for f in snap.files)
    assert 0 < len(snap.prune("n_nationkey", 100, 110)) < len(snap.files)
    assert t.read(spark, where=("n_nationkey", 100, 110)).count() == 11


def test_vacuum_rejects_keep_last_below_one(spark, nation, tmp_path):
    t = TxTable.create(spark, str(tmp_path / "t"), nation)
    t.overwrite(nation.limit(1))
    for bad in (0, -1):
        with pytest.raises(ValueError, match="keep_last"):
            t.vacuum(keep_last=bad)
    assert t.versions() == [0, 1]


def test_data_skipping_prunes_files(spark, nation, tmp_path):
    """Manifest min/max stats prune non-intersecting files before listing:
    three appends with disjoint key ranges -> a range read touches 1 file
    batch, and results match the unpruned filter exactly."""
    t = TxTable.create(spark, str(tmp_path / "t"), nation)  # keys 0..24
    t.append(nation.withColumn("n_nationkey", F.col("n_nationkey") + 100))
    t.append(nation.withColumn("n_nationkey", F.col("n_nationkey") + 200))

    snap = t.snapshot()
    assert snap.stats and all(
        "n_nationkey" in (snap.stats.get(f) or {}) for f in snap.files
    )
    pruned = snap.prune("n_nationkey", 100, 110)
    assert 0 < len(pruned) < len(snap.files)

    out = t.read(spark, where=("n_nationkey", 100, 110))
    full = t.read(spark).where(F.col("n_nationkey").between(100, 110))
    assert sorted(r["n_nationkey"] for r in out.collect()) == sorted(
        r["n_nationkey"] for r in full.collect()
    )


def test_delete_where_rewrites_only_touched_files(spark, nation, tmp_path):
    t = TxTable.create(spark, str(tmp_path / "t"), nation)  # keys 0..24
    t.append(nation.withColumn("n_nationkey", F.col("n_nationkey") + 100))
    before = t.snapshot()
    untouched_before = set(before.prune("n_nationkey", 100, 124)) ^ set(before.files)

    t.delete_where(spark, "n_nationkey", 100, 199)  # erase the second batch
    after = t.snapshot()
    assert after.op == "delete"
    out = t.read(spark)
    assert out.count() == 25
    assert out.where(F.col("n_nationkey") >= 100).count() == 0
    # files the predicate couldn't touch were carried over, not rewritten
    assert untouched_before <= set(after.files)
    # their stats survived for future skipping
    assert all("n_nationkey" in (after.stats.get(f) or {}) for f in after.files)


def test_delete_where_partial_file_rewrite(spark, nation, tmp_path):
    """Deleting a sub-range of one file keeps that file's survivors."""
    t = TxTable.create(spark, str(tmp_path / "t"), nation)
    t.delete_where(spark, "n_nationkey", 5, 9)
    out = t.read(spark)
    assert out.count() == 20
    assert out.where(F.col("n_nationkey").between(5, 9)).count() == 0
    assert out.where(F.col("n_nationkey") < 5).count() == 5


def test_delete_where_keeps_null_keys(spark, tmp_path):
    """NULL is not in any range: a file-pruned DELETE must not drop it."""
    df = spark.createDataFrame([(1,), (None,), (5,), (9,)], "k INT").coalesce(1)
    t = TxTable.create(spark, str(tmp_path / "t"), df)
    t.delete_where(spark, "k", 4, 6)
    assert sorted(t.read(spark).collect(), key=lambda r: (r.k is None, r.k)) == [
        (1,), (9,), (None,)
    ]


def test_delete_emptying_a_file_commits_no_zero_row_file(spark, nation, tmp_path):
    import os

    import pyarrow.parquet as pq

    t = TxTable.create(spark, str(tmp_path / "t"), nation)  # keys 0..24
    t.append(nation.withColumn("n_nationkey", F.col("n_nationkey") + 100))
    t.delete_where(spark, "n_nationkey", 100, 199)  # empties the appended file
    snap = t.snapshot()
    assert all(pq.read_metadata(f).num_rows > 0 for f in snap.files)
    on_disk = [
        os.path.join(d, f)
        for d, _, names in os.walk(t.data_dir)
        for f in names
        if f.endswith(".parquet")
    ]
    assert all(pq.read_metadata(f).num_rows > 0 for f in on_disk)
    assert t.read(spark).count() == 25


class TestChangeFeed:
    def test_change_feed_classifies_and_drops_unchanged(self, spark, tmp_path):
        import pyspark.sql.functions as F
        from feature_datalake_sl_mandic_spark.sources.txlog import TxTable

        base = spark.createDataFrame(
            [(1, "a", 10.0), (2, "b", None), (3, "c", 30.0), (4, "d", 40.0)],
            "k INT, name STRING, v DOUBLE",
        )
        t = TxTable.create(spark, str(tmp_path / "t"), base)
        # v1: update k=2 (NULL -> value), delete k=3, insert k=5, keep k=1/4
        after = spark.createDataFrame(
            [(1, "a", 10.0), (2, "b", 22.0), (4, "d", 40.0), (5, "e", None)],
            "k INT, name STRING, v DOUBLE",
        )
        t.overwrite(after)
        feed = t.change_feed(spark, key="k", from_version=0)
        rows = {(r.k, r._change_type): (r.name, r.v) for r in feed.collect()}
        assert rows == {
            (2, "update_preimage"): ("b", None),
            (2, "update_postimage"): ("b", 22.0),
            (3, "delete"): ("c", 30.0),
            (5, "insert"): ("e", None),
        }
