"""Transaction-log table format over parquet: ACID-ish tables without Delta.

BASELINE.json's north star names Parquet/Delta/Iceberg; ``delta-spark`` is
not installed in this environment, so this module supplies the essential
transaction-log semantics those formats provide, using only parquet + a JSON
log — the same published design (Iceberg spec / Delta log protocol): a table
is a DIRECTORY OF IMMUTABLE DATA FILES plus an ordered log of version
manifests, and the log — not the filesystem listing — defines table state.

Layout::

    <table>/data/<uuid>/part-*.parquet   immutable, never rewritten in place
    <table>/_txlog/v0000000001.json      manifest: file list + schema + op

Guarantees (and their mechanisms):

- **One commit rule**: every operation reads a base version, builds the
  WHOLE next manifest (file list + per-file stats) from it and claims
  ``base + 1`` (v0 for a new table) with ``os.link(tmp, vN.json)`` —
  hard-link creation is atomic and fails if the name exists, so exactly one
  writer wins a version number. A loser gets ``TxConflict``; only append
  and overwrite, which commute with any commit, re-read the latest version
  and retry. Readers only ever see fully-written manifests.
- **Snapshot isolation**: a reader resolves a manifest once and reads only
  the files it lists; since data files are immutable and never deleted by
  logical operations, the snapshot stays consistent for the reader's
  lifetime regardless of concurrent commits.
- **No visibility gap**: unlike directory-swap compaction
  (``maintenance.compact_table``), the table path never disappears —
  compaction/overwrite commit a new manifest and old files linger until
  ``vacuum``.
- **Serializable rewrites**: merge, delete, compact and rollback read
  ``base`` and write from that same snapshot, so a commit that landed in
  between makes them raise instead of silently clobbering it.
- **Time travel / rollback**: any historical version is readable; rollback
  is a NEW commit whose manifest equals the old version's (history is
  append-only, like Delta's RESTORE).

At 100 TB the same design holds: manifests carry file paths (O(files), kept
small by compaction), data moves only through executor-parallel writes, and
the only driver-side work is the JSON manifest — Iceberg's avro manifests
and Delta's checkpoints are optimizations of exactly this structure.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema


class TxConflict(RuntimeError):
    """A concurrent commit invalidated this operation's snapshot."""


@dataclass
class TxSnapshot:
    version: int
    files: list[str]
    schema_json: str
    op: str
    # per-file column ranges for data skipping: {path: {col: [min, max]}}
    stats: dict[str, dict[str, list]] | None = None

    def schema(self) -> T.StructType:
        return T.StructType.fromJson(json.loads(self.schema_json))

    def prune(self, col: str, lower, upper) -> list[str]:
        """Files whose [min, max] for ``col`` may intersect [lower, upper] —
        Iceberg-style manifest-level data skipping: the planner never even
        lists files the predicate can't touch. Files without stats for the
        column are conservatively kept."""
        if not self.stats:
            return self.files
        kept = []
        for f in self.files:
            rng = (self.stats.get(f) or {}).get(col)
            if rng is None or not (upper < rng[0] or lower > rng[1]):
                kept.append(f)
        return kept

    def entries(self) -> dict[str, dict[str, list]]:
        """``{path: stats}`` for every file: the manifest ``_commit`` takes."""
        stats = self.stats or {}
        return {f: stats.get(f, {}) for f in self.files}


_MAX_REBASES = 20


def _vname(version: int) -> str:
    return f"v{version:010d}.json"


def _footer_stats(md) -> dict[str, list]:
    """Column [min, max] of one file from its parquet footer (no data read) —
    the manifest-embedded statistics data skipping prunes on. Only
    JSON-stable scalar types are kept; other columns are simply not
    skippable. O(files) driver work per write, the same trade Iceberg makes
    writing manifest entries."""
    cols: dict[str, list] = {}
    for ci, name in enumerate(md.schema.names):
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(ci).statistics
            if st is None or not st.has_min_max:
                mins = []
                break
            mins.append(st.min)
            maxs.append(st.max)
        if mins and all(
            isinstance(v, (int, float, str, bool)) for v in (min(mins), max(maxs))
        ):
            cols[name] = [min(mins), max(maxs)]
    return cols


class TxTable:
    """Handle to a transaction-log table rooted at ``path``."""

    def __init__(self, path: str):
        self.path = path
        self.log_dir = os.path.join(path, "_txlog")
        self.data_dir = os.path.join(path, "data")

    # ------------------------------------------------------------- log I/O

    def versions(self) -> list[int]:
        try:
            names = os.listdir(self.log_dir)
        except FileNotFoundError:
            return []
        return sorted(
            int(n[1:-5]) for n in names if n.startswith("v") and n.endswith(".json")
        )

    def latest_version(self) -> int | None:
        vs = self.versions()
        return vs[-1] if vs else None

    def snapshot(self, version: int | None = None) -> TxSnapshot:
        v = self.latest_version() if version is None else version
        if v is None:
            raise FileNotFoundError(f"no committed version in {self.log_dir}")
        with open(os.path.join(self.log_dir, _vname(v))) as f:
            m = json.load(f)
        return TxSnapshot(v, m["files"], m["schema"], m["op"], m.get("stats"))

    def _commit(
        self,
        op: str,
        schema_json: str,
        files: dict[str, dict[str, list]],
        base: TxSnapshot | None,
    ) -> int:
        """Write the manifest ``files`` (``{path: stats}``, the whole file
        list) as version ``base.version + 1``, or v0 when ``base`` is None.
        Raises ``TxConflict`` when that version exists: another writer
        committed after ``base`` was read."""
        v = 0 if base is None else base.version + 1
        os.makedirs(self.log_dir, exist_ok=True)
        tmp = os.path.join(self.log_dir, f".tmp-{uuid.uuid4().hex}.json")
        with open(tmp, "w") as f:
            json.dump(
                {"files": list(files), "schema": schema_json, "op": op, "stats": files},
                f,
            )
        try:
            os.link(tmp, os.path.join(self.log_dir, _vname(v)))  # fails iff v exists
        except FileExistsError:
            raise TxConflict(
                f"{op}: v{v} was committed by another writer; "
                "re-run against the new snapshot"
            ) from None
        finally:
            os.unlink(tmp)
        return v

    def _commit_on_latest(self, op: str, schema_json: str, files_on) -> int:
        """Commit ``files_on(base)`` on the latest version, re-reading it and
        retrying when another writer claims the next version first. Only for
        operations that commute with any commit: append (its files go on top
        of whatever landed) and overwrite (it replaces it)."""
        for _ in range(_MAX_REBASES):
            v = self.latest_version()
            base = None if v is None else self.snapshot(v)
            try:
                return self._commit(op, schema_json, files_on(base), base)
            except TxConflict:
                continue
        raise TxConflict(f"{op}: no free version after {_MAX_REBASES} attempts")

    # ---------------------------------------------------------- data files

    def _write_files(self, df: DataFrame) -> dict[str, dict[str, list]]:
        """Write a batch of immutable data files; return ``{path: stats}``.
        Executor-parallel parquet write into a unique batch dir — nothing is
        visible to readers until the manifest referencing it commits. Spark
        writes one zero-row file for an empty result: it is deleted, so a
        manifest never lists a file without rows."""
        import pyarrow.parquet as pq

        batch = os.path.join(self.data_dir, uuid.uuid4().hex)
        df.write.parquet(batch)
        out = {}
        for name in sorted(os.listdir(batch)):
            if not name.endswith(".parquet"):
                continue
            path = os.path.join(batch, name)
            md = pq.ParquetFile(path).metadata
            if md.num_rows == 0:
                os.unlink(path)
            else:
                out[path] = _footer_stats(md)
        return out

    @staticmethod
    def _check_schema(df: DataFrame, snap: TxSnapshot) -> None:
        want = [(f.name, f.dataType.simpleString()) for f in snap.schema().fields]
        got = [(f.name, f.dataType.simpleString()) for f in df.schema.fields]
        if want != got:
            raise ValueError(f"schema mismatch: table {want} vs append {got}")

    # ---------------------------------------------------------- operations

    @classmethod
    def create(cls, spark: SparkSession, path: str, df: DataFrame) -> "TxTable":
        t = cls(path)
        if t.latest_version() is not None:
            raise FileExistsError(f"table already exists at {path}")
        t._commit("create", df.schema.json(), t._write_files(df), None)
        return t

    def append(self, df: DataFrame) -> int:
        snap = self.snapshot()
        self._check_schema(df, snap)
        new = self._write_files(df)
        return self._commit_on_latest(
            "append", snap.schema_json, lambda base: {**base.entries(), **new}
        )

    def overwrite(self, df: DataFrame) -> int:
        new = self._write_files(df)
        return self._commit_on_latest("overwrite", df.schema.json(), lambda base: new)

    def read(
        self,
        spark: SparkSession,
        version: int | None = None,
        where: tuple | None = None,
    ) -> DataFrame:
        """Read a snapshot. ``where=(col, lower, upper)`` applies the range
        predicate AND uses manifest stats to skip files whose [min, max]
        can't intersect — file-level pruning BEFORE Spark ever lists them
        (row-group pruning inside surviving files still happens via the
        pushed filter)."""
        snap = self.snapshot(version)
        files = snap.files if where is None else snap.prune(*where)
        if not files:  # a local relation: no Spark job when consumed
            return spark.createDataFrame(to_arrow_schema(snap.schema()).empty_table())
        df = spark.read.schema(snap.schema()).parquet(*files)
        if where is not None:
            col, lower, upper = where
            df = df.where((df[col] >= lower) & (df[col] <= upper))
        return df

    def delete_where(self, spark: SparkSession, col: str, lower, upper) -> int:
        """Delete rows with ``col`` in [lower, upper] (the GDPR-erasure /
        retention shape); rows with a NULL ``col`` are kept. Untouched files
        are KEPT AS-IS with their stats (manifest stats prove
        non-intersection), only intersecting files are rewritten without the
        matching rows — Delta's file-pruned DELETE."""
        from pyspark.sql import functions as F

        snap = self.snapshot()
        touched = set(snap.prune(col, lower, upper))
        files = {f: s for f, s in snap.entries().items() if f not in touched}
        if touched:
            c = F.col(col)
            survivors = (
                spark.read.schema(snap.schema())
                .parquet(*sorted(touched))
                .where(c.isNull() | ~c.between(lower, upper))
            )
            files.update(self._write_files(survivors))
        return self._commit("delete", snap.schema_json, files, snap)

    def merge(self, spark: SparkSession, updates: DataFrame, key: str) -> int:
        """MERGE (SCD-1 upsert): updates win on ``key``, unmatched insert.
        Serializable: conflicts raise TxConflict rather than losing either
        writer's rows. (Full rewrite; Delta/Iceberg prune to matched files.)"""
        snap = self.snapshot()
        current = self.read(spark, version=snap.version)
        merged = current.join(updates, key, "left_anti").unionByName(updates)
        return self._commit("merge", snap.schema_json, self._write_files(merged), snap)

    def compact(self, spark: SparkSession, n_files: int) -> int:
        """Log-aware compaction: rewrite the current snapshot into
        ``n_files`` files and commit. Readers of ANY version keep working —
        the table path never vanishes (contrast maintenance.compact_table's
        rename window) and old files stay until vacuum."""
        snap = self.snapshot()
        current = self.read(spark, version=snap.version)
        files = self._write_files(current.repartition(n_files))
        return self._commit("compact", snap.schema_json, files, snap)

    def rollback(self, to_version: int) -> int:
        old = self.snapshot(to_version)
        return self._commit(
            f"rollback:{to_version}", old.schema_json, old.entries(), self.snapshot()
        )

    def vacuum(self, keep_last: int = 2) -> list[str]:
        """Delete data files unreferenced by the ``keep_last`` newest
        manifests (and drop older manifests). A batch directory whose data
        files are all unreferenced is removed whole; one still being written
        (it holds Spark's ``_temporary``) is left alone. Time travel beyond
        the horizon is traded for space — same contract as Delta VACUUM."""
        if keep_last < 1:
            raise ValueError(f"keep_last must be >= 1, got {keep_last}")
        vs = self.versions()
        keep_vs = vs[-keep_last:]
        live: set[str] = set()
        for v in keep_vs:
            live.update(self.snapshot(v).files)
        removed = []
        for batch in os.listdir(self.data_dir) if os.path.isdir(self.data_dir) else []:
            bdir = os.path.join(self.data_dir, batch)
            names = os.listdir(bdir)
            if "_temporary" in names:
                continue  # a write still in flight
            files = [os.path.join(bdir, f) for f in names if f.endswith(".parquet")]
            dead = [p for p in files if p not in live]
            removed.extend(dead)
            if len(dead) == len(files):
                # also drops the _SUCCESS and .crc files Spark writes beside them
                shutil.rmtree(bdir)
            else:
                for p in dead:
                    os.unlink(p)
        for v in vs[:-keep_last]:
            os.unlink(os.path.join(self.log_dir, _vname(v)))
        return removed

    def history(self) -> list[TxSnapshot]:
        return [self.snapshot(v) for v in self.versions()]

    def change_feed(
        self,
        spark: SparkSession,
        key: str,
        from_version: int,
        to_version: int | None = None,
    ) -> DataFrame:
        """Row-level change feed between two committed versions (Delta CDF /
        Iceberg changelog shape): full-outer join the snapshots on ``key``
        and classify each key as ``insert`` / ``delete`` / ``update_preimage``
        + ``update_postimage`` (unchanged rows drop out). Computed FROM the
        immutable snapshots, so any consumer can derive the feed for any
        version pair after the fact — no extra write-path bookkeeping. One
        shuffle on the key; at scale, manifest stats could restrict the join
        to files that actually changed between the versions."""
        from pyspark.sql import functions as F

        a = self.read(spark, version=from_version)
        b = self.read(spark, version=to_version)
        val_cols = [c for c in a.columns if c != key]
        differs = F.lit(False)
        for c in val_cols:
            differs = differs | ~F.col(f"a.{c}").eqNullSafe(F.col(f"b.{c}"))
        # explicit presence markers: value columns may be legitimately NULL
        in_a = F.col("a._present").isNotNull()
        in_b = F.col("b._present").isNotNull()
        ja = a.withColumn("_present", F.lit(1)).alias("a")
        jb = b.withColumn("_present", F.lit(1)).alias("b")
        j = ja.join(jb, on=key, how="full_outer")

        def side(alias: str, change: str) -> DataFrame:
            return j.select(
                F.col(key),
                *[F.col(f"{alias}.{c}").alias(c) for c in val_cols],
                F.lit(change).alias("_change_type"),
                in_a.alias("_in_a"),
                in_b.alias("_in_b"),
                differs.alias("_differs"),
            )

        inserts = side("b", "insert").where(~F.col("_in_a") & F.col("_in_b"))
        deletes = side("a", "delete").where(F.col("_in_a") & ~F.col("_in_b"))
        pre = side("a", "update_preimage").where(
            F.col("_in_a") & F.col("_in_b") & F.col("_differs")
        )
        post = side("b", "update_postimage").where(
            F.col("_in_a") & F.col("_in_b") & F.col("_differs")
        )
        return (
            inserts.unionByName(deletes).unionByName(pre).unionByName(post)
            .drop("_in_a", "_in_b", "_differs")
        )
