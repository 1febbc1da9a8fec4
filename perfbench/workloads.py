"""The benchmark's workloads: their inputs, their passes and their output checks.

- ``olap_star``: eight star-schema queries (scans, shuffles, joins, windows).
- ``llm_corpus``: four corpus dedup / retrieval queries, where much of a pass
  is spent inside the Python query function (eager pins, collects, Arrow).
- ``lake_ingest``: the reference's own job, a full load of eight tables through
  ``run_pipeline`` (one of them read over JDBC from embedded Derby), an
  incremental cycle, then transaction-log work on ``orders``.

Every query output goes to the noop sink, never ``count()``, so no column can
be pruned away.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import lakegen
from outcome import Outcome

INGEST_SF = 0.01  # lake_ingest's costs are per table and per commit, not per row
_KEYS_SEED_OFFSET = 7919  # lake_ingest's change set and key sets: a stream of their own

OLAP_STAR = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "set_ops_nations",
    "window_rank_orders",
    "agg_rollup_orders",
    "customers_pareto_abc",
    "events_sessionize",
]
LLM_CORPUS = [
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard_capped",
    "ann_ivf_pq",
    "semdedup_cluster_cosine",
]


@dataclass
class PassRecord:
    outcomes: list[Outcome] = field(default_factory=list)
    traced: bool = False
    op_windows: list[tuple[float, float]] = field(default_factory=list)  # epoch ms
    build_windows: list[tuple[float, float]] = field(default_factory=list)
    layer: dict[str, float] = field(default_factory=dict)
    spans: list = field(default_factory=list)

    @property
    def seconds(self) -> float:
        return sum(o.seconds for o in self.outcomes)


class Ctx:
    """What a workload needs from the run: the session, the tracer and its
    scratch space."""

    def __init__(self, spark, tracer, work_dir: str, seed: int, trace: bool):
        self.spark, self.tracer = spark, tracer
        self.work_dir, self.seed, self.trace = work_dir, seed, trace

    def timed(self, rec: PassRecord, name: str, fn, attempted=None):
        """Run one operation and record its outcome; returns fn's result, or
        None when it raised. ``attempted(result)`` gives (attempted, failed,
        errors) for an operation made of several attempts."""
        t0 = time.perf_counter()
        sp = self.tracer.begin("op", op=name)
        out, n_att, n_failed, errors = None, 1, 0, []
        try:
            out = fn()
        except Exception as e:  # noqa: BLE001 - a failed operation is counted, not fatal
            n_failed, errors = 1, [f"{name}: {type(e).__name__}: {str(e)[:300]}"]
        finally:
            self.tracer.end(sp)
        t1 = time.perf_counter()
        if attempted is not None and out is not None:
            n_att, n_failed, errors = attempted(out)
        rec.outcomes.append(Outcome(name, t1 - t0, n_att, n_failed, errors))
        rec.op_windows.append((self.tracer.epoch_ms(t0), self.tracer.epoch_ms(t1)))
        return out


def pipeline_outcome(results) -> tuple[int, int, list[str]]:
    """(attempted, failed, errors) of a ``run_pipeline`` call: one attempt per
    table, a failure per ``IngestResult`` with status "failed"."""
    bad = [f"{r.table}: {r.error}" for r in results if r.status == "failed"]
    return len(results), len(bad), bad


# ------------------------------------------------------------------ queries


class QueryWorkload:
    def __init__(self, names: list[str], sf: float, nominal_pass_s: float):
        self.names, self.sf = names, sf
        # seconds per pass assumed when turning --seconds into a pass count
        self.nominal_pass_s = nominal_pass_s

    def make_inputs(self, work_dir: str, seed: int) -> None:
        """The seeded multi-file lake (numpy and pyarrow only, no Spark)."""
        self.lake = os.path.join(work_dir, "lake")
        self.tables = lakegen.make_tables(self.sf)
        lakegen.write_lake(self.tables, self.lake, seed)

    def setup(self, ctx: Ctx) -> None:
        from feature_datalake_sl_mandic_spark import registry

        specs = registry.load_all()
        missing = [n for n in self.names if n not in specs]
        if missing:
            raise KeyError(f"queries not registered: {missing}")
        self.specs = {n: specs[n] for n in self.names}

    def run_pass(self, ctx: Ctx, traced: bool) -> PassRecord:
        from feature_datalake_sl_mandic_spark.session import release_cached

        rec = PassRecord(traced=traced)
        tr = ctx.tracer
        plan_ms = 0.0
        for name in self.names:
            fn = self.specs[name].fn

            def op(fn=fn, name=name):
                nonlocal plan_ms
                with tr.span("operators.build", query=name) as sp:
                    df = fn(ctx.spark, self.lake)
                if sp is not None:
                    rec.build_windows.append((tr.epoch_ms(sp.start), tr.epoch_ms(time.perf_counter())))
                    with tr.span("catalyst.plan", query=name):
                        plan_ms += _plan_ms(df)
                with tr.span("exec.noop_write", query=name):
                    df.write.format("noop").mode("overwrite").save()

            ctx.timed(rec, name, op)
            release_cached(ctx.spark)
        if traced:
            rec.layer["catalyst.plan_s"] = plan_ms / 1000.0
        return rec

    def warm_up(self, ctx: Ctx) -> None:
        """Run every query once, collecting its rows for ``check``."""
        from feature_datalake_sl_mandic_spark.session import release_cached

        self.results = {}
        for name, spec in self.specs.items():
            self.results[name] = spec.fn(ctx.spark, self.lake).toPandas()
            release_cached(ctx.spark)

    def check(self, ctx: Ctx) -> list[str]:
        """Compare each warm-up result with its DuckDB oracle over the same
        parquet files (``oracle.compare``). Returns the mismatches."""
        import duckdb

        from feature_datalake_sl_mandic_spark import oracle

        con = duckdb.connect()
        try:
            for t in self.tables:
                glob = os.path.join(self.lake, f"{t}.parquet", "*.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{glob}')")
            errors = []
            for name, spec in self.specs.items():
                want = con.execute(spec.oracle).df()
                errors += [e for e in oracle.compare(self.results[name], want, name) if "WARNING" not in e]
            return errors
        finally:
            con.close()


def _plan_ms(df) -> float:
    """Analysis + optimization + planning milliseconds of ``df``'s query
    execution, from Catalyst's own QueryPlanningTracker."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    total = 0.0
    for phase in ("analysis", "optimization", "planning"):
        got = phases.get(phase)
        if got.isDefined():
            total += got.get().durationMs()
    return total


# ------------------------------------------------------------- lake ingest

INGEST_TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events"]
JDBC_TABLE = "customer"
_BIG = ["orders", "lineitem", "events"]
_SMALL = ["region", "nation", "supplier", "part"]
DB = "bench"
TX_KEY = "o_orderkey"
N_APPENDS = 5


def _catalog_rows(changed: set[str], old: dt.datetime, new: dt.datetime):
    return [(t, new if t in changed else old) for t in INGEST_TABLES]


def _utcnow() -> dt.datetime:
    return dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)


def _normalized(pdf) -> list[tuple]:
    """Rows of a pandas frame as comparable tuples, timestamps as epoch us."""
    pdf = pdf.sort_values(TX_KEY).reset_index(drop=True)
    for c in pdf.columns:
        if str(pdf[c].dtype).startswith("datetime64"):
            pdf[c] = pdf[c].astype("datetime64[us]").astype("int64")
    return list(pdf.itertuples(index=False, name=None))


class LakeBytes:
    """Bytes written under a directory, counted by new file paths seen
    between operations (files are never rewritten in place)."""

    def __init__(self, root: str):
        self.root, self.seen, self.written = root, set(), 0

    def files(self) -> dict[str, int]:
        out = {}
        for d, _dirs, names in os.walk(self.root):
            for n in names:
                p = os.path.join(d, n)
                out[p] = os.path.getsize(p)
        return out

    def scan(self) -> dict[str, int]:
        now = self.files()
        self.written += sum(sz for p, sz in now.items() if p not in self.seen)
        self.seen.update(now)
        return now


class IngestWorkload:
    nominal_pass_s = 10.0  # seconds per pass, as for QueryWorkload

    def make_inputs(self, work_dir: str, seed: int) -> None:
        """Source files, txlog batches and key sets (numpy and pyarrow only);
        ``setup`` fills Derby from them."""
        base = os.path.join(work_dir, "inputs")
        all_tables = lakegen.make_tables(INGEST_SF)
        self.tables = {t: all_tables[t] for t in INGEST_TABLES}
        self.src = lakegen.write_lake(self.tables, os.path.join(base, "src"), seed)
        self.src_bytes = {t: lakegen.dir_bytes(p) for t, p in self.src.items()}

        rng = np.random.default_rng(seed + _KEYS_SEED_OFFSET)
        # one large and one small parquet table, plus the JDBC table (its read
        # is the costliest small one): every seed changes the same work
        self.changed = {str(rng.choice(_BIG)), str(rng.choice(_SMALL)), JDBC_TABLE}

        orders = self.tables["orders"]
        n = orders.num_rows
        tx = os.path.join(base, "tx")
        # the txlog table starts from orders in key order, one key range per
        # file, so a key-range predicate can skip files by their stats
        self.tx_base = os.path.join(tx, "base")
        os.makedirs(self.tx_base)
        for i, idx in enumerate(np.array_split(np.arange(n), 4)):
            pq.write_table(orders.take(pa.array(idx)), os.path.join(self.tx_base, f"part-{i:05d}.parquet"))
        batch = n // 50

        def rows_like(keys: np.ndarray, bump: float) -> pa.Table:
            src = orders.take(pa.array(rng.integers(0, n, len(keys))))
            price = np.round(np.asarray(src["o_totalprice"]) + bump, 2)
            return src.set_column(0, TX_KEY, pa.array(keys, pa.int64())).set_column(
                3, "o_totalprice", pa.array(price)
            )

        self.tx_appends = []
        for i in range(N_APPENDS):
            d = os.path.join(tx, f"append-{i}")
            os.makedirs(d)
            keys = n + i * batch + np.arange(batch)
            pq.write_table(rows_like(keys, 0.0), os.path.join(d, "part-00000.parquet"))
            self.tx_appends.append(d)
        # MERGE: half updates of existing keys, half inserts of new keys
        upd_keys = np.sort(
            np.concatenate(
                [rng.choice(n, batch // 2, replace=False), n + N_APPENDS * batch + np.arange(batch // 2)]
            )
        )
        self.tx_updates = os.path.join(tx, "merge")
        os.makedirs(self.tx_updates)
        pq.write_table(rows_like(upd_keys, 1.0), os.path.join(self.tx_updates, "part-00000.parquet"))
        width = n // 20
        lo = int(rng.integers(0, n - width))
        self.delete_range = (lo, lo + width - 1)
        width = n // 10
        lo = int(rng.integers(0, n - width))
        self.read_range = (lo, lo + width - 1)
        self.user_bytes_tx = lakegen.dir_bytes(tx)

    def setup(self, ctx: Ctx) -> None:
        from pyspark.sql import types as T

        from feature_datalake_sl_mandic_spark.sources import jdbc

        spark = ctx.spark
        # the JDBC-sourced table lives in embedded Derby
        self.jdbc_cfg = jdbc.derby_config(os.path.join(ctx.work_dir, "derby", "srcdb"))
        (
            spark.read.parquet(self.src[JDBC_TABLE])
            .write.format("jdbc")
            .options(**self.jdbc_cfg.options())
            .option("dbtable", JDBC_TABLE)
            .mode("overwrite")
            .save()
        )
        self.sources = {t: spark.read.parquet(p) for t, p in self.src.items() if t != JDBC_TABLE}
        self.sources[JDBC_TABLE] = jdbc.read_table(
            spark,
            self.jdbc_cfg,
            JDBC_TABLE,
            partition_column="c_custkey",
            lower_bound=0,
            upper_bound=self.tables[JDBC_TABLE].num_rows,
        )
        self.catalog_schema = T.StructType(
            [
                T.StructField("table_name", T.StringType()),
                T.StructField("update_time", T.TimestampType()),
            ]
        )
        # catalog freshness: every table updated a day ago; the incremental
        # cycle marks the seeded subset as updated after the full load
        self.t_old = _utcnow() - dt.timedelta(days=1)
        self.t_new = _utcnow() + dt.timedelta(days=1)
        self.catalog_full = spark.createDataFrame(_catalog_rows(set(), self.t_old, self.t_old), self.catalog_schema)
        self.n_pass = 0
        if ctx.trace:
            self._wrap_layers(ctx.tracer)

    def _wrap_layers(self, tr) -> None:
        """Spans around the layer calls ``run_pipeline`` makes itself."""
        from feature_datalake_sl_mandic_spark.ingest import history, pipeline
        from feature_datalake_sl_mandic_spark.sources import parquet

        tr.wrap(pipeline, "ingest_table", "ingest.pipeline.ingest_table", lambda *a, **k: {"table": a[4]})
        tr.wrap(parquet, "write_table", "sources.parquet.write_table", lambda *a, **k: {"table": a[3]})
        tr.wrap(history, "append_run", "ingest.history.append_run")
        tr.wrap(history, "latest_runs", "ingest.history.latest_runs")
        real_detect = pipeline.detect_changes

        def detect(catalog, hist_df):
            # the pipeline collects the returned frame: the span ends there
            return _CollectSpan(real_detect(catalog, hist_df), tr, tr.begin("ingest.change_detection.detect"))

        tr.patch(pipeline, "detect_changes", detect)

    def run_pass(self, ctx: Ctx, traced: bool) -> PassRecord:
        from feature_datalake_sl_mandic_spark.ingest import cdf
        from feature_datalake_sl_mandic_spark.ingest.pipeline import run_pipeline
        from feature_datalake_sl_mandic_spark.session import release_cached
        from feature_datalake_sl_mandic_spark.sources.txlog import TxTable

        spark, tr = ctx.spark, ctx.tracer
        rec = PassRecord(traced=traced)
        self.n_pass += 1
        lake = self.lake = os.path.join(ctx.work_dir, "lake", f"pass-{self.n_pass}")
        prev = os.path.join(ctx.work_dir, "lake", f"pass-{self.n_pass - 1}")
        shutil.rmtree(prev, ignore_errors=True)
        os.makedirs(lake)
        bytes_ = LakeBytes(lake)
        lay = rec.layer
        user_bytes = 0

        def pipeline(catalog):
            with tr.span("ingest.pipeline.run_pipeline"):
                return run_pipeline(spark, catalog, self.sources, lake, DB)

        full = ctx.timed(rec, "full_load", lambda: pipeline(self.catalog_full), pipeline_outcome) or []
        if traced:
            bytes_.scan()
            user_bytes += sum(self.src_bytes.values())

        def incremental():
            catalog = spark.createDataFrame(
                _catalog_rows(self.changed, self.t_old, self.t_new), self.catalog_schema
            )
            return pipeline(catalog)

        incr = ctx.timed(rec, "incr_cycle", incremental, pipeline_outcome) or []
        self.full_results, self.incr_results = full, incr
        if traced:
            bytes_.scan()
            user_bytes += sum(self.src_bytes[t] for t in self.changed)

        tx_path = os.path.join(lake, "tx", "orders")
        cdf_path = os.path.join(lake, "tx", "orders_cdf")
        tx: dict[str, object] = {}

        def create():
            tx["t"] = TxTable.create(spark, tx_path, spark.read.parquet(self.tx_base))

        def bootstrap():
            tx["cdf"] = cdf.bootstrap_cdf(spark, tx["t"], cdf_path)

        ctx.timed(rec, "txlog.create", create)
        ctx.timed(rec, "cdf.bootstrap", bootstrap)
        for i, d in enumerate(self.tx_appends):
            ctx.timed(rec, f"txlog.append-{i}", lambda d=d: tx["t"].append(spark.read.parquet(d)))
        ctx.timed(rec, "txlog.merge", lambda: tx["t"].merge(spark, spark.read.parquet(self.tx_updates), TX_KEY))
        ctx.timed(rec, "txlog.delete", lambda: tx["t"].delete_where(spark, TX_KEY, *self.delete_range))

        def read_pruned():
            df = tx["t"].read(spark, where=(TX_KEY, *self.read_range))
            df.write.format("noop").mode("overwrite").save()

        ctx.timed(rec, "txlog.read_pruned", read_pruned)
        if traced and "t" in tx:
            snap = tx["t"].snapshot()
            kept = snap.prune(TX_KEY, *self.read_range)
            lay["sources.txlog.prune_ratio"] = (len(snap.files) - len(kept)) / len(snap.files)
        self.cdf_summary = ctx.timed(
            rec, "cdf.apply", lambda: cdf.apply_cdf_batch(spark, tx["t"], tx["cdf"], TX_KEY)
        )
        ctx.timed(rec, "txlog.compact", lambda: tx["t"].compact(spark, 2))
        if traced and "t" in tx and "cdf" in tx:
            lay["sources.txlog.commits"] = sum(t.latest_version() + 1 for t in (tx["t"], tx["cdf"]))
            data = {
                p: sz
                for p, sz in bytes_.scan().items()
                if p.endswith(".parquet") and os.sep + "tx" + os.sep in p
            }
            lay["sources.txlog.files_written"] = len(data)
            lay["sources.txlog.bytes_written"] = sum(data.values())
            user_bytes += self.user_bytes_tx
        ctx.timed(rec, "txlog.vacuum", lambda: tx["t"].vacuum(keep_last=2))
        self.tx = tx
        release_cached(spark)
        if traced:
            self._layer_metrics(rec, bytes_, user_bytes)
        return rec

    def _layer_metrics(self, rec: PassRecord, bytes_: LakeBytes, user_bytes: int) -> None:
        lay = rec.layer
        sec = {o.op: o.seconds for o in rec.outcomes}
        files = bytes_.scan()
        raw = [p for p in bytes_.seen if os.sep + f"{DB}_raw" + os.sep in p and p.endswith(".parquet")]
        live = sum(sz for p, sz in files.items() if p.endswith(".parquet") and os.sep + "tx" + os.sep not in p)
        for t in self.tx.values():
            live += sum(os.path.getsize(f) for f in t.snapshot().files)
        table_s = [r.seconds for r in self.full_results]
        lay.update(
            {
                "full_load_s": sec["full_load"],
                "incr_cycle_s": sec["incr_cycle"],
                "write_amp": bytes_.written / user_bytes,
                "space_amp": sum(files.values()) / live,
                "ingest.change_detection.changed_tables": len(self.incr_results),
                "ingest.pipeline.table_s_p50": statistics.median(table_s),
                "ingest.pipeline.table_s_max": max(table_s),
                "ingest.pipeline.attempts": sum(r.attempts for r in self.full_results + self.incr_results),
                "sources.parquet.files_written": len(raw),
                "sources.jdbc.rows": next(r.row_count for r in self.full_results if r.table == JDBC_TABLE),
                "sources.txlog.append_s": sum(v for k, v in sec.items() if k.startswith("txlog.append-")),
                "sources.txlog.merge_s": sec["txlog.merge"],
                "sources.txlog.delete_s": sec["txlog.delete"],
                "sources.txlog.read_pruned_s": sec["txlog.read_pruned"],
                "sources.txlog.compact_s": sec["txlog.compact"],
                "sources.txlog.vacuum_s": sec["txlog.vacuum"],
                "ingest.cdf.apply_s": sec["cdf.apply"],
                "ingest.cdf.rows_changed": sum(self.cdf_summary[k] for k in ("n_insert", "n_update", "n_delete")),
            }
        )

    def warm_up(self, ctx: Ctx) -> None:
        self.warm_record = self.run_pass(ctx, traced=False)

    def check(self, ctx: Ctx) -> list[str]:
        """The warm-up pass's lake read back with pyarrow (a reader independent
        of Spark) and checked against the inputs and the seeded change set.
        Returns the mismatches."""
        import pandas as pd
        import pyarrow.dataset as ds

        from feature_datalake_sl_mandic_spark.ingest import history
        from feature_datalake_sl_mandic_spark.ingest.manifest import read_manifest
        from feature_datalake_sl_mandic_spark.sources import parquet

        errors = [e for o in self.warm_record.outcomes for e in o.errors]
        if errors:
            return errors
        for t in INGEST_TABLES:
            got = ds.dataset(parquet.table_path(self.lake, DB, t)).count_rows()
            if got != self.tables[t].num_rows:
                errors.append(f"lake {t}: {got} rows, source has {self.tables[t].num_rows}")
        pending = set(read_manifest(os.path.join(self.lake, "meta", "pending_tables.json")))
        if pending != self.changed or {r.table for r in self.incr_results} != self.changed:
            errors.append(f"change detection: {sorted(pending)}, seeded {sorted(self.changed)}")
        names = ds.dataset(history.history_path(self.lake), partitioning="hive").to_table(["table_name"])
        runs = dict(pd.Series(names.column(0).to_pylist()).value_counts())
        want_runs = {t: 1 + (t in self.changed) for t in INGEST_TABLES}
        if runs != want_runs:
            retried = {r.table: r.attempts for r in self.full_results + self.incr_results if r.attempts > 1}
            errors.append(f"history rows per table {runs}, expected {want_runs} (tables retried: {retried})")

        # the same append / merge / delete computed directly
        base = pq.read_table(self.tx_base).to_pandas()
        upd = pq.read_table(self.tx_updates).to_pandas()
        expect = pd.concat([base] + [pq.read_table(d).to_pandas() for d in self.tx_appends])
        expect = pd.concat([expect[~expect[TX_KEY].isin(upd[TX_KEY])], upd])
        lo, hi = self.delete_range
        want = _normalized(expect[(expect[TX_KEY] < lo) | (expect[TX_KEY] > hi)])
        for label, table in (("txlog snapshot", self.tx["t"]), ("CDF target", self.tx["cdf"])):
            got = _normalized(ds.dataset(table.snapshot().files).to_table().to_pandas())
            if got != want:
                errors.append(f"{label}: {len(got)} rows, expected {len(want)} (or values differ)")
        base_keys, final_keys = set(base[TX_KEY]), {r[0] for r in want}
        updated = set(upd[TX_KEY]) & base_keys & final_keys
        changed_rows = len(final_keys - base_keys) + len(base_keys - final_keys) + len(updated)
        got_rows = sum(self.cdf_summary[k] for k in ("n_insert", "n_update", "n_delete"))
        if got_rows != changed_rows:
            errors.append(f"CDF rows changed {got_rows}, expected {changed_rows}")
        return errors


class _CollectSpan:
    """A DataFrame whose ``collect`` closes the span opened when it was built."""

    def __init__(self, df, tracer, span):
        self._df, self._tracer, self._span = df, tracer, span

    def collect(self):
        try:
            return self._df.collect()
        finally:
            self._tracer.end(self._span)

    def __getattr__(self, name):
        return getattr(self._df, name)


# olap_star runs at sf0.1, where Spark jobs hold most of a pass (at sf0.01
# fixed per-query costs outside the jobs were nearly half of it)
WORKLOADS = {
    "olap_star": lambda: QueryWorkload(OLAP_STAR, 0.1, 7.0),
    "llm_corpus": lambda: QueryWorkload(LLM_CORPUS, 0.01, 8.0),
    "lake_ingest": IngestWorkload,
}
