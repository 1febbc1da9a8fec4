"""Benchmark entry point.

    python3 perfbench/run.py --workload olap_star --seed 1 --seconds 10 --trace 0

Runs from the root of a checkout. Makes the workload's inputs from the seed in
its own scratch directory (``perfbench/.work/``, removed at exit), starts one
Spark session through the engine's ``session.get_spark``, sets up and warms it,
checks the warm-up pass's outputs, then runs passes over the workload's
operation list, one operation after another (a closed loop with one client),
for ``--seconds``. The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; with ``--trace 0`` the
metrics are the end-to-end ones, with ``--trace 1`` the per-layer ones.
"""

from __future__ import annotations

import sys

sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import time  # noqa: E402

import eventlog  # noqa: E402
import workloads  # noqa: E402
from outcome import fail_ratio, tally  # noqa: E402
from spans import Tracer, self_times  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "feature_datalake_sl_mandic_spark"

# name -> (unit, better); every traced run reports all of them (0 where the
# workload does not call the layer)
PER_LAYER = {
    "fail_ratio": ("ratio", "lower"),
    "trace.pass_s": ("s", "lower"),
    "trace.untraced_pass_s": ("s", "lower"),
    "trace.overhead_s": ("s", "lower"),
    "operators.build_s": ("s", "lower"),
    "operators.eager_jobs": ("count", "lower"),
    "catalyst.plan_s": ("s", "lower"),
    "exec.s": ("s", "lower"),
    "exec.jobs": ("count", "lower"),
    "exec.stages": ("count", "lower"),
    "exec.tasks": ("count", "lower"),
    "exec.task_s": ("s", "lower"),
    "exec.busy_ratio": ("ratio", "higher"),
    "exec.input_bytes": ("bytes", "lower"),
    "exec.shuffle_read_bytes": ("bytes", "lower"),
    "exec.shuffle_write_bytes": ("bytes", "lower"),
    "exec.task_skew": ("ratio", "lower"),
    "exec.spill_bytes": ("bytes", "lower"),
    "exec.gc_s": ("s", "lower"),
    "full_load_s": ("s", "lower"),
    "incr_cycle_s": ("s", "lower"),
    "write_amp": ("ratio", "lower"),
    "space_amp": ("ratio", "lower"),
    "ingest.change_detection.detect_s": ("s", "lower"),
    "ingest.change_detection.changed_tables": ("count", "lower"),
    "ingest.pipeline.table_s_p50": ("s", "lower"),
    "ingest.pipeline.table_s_max": ("s", "lower"),
    "ingest.pipeline.attempts": ("count", "lower"),
    "ingest.pipeline.self_s": ("s", "lower"),
    "ingest.history.append_s": ("s", "lower"),
    "ingest.history.latest_runs_s": ("s", "lower"),
    "sources.parquet.write_s": ("s", "lower"),
    "sources.parquet.files_written": ("count", "lower"),
    "sources.jdbc.read_s": ("s", "lower"),
    "sources.jdbc.rows": ("count", "higher"),
    "sources.txlog.append_s": ("s", "lower"),
    "sources.txlog.merge_s": ("s", "lower"),
    "sources.txlog.delete_s": ("s", "lower"),
    "sources.txlog.read_pruned_s": ("s", "lower"),
    "sources.txlog.compact_s": ("s", "lower"),
    "sources.txlog.vacuum_s": ("s", "lower"),
    "sources.txlog.commits": ("count", "lower"),
    "sources.txlog.files_written": ("count", "lower"),
    "sources.txlog.bytes_written": ("bytes", "lower"),
    "sources.txlog.prune_ratio": ("ratio", "higher"),
    "ingest.cdf.apply_s": ("s", "lower"),
    "ingest.cdf.rows_changed": ("count", "lower"),
    # peak RSS grows with the passes a run fits in and does not repeat within
    # a tenth across runs, so it is reported here rather than end to end
    "jvm_peak_rss_mb": ("MB", "lower"),
}
END_TO_END = {
    "setup_s": ("s", "lower"),
    "pass_s": ("s", "lower"),
}

# per-layer metric -> (span name, only spans whose attrs match, use self time)
_SPAN_METRICS = {
    "operators.build_s": ("operators.build", None, False),
    "ingest.change_detection.detect_s": ("ingest.change_detection.detect", None, False),
    "ingest.pipeline.self_s": ("ingest.pipeline.run_pipeline", None, True),
    "ingest.history.append_s": ("ingest.history.append_run", None, False),
    "ingest.history.latest_runs_s": ("ingest.history.latest_runs", None, False),
    "sources.parquet.write_s": ("sources.parquet.write_table", None, False),
    # the JDBC scan runs inside the write of the table it feeds
    "sources.jdbc.read_s": ("sources.parquet.write_table", {"table": workloads.JDBC_TABLE}, False),
}


def _start_session(work: str, trace: bool, log_path: str):
    """The engine's session, launched with the scratch space for every
    directory Spark or Derby would otherwise create in the working directory.
    The event log is on only in traced runs. Everything else, the heap
    included, is the engine's default."""
    if any(c.isspace() for c in work):
        raise ValueError(f"scratch path must not contain spaces: {work}")
    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        "spark.driver.extraJavaOptions": f"-Dderby.system.home={os.path.join(work, 'derby')}",
    }
    if trace:
        events = os.path.join(work, "eventlog")
        os.makedirs(events)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + events,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    os.environ.update(
        {
            "PYSPARK_SUBMIT_ARGS": " ".join(f"--conf {k}={v}" for k, v in conf.items()) + " pyspark-shell",
            "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
            "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
            "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
            "PYTHONDONTWRITEBYTECODE": "1",
            "TZ": "UTC",
        }
    )
    os.environ.pop("SPARK_DRIVER_MEM", None)  # the engine's default heap, whatever the shell says
    time.tzset()
    from feature_datalake_sl_mandic_spark.session import get_spark

    # the JVM (and its Python workers) inherit stdout and stderr: both go to
    # the log, so stdout carries only the result line
    sys.stdout.flush()
    sys.stderr.flush()
    saved = [os.dup(1), os.dup(2)]
    fd = os.open(log_path, os.O_WRONLY | os.O_CREAT | os.O_APPEND, 0o644)
    os.dup2(fd, 1)
    os.dup2(fd, 2)
    try:
        return get_spark(f"perfbench-{os.path.basename(work)}")
    finally:
        for target, dup in zip((1, 2), saved):
            os.dup2(dup, target)
            os.close(dup)
        os.close(fd)


def _stop_session(spark) -> None:
    """Stop Spark and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = gateway.proc
        gateway.shutdown()
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=120)


def _span_metrics(spans) -> dict[str, float]:
    selfs = self_times(spans)
    out = {}
    for metric, (name, match, use_self) in _SPAN_METRICS.items():
        out[metric] = sum(
            selfs[s.id] if use_self else s.dur
            for s in spans
            if s.name == name and all(s.attrs.get(k) == v for k, v in (match or {}).items())
        )
    return out


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def pass_seconds(records) -> float:
    """Seconds of one pass: the sum over its operations of each operation's
    median over the passes, so a load spike on one operation of one pass
    does not move it."""
    by_op: dict[str, list[float]] = {}
    for r in records:
        for o in r.outcomes:
            by_op.setdefault(o.op, []).append(o.seconds)
    return sum(_median(v) for v in by_op.values())


def run(workload: str, seed: int, seconds: float, trace: bool) -> tuple[dict, int]:
    work = os.path.join(HERE, ".work", f"{workload}-{seed}-{os.getpid()}")
    os.makedirs(work)
    cwd = os.getcwd()
    tracer = Tracer()
    spark = None
    try:
        os.chdir(work)  # derby.log and any other cwd-relative output land here
        wl = workloads.WORKLOADS[workload]()
        wl.make_inputs(work, seed)
        # set-up time is the engine's work only: session start, the workload's
        # set-up (registry load; Derby fill) and the warm-up pass
        t0 = time.perf_counter()
        spark = _start_session(work, trace, os.path.join(work, "spark.log"))
        t1 = time.perf_counter()
        ctx = workloads.Ctx(spark, tracer, work, seed, trace)
        wl.setup(ctx)
        t2 = time.perf_counter()
        wl.warm_up(ctx)
        t3 = time.perf_counter()
        setup_s = t3 - t0
        print(f"setup: session {t1 - t0:.2f}s, set-up {t2 - t1:.2f}s, warm-up {t3 - t2:.2f}s", file=sys.stderr)
        errors = wl.check(ctx)  # the warm-up's outputs, outside every timer

        # A fixed number of passes per --seconds, not "until the time is up":
        # the JVM keeps warming over the first passes, so every run must time
        # the same passes for their medians to compare.
        n_passes = max(4 if trace else 1, round(seconds / wl.nominal_pass_s))
        records = []
        for i in range(n_passes):
            # traced and untraced passes in ABBA order, so the warming trend
            # falls on both sides of the tracing overhead alike
            traced = trace and i % 4 in (0, 3)
            tracer.enabled = traced
            n0 = len(tracer.spans)
            rec = wl.run_pass(ctx, traced)
            tracer.enabled = False
            rec.spans = tracer.spans[n0:]
            records.append(rec)
            kind = "traced" if traced else "untraced"
            ops = " ".join(f"{o.op}={o.seconds:.3f}" for o in rec.outcomes)
            print(f"pass {len(records)} ({kind}): {rec.seconds:.3f}s [{ops}]", file=sys.stderr)
        app_id = spark.sparkContext.applicationId
        tracer.unwrap_all()
        _stop_session(spark)  # also flushes and closes the event log
        spark = None
        events = eventlog.read(os.path.join(work, "eventlog", app_id)) if trace else None
    finally:
        if spark is not None:
            tracer.unwrap_all()
            _stop_session(spark)
        os.chdir(cwd)
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))  # unless another run is using it

    outcomes = [o for r in records for o in r.outcomes]
    attempted, failed = tally(outcomes)
    for o in outcomes:
        for e in o.errors:
            print(f"failed: {e}", file=sys.stderr)
    for e in errors:
        print(f"check: {e}", file=sys.stderr)
    if trace:
        metrics = _trace_metrics(records, events)
        metrics["fail_ratio"] = fail_ratio(outcomes)
        # the JVM has exited and been waited for: it is the largest child
        metrics["jvm_peak_rss_mb"] = resource.getrusage(resource.RUSAGE_CHILDREN).ru_maxrss / 1024.0
        print(json.dumps({"span_summary": tracer.summary(), "spans": tracer.dump()}), file=sys.stderr)
        units = PER_LAYER
    else:
        metrics = {
            "setup_s": setup_s,
            "pass_s": pass_seconds(records),
        }
        units = END_TO_END
    # a failed operation in any pass fails the run, as does an output mismatch
    correct = not errors and failed == 0
    result = {
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k][0]} for k in units},
    }
    return result, (0 if correct else 1)


def _trace_metrics(records, log) -> dict[str, float]:
    """Per-layer metrics: the median over the traced passes of each."""
    cores = len(os.sched_getaffinity(0))
    traced = [r for r in records if r.traced]
    per_pass = []
    for r in traced:
        m = dict.fromkeys(PER_LAYER, 0.0)
        m.update(r.layer)
        m.update(_span_metrics(r.spans))
        m.update(eventlog.exec_metrics(log, r.op_windows, cores))
        m["operators.eager_jobs"] = len(eventlog.jobs_in(log, r.build_windows))
        per_pass.append(m)
    metrics = {k: _median([m[k] for m in per_pass]) for k in PER_LAYER}
    metrics["trace.pass_s"] = pass_seconds(traced)
    metrics["trace.untraced_pass_s"] = pass_seconds([r for r in records if not r.traced])
    metrics["trace.overhead_s"] = metrics["trace.pass_s"] - metrics["trace.untraced_pass_s"]
    return metrics


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args(argv)
    # a terminated run still stops Spark and removes its scratch space
    signal.signal(signal.SIGTERM, lambda signum, frame: sys.exit(128 + signum))
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"error: the engine package {PACKAGE}/ is not next to perfbench/ in {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    result, code = run(args.workload, args.seed, args.seconds, bool(args.trace))
    print(json.dumps(result))
    return code


if __name__ == "__main__":
    sys.exit(main())
