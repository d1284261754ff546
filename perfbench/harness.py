"""One benchmark run: a cold set-up, the measured window, teardown, and
the metric sets it reports."""

from __future__ import annotations

import json
import os
import time

from perfbench import measure

DRIVER_MEMORY = "2g"

END_TO_END = {
    "setup_s": "s",
    "latency_p50_s": "s",
    "rows_per_s": "rows/s",
    "rss_p50_mb": "MB",
}

PER_LAYER = {
    "process.peak_rss_mb": "MB",
    "session.get_spark_s": "s",
    "session.warmup_s": "s",
    "stream.triggers": "count",
    "stream.rows_per_trigger_p50": "rows",
    "stream.trigger_ms_p50": "ms",
    "stream.latest_offset_ms_p50": "ms",
    "stream.get_batch_ms_p50": "ms",
    "stream.add_batch_ms_p50": "ms",
    "stream.wal_commit_ms_p50": "ms",
    "stream.commit_offsets_ms_p50": "ms",
    "stream.residual_ms_p50": "ms",
    "pipeline.build_s_p50": "s",
    "pipeline.force_s_p50": "s",
    "python_filter.rows_in": "rows",
    "python_filter.rows_out": "rows",
    "python_filter.fallback_batches": "count",
    "snapshot.commit_s_p50": "s",
    "snapshot.commit_growth": "ratio",
    "snapshot.versions": "count",
    "snapshot.verify_read_s": "s",
    "gen.late_max_s": "s",
    "gen.backlog_files_max": "count",
    "ref_sim.rows_per_s": "rows/s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.jvm_gc_s": "s",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.cpu_utilization": "ratio",
}


class Run:
    """State of one run: its arguments, scratch directory and what the
    workload records while it measures."""

    def __init__(self, root, workload, seed, seconds, trace, work):
        self.root = root
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.work = work
        self.tracer = measure.Tracer(trace, f"{workload}-seed{seed}")
        self.layer: dict[str, float] = {}
        self.notes: dict = {}
        self.samples: dict[str, list[float]] = {}  # written to the results file only
        self.problems: list[str] = []
        self.attempted = 0
        self.failed = 0
        self.window = (0.0, 0.0)
        self.cpus = len(os.sched_getaffinity(0))

    def spark_conf(self) -> dict[str, str]:
        conf = {
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.sql.streaming.numRecentProgressUpdates": "1000",
            "spark.ui.showConsoleProgress": "false",
        }
        if self.tracer.enabled:
            conf.update(measure.eventlog_conf(os.path.join(self.work, "eventlog")))
        return conf


def start_session(run):
    from foglamp_filter_python35_spark.session import get_spark

    spark = get_spark(
        app_name=f"perfbench-{run.workload}",
        master=f"local[{run.cpus}]",
        shuffle_partitions=run.cpus,
        extra_conf=run.spark_conf(),
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm(spark) -> None:
    """Stop the session, then the JVM (and the Python workers it forked),
    and wait for the JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    # the gateway server exits on EOF of its stdin
    proc.stdin.close()
    proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def execute(run: Run, workload) -> dict:
    """Set up cold (JVM launch, SparkContext start, warm-up), measure,
    tear down.  One set-up per run, because only the first one in a
    process launches the JVM, as a real session start does; the spread
    of ``setup_s`` comes from repeated runs."""
    tracer = run.tracer
    with tracer.span("prepare_inputs"):
        workload.prepare(run)
    spark = None
    with measure.RssSampler() as rss:
        try:
            with tracer.span("setup"):
                t0 = time.perf_counter()
                with tracer.span("session.get_spark"):
                    spark = start_session(run)
                t1 = time.perf_counter()
                with tracer.span("warm_up"):
                    workload.warm_up(run, spark)
                t2 = time.perf_counter()
            regime = measure.regime(
                spark, run.root, os.path.join(run.root, "foglamp_filter_python35_spark")
            )
            with tracer.span("measure"):
                e2e = workload.measure(run, spark)
            app_id = spark.sparkContext.applicationId
        finally:
            if spark is not None:
                stop_jvm(spark)
    e2e["setup_s"] = t2 - t0
    in_window = [b for t, b in rss.series if run.window[0] <= t <= run.window[1]]
    e2e["rss_p50_mb"] = measure.median(in_window or [b for _, b in rss.series]) / 2**20
    measured = {
        "process.peak_rss_mb": max(b for _, b in rss.series) / 2**20,
        "session.get_spark_s": t1 - t0,
        "session.warmup_s": t2 - t1,
        **run.layer,
    }
    if tracer.enabled:
        log = measure.eventlog_path(os.path.join(run.work, "eventlog"), app_id)
        if log is None:
            run.problems.append("traced run wrote no event log")
        else:
            measured.update(measure.eventlog_totals(log, run.window, run.cpus))
    return {
        "workload": run.workload,
        "seed": run.seed,
        "seconds": run.seconds,
        "trace": tracer.enabled,
        "regime": regime,
        "correct": not run.problems and run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "problems": run.problems,
        "end_to_end": e2e,
        "per_layer": {**dict.fromkeys(PER_LAYER, 0.0), **measured},
        # layers this workload does not run; they report 0
        "bypassed": sorted(set(PER_LAYER) - set(measured)),
        "notes": run.notes,
        "samples": run.samples,
    }


def write_json(path: str, payload: dict) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as fh:
        json.dump(payload, fh, indent=1, sort_keys=True)
