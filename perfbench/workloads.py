"""The workloads.  Each one writes its seeded inputs, warms up in its
set-up, then measures and verifies against the engine's
public API only:

* ``edge_trickle`` -- open loop: a generator thread drops 1,000-reading
  parquet files on a fixed schedule into a directory the default-trigger
  pipeline ``T9 scale35 -> snapshot_sink`` watches.  Small batches at the
  edge, where per-trigger cost and per-epoch commits dominate.
* ``bulk_replay`` -- closed loop: repeated ``availableNow`` drains of a
  pre-written drop of wide readings through the same pipeline in a few
  big triggers.  The backfill case, where T9's per-row marshal dominates.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import threading
import time

import numpy as np
import pyarrow.parquet as pq

from perfbench import filters, inputs
from perfbench.measure import median, tail_percentile

QUERY_NAME = "perfbench"
STREAM_PARTS = ("latestOffset", "getBatch", "addBatch", "walCommit", "commitOffsets")


# --- instrumented pipeline (shared by the streaming workloads) ---------------


class InstrumentedPipeline:
    """``run_micro_batch_pipeline([T9]) -> snapshot_sink`` with timing
    wrappers around the benchmark's own ``Stage.fn`` and sink.

    ``process`` in ``streaming.pipeline`` hands the sink either the forced
    filter output or, on the S3 fallback, the very input DataFrame it gave
    the stage; the sink wrapper tells the two apart by identity, so a
    fallback is seen without an extra Spark job."""

    def __init__(self, run, spark, src, table, checkpoint, filter_fn,
                 trigger=None, max_files_per_trigger=None):
        from foglamp_filter_python35_spark.config import FilterConfig
        from foglamp_filter_python35_spark.datamodel import READING_SCHEMA
        from foglamp_filter_python35_spark.operators.python_filter import (
            run_python_filter,
        )
        from foglamp_filter_python35_spark.registry import Stage
        from foglamp_filter_python35_spark.sources.readers import (
            stream_parquet_dir,
        )
        from foglamp_filter_python35_spark.sources.snapshot_table import (
            snapshot_sink,
        )
        from foglamp_filter_python35_spark.streaming.pipeline import (
            run_micro_batch_pipeline,
        )

        self.table = table
        self.checkpoint = checkpoint
        self.batches: dict[int, dict] = {}
        self._pending = None  # (stage input, build seconds) of the epoch
        commit = snapshot_sink(table, QUERY_NAME)

        def stage_fn(df, cfg):
            start, t0 = time.time(), time.perf_counter()
            out = run_python_filter(df, filter_fn, cfg)
            self._pending = (df, time.perf_counter() - t0)
            run.tracer.record("pipeline.build", start, time.time())
            return out

        def sink(df, epoch_id):
            pending, self._pending = self._pending, None
            fallback = pending is None or df is pending[0]
            start = time.time()
            commit(df, epoch_id)
            end = time.time()
            self.batches[epoch_id] = {
                "build_s": pending[1] if pending else 0.0,
                "sink_start": start,
                "sink_end": end,
                "fallback": fallback,
            }
            run.tracer.record("snapshot.commit", start, end, epoch=epoch_id)

        stage = Stage(
            "scale35",
            stage_fn,
            FilterConfig(name="scale35", enable=True,
                         params={"scale": filters.SCALE, "offset": filters.OFFSET}),
        )
        with run.tracer.span("stream.start"):
            self.query = run_micro_batch_pipeline(
                stream_parquet_dir(spark, src, READING_SCHEMA,
                                   max_files_per_trigger),
                [stage],
                sink,
                checkpoint_dir=checkpoint,
                query_name=QUERY_NAME,
                trigger=trigger,
            )

    def progress(self) -> list:
        return [p for p in self.query.recentProgress if p.numInputRows > 0]

    def file_batches(self) -> dict[str, int]:
        """Input file name -> batch id, from the file source's log."""
        out = {}
        for path in glob.glob(os.path.join(self.checkpoint, "sources", "0", "*")):
            with open(path) as fh:
                for line in fh.read().splitlines()[1:]:
                    entry = json.loads(line)
                    out[os.path.basename(entry["path"])] = entry["batchId"]
        return out

    def stop(self) -> None:
        self.query.stop()
        exc = self.query.exception()
        if exc is not None:
            raise RuntimeError(f"stream failed: {exc}")


def verify_stream(spark, run, pipe, n_points, rows_per_file, file_index):
    """Read the table back with ``read_snapshot`` and score every batch.

    Per input file the check counts rows, distinct ids, rows that are not
    the scale35 image of their input (or lost their asset code) and rows
    passed through unscaled.  A batch fails if any of its files is short,
    duplicated or wrong; it fell back if the pipeline's S3 path forwarded
    it or the T9 runner passed any of its rows through.  Returns
    ``(per_file, failed batch ids, fell-back batch ids)``."""
    from pyspark.sql import functions as F

    from foglamp_filter_python35_spark.sources.snapshot_table import read_snapshot

    ok = F.col("asset_code") == F.concat(
        F.lit("asset"),
        F.expr(f"pmod(id * 7 + {run.seed}, {inputs.N_ASSETS})").cast("string"),
    )
    raw = F.lit(True)
    for j in range(n_points):
        got, want = F.col("reading")[f"p{j}"], F.expr(inputs.point_sql(run.seed, j))
        ok = ok & (got == want * filters.SCALE + filters.OFFSET)
        raw = raw & (got == want)
    with run.tracer.span("snapshot.verify_read"):
        t0 = time.perf_counter()
        rows = (
            read_snapshot(spark, pipe.table)
            .groupBy(F.expr(f"id div {rows_per_file}").alias("f"))
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.countDistinct("id").alias("nd"),
                F.sum(F.when(ok, 0).otherwise(1)).alias("bad"),
                F.sum(F.when(raw, 1).otherwise(0)).alias("raw"),
            )
            .collect()
        )
        run.layer["snapshot.verify_read_s"] = time.perf_counter() - t0
    per_file = {r["f"]: (r["n"], r["nd"], r["bad"], r["raw"]) for r in rows}
    file_batch = pipe.file_batches()
    fallback = {e for e, b in pipe.batches.items() if b["fallback"]}
    failed = set(fallback)
    for name, batch in file_batch.items():
        got = per_file.get(file_index(name))
        if got != (rows_per_file, rows_per_file, 0, 0):
            failed.add(batch)
        if got and got[3]:
            fallback.add(batch)
    unknown = set(per_file) - {file_index(n) for n in file_batch}
    if unknown:
        run.problems.append(f"rows from files the source never read: {sorted(unknown)[:5]}")
    missing = set(file_batch.values()) - set(pipe.batches)
    if missing:
        run.problems.append(f"batches that never reached the sink: {sorted(missing)}")
    run.attempted += len(pipe.batches)
    run.failed += len(failed & set(pipe.batches))
    return per_file, failed, fallback


def stream_layer_metrics(progress, batches) -> dict:
    """Per-layer metrics of one stream from its progress and the
    wrappers' records."""
    trig = [p.durationMs.get("triggerExecution", 0) for p in progress]
    parts = {k: [p.durationMs.get(k, 0) for p in progress] for k in STREAM_PARTS}
    commit_s = [b["sink_end"] - b["sink_start"] for _, b in sorted(batches.items())]
    by_id = {p.batchId: p for p in progress}
    force_s = [
        by_id[e].durationMs.get("addBatch", 0) / 1e3 - b["build_s"]
        - (b["sink_end"] - b["sink_start"])
        for e, b in batches.items()
        if e in by_id
    ]
    decile = max(1, len(commit_s) // 10)
    first, last = median(commit_s[:decile]), median(commit_s[-decile:])
    residual = [
        p.durationMs.get("triggerExecution", 0)
        - sum(p.durationMs.get(k, 0) for k in STREAM_PARTS)
        for p in progress
    ]
    out = {
        "stream.triggers": len(progress),
        "stream.rows_per_trigger_p50": median([p.numInputRows for p in progress]),
        "stream.trigger_ms_p50": median(trig),
        "stream.latest_offset_ms_p50": median(parts["latestOffset"]),
        "stream.get_batch_ms_p50": median(parts["getBatch"]),
        "stream.add_batch_ms_p50": median(parts["addBatch"]),
        "stream.wal_commit_ms_p50": median(parts["walCommit"]),
        "stream.commit_offsets_ms_p50": median(parts["commitOffsets"]),
        "stream.residual_ms_p50": median(residual),
        "pipeline.build_s_p50": median([b["build_s"] for b in batches.values()]),
        "pipeline.force_s_p50": median(force_s),
        "python_filter.rows_in": sum(p.numInputRows for p in progress),
        "snapshot.commit_s_p50": median(commit_s),
        "snapshot.commit_growth": last / first if first else 0.0,
    }
    return out


def _check_warm(run, pipe) -> None:
    if any(b["fallback"] for b in pipe.batches.values()):
        run.problems.append("warm-up batch fell back: the T9 filter did not run")


# --- edge_trickle ------------------------------------------------------------


class EdgeTrickle:
    name = "edge_trickle"
    # files per second: one trigger takes 0.6-1.0 s on a shared 4-vCPU box,
    # so at this rate the engine idles between files and a file waits only
    # for its own trigger; at 1 file/s a slow spell of the box queues files
    rate_hz = 0.5
    warm_files = 1  # the first file starts the stream's own trigger loop; not timed
    late_limit_s = 0.5  # a file written later than this past its due time voids the run
    # triggers of the warm-up drain: the first triggers of a fresh JVM run
    # slower until the trigger path is compiled
    warm_triggers = 8

    def prepare(self, run) -> None:
        pass

    def warm_up(self, run, spark) -> None:
        """One ``availableNow`` drain of ``warm_triggers`` triggers of one
        small file per core: spawns a Python worker for every core and
        compiles the pipeline's code paths."""
        base = os.path.join(run.work, "warm")
        src = os.path.join(base, "src")
        os.makedirs(src)
        for f in range(run.cpus * self.warm_triggers):
            ids = np.arange(f * 250, (f + 1) * 250, dtype=np.int64)
            ts = (inputs.BULK_EPOCH_S + ids) * 1_000_000
            pq.write_table(
                inputs.readings_table(ids, run.seed, inputs.EDGE_POINTS, ts, "warm"),
                os.path.join(src, f"warm-{f:03d}.parquet"),
            )
        pipe = InstrumentedPipeline(
            run, spark, src, os.path.join(base, "table"), os.path.join(base, "ck"),
            filters.scale35, trigger={"availableNow": True},
            max_files_per_trigger=run.cpus,
        )
        pipe.query.awaitTermination()
        pipe.stop()
        _check_warm(run, pipe)
        shutil.rmtree(base, ignore_errors=True)

    def _generate(self, run, stage_dir, src, t0, n_files, log) -> None:
        """Open loop: file ``k`` is due at ``t0 + k / rate`` whatever the
        engine is doing; each is written under a temporary name and renamed
        into the watched directory, so the source never sees a partial file."""
        for k in range(n_files):
            due = t0 + k / self.rate_hz
            delay = due - time.time()
            if delay > 0:
                time.sleep(delay)
            created = time.time()
            name = f"r-{k:06d}.parquet"
            tmp = os.path.join(stage_dir, name)
            inputs.write_edge_file(tmp, k, run.seed, int(created * 1e6))
            os.rename(tmp, os.path.join(src, name))
            log.append({"name": name, "due": due, "created": created, "written": time.time()})

    def measure(self, run, spark) -> dict:
        from foglamp_filter_python35_spark.sources.snapshot_table import current_version

        base = os.path.join(run.work, "edge")
        src, stage_dir = os.path.join(base, "src"), os.path.join(base, "stage")
        os.makedirs(src)
        os.makedirs(stage_dir)
        table = os.path.join(base, "table")
        pipe = InstrumentedPipeline(
            run, spark, src, table, os.path.join(base, "ck"), filters.scale35
        )
        timed = max(1, round(run.seconds * self.rate_hz))
        n_files = self.warm_files + timed
        log: list[dict] = []
        t0 = time.time() + 0.5
        gen = threading.Thread(
            target=self._generate,
            args=(run, stage_dir, src, t0, n_files, log),
            name="edge-generator",
        )
        with run.tracer.span("edge.stream", files=n_files):
            gen.start()
            gen.join()
            deadline = time.time() + 60
            while sum(p.numInputRows for p in pipe.progress()) < n_files * inputs.EDGE_ROWS:
                if time.time() > deadline or not pipe.query.isActive:
                    run.problems.append("stream did not commit every file within 60 s")
                    break
                time.sleep(0.05)
            pipe.stop()

        per_file, failed, fallback = verify_stream(
            spark, run, pipe, inputs.EDGE_POINTS, inputs.EDGE_ROWS,
            lambda name: int(name[2:8]),
        )
        file_batch = pipe.file_batches()
        for g in log:
            batch = pipe.batches.get(file_batch.get(g["name"]))
            g["committed"] = batch["sink_end"] if batch else None
        window = [g for g in log[self.warm_files:] if g["committed"] is not None]
        if len(window) < timed:
            run.problems.append(f"{timed - len(window)} timed files never committed")
        if not window:
            window = [{"due": t0, "committed": t0}]
        run.window = (window[0]["due"], max(g["committed"] for g in window))
        latency = [g["committed"] - g["due"] for g in window]
        late = max(g["created"] - g["due"] for g in log)
        if late > self.late_limit_s:
            run.problems.append(
                f"generator fell behind its schedule by {late:.3f} s: run invalid"
            )
        # files written but not yet committed, at each write and commit
        steps = sorted(
            [(g["written"], 1) for g in log]
            + [(g["committed"], -1) for g in log if g["committed"] is not None]
        )
        backlog = backlog_max = 0
        for _, step in steps:
            backlog += step
            backlog_max = max(backlog_max, backlog)

        tail, q_used, n = tail_percentile(latency)
        run.notes["latency"] = {"n": n, "tail_s": tail, "tail_percentile": q_used, "unit": "file"}
        run.samples["latency_s"] = latency
        timed_batches = {file_batch[g["name"]] for g in log[self.warm_files:] if g["name"] in file_batch}
        timed = [p for p in pipe.progress() if p.batchId in timed_batches]
        run.layer.update(
            stream_layer_metrics(
                timed, {e: b for e, b in pipe.batches.items() if e in timed_batches}
            )
        )
        run.layer.update(
            {
                "python_filter.rows_in": sum(p.numInputRows for p in pipe.progress()),
                "python_filter.rows_out": sum(v[0] for v in per_file.values()),
                "python_filter.fallback_batches": len(fallback),
                "snapshot.versions": (current_version(table) or 0) + 1,
                "gen.late_max_s": late,
                "gen.backlog_files_max": backlog_max,
            }
        )
        if run.tracer.enabled:
            run.layer["ref_sim.rows_per_s"] = reference_sim(run)
        # the engine's service rate: the generator sets how many rows arrive
        # per second, so the program's figure is rows per second of trigger
        # time, not rows per second of wall time
        busy_s = sum(p.durationMs.get("triggerExecution", 0) for p in timed) / 1e3
        rows = sum(p.numInputRows for p in timed if p.batchId not in failed)
        return {
            "latency_p50_s": median(latency),
            "rows_per_s": rows / busy_s if busy_s else 0.0,
        }


# --- bulk_replay -------------------------------------------------------------


class BulkReplay:
    name = "bulk_replay"

    # 128k readings per drain, so that several drains fit in one run; four
    # files per trigger give every core of a 4-CPU box one file to filter
    def __init__(self, n_files=8, rows_per_file=16_000, files_per_trigger=4,
                 filter_fn=filters.scale35):
        self.n_files = n_files
        self.rows_per_file = rows_per_file
        self.files_per_trigger = files_per_trigger
        self.filter_fn = filter_fn

    def prepare(self, run) -> None:
        self.drop = os.path.join(run.work, "drop")
        inputs.write_bulk_drop(self.drop, run.seed, self.n_files, self.rows_per_file)

    # untimed drains of the drop: the first spawns the Python workers, and
    # the per-row path runs slower until the JVM has compiled it (the first
    # two drains of a fresh JVM ran at 65-90% of the later ones' rate on a
    # 4-vCPU box)
    warm_drains = 2

    def warm_up(self, run, spark) -> None:
        for d in range(self.warm_drains):
            pipe, base, _, _ = self._drain(run, spark, f"warm-{d}")
            _check_warm(run, pipe)
            shutil.rmtree(base, ignore_errors=True)

    def _drain(self, run, spark, d):
        base = os.path.join(run.work, f"drain-{d}")
        table = os.path.join(base, "table")
        with run.tracer.span("bulk.drain", drain=d):
            t0 = time.perf_counter()
            pipe = InstrumentedPipeline(
                run, spark, self.drop, table, os.path.join(base, "ck"),
                self.filter_fn, trigger={"availableNow": True},
                max_files_per_trigger=self.files_per_trigger,
            )
            pipe.query.awaitTermination()
            wall = time.perf_counter() - t0
        pipe.stop()
        return pipe, base, table, wall

    def measure(self, run, spark) -> dict:
        from foglamp_filter_python35_spark.sources.snapshot_table import current_version

        total_rows = self.n_files * self.rows_per_file
        walls, batch_s, rows_ok, verify_s = [], [], [], []
        layer_runs = []
        start = time.time()
        d = 0
        while True:
            pipe, base, table, wall = self._drain(run, spark, d)
            progress = pipe.progress()
            per_file, _, fallback = verify_stream(
                spark, run, pipe, inputs.BULK_POINTS, self.rows_per_file,
                lambda name: int(name[5:8]),
            )
            good = (self.rows_per_file, self.rows_per_file, 0, 0)
            rows_ok.append(sum(v[0] for v in per_file.values() if v == good))
            if sum(v[0] for v in per_file.values()) != total_rows:
                run.problems.append(f"drain {d}: table rows differ from the drop's")
            walls.append(wall)
            verify_s.append(run.layer["snapshot.verify_read_s"])
            batch_s += [p.durationMs.get("triggerExecution", 0) / 1e3 for p in progress]
            metrics = stream_layer_metrics(progress, pipe.batches)
            metrics["python_filter.rows_out"] = sum(v[0] for v in per_file.values())
            metrics["python_filter.fallback_batches"] = len(fallback)
            metrics["snapshot.versions"] = (current_version(table) or 0) + 1
            layer_runs.append(metrics)
            shutil.rmtree(base, ignore_errors=True)
            d += 1
            # the drains, not their verification, fill the measured seconds
            if sum(walls) >= run.seconds:
                break
        run.window = (start, time.time())
        # per-layer figures of the median drain (by wall)
        mid = sorted(range(len(walls)), key=walls.__getitem__)[len(walls) // 2]
        run.layer.update(layer_runs[mid])
        run.layer["snapshot.verify_read_s"] = median(verify_s)
        tail, q_used, n = tail_percentile(batch_s)
        run.notes["latency"] = {"n": n, "tail_s": tail, "tail_percentile": q_used, "unit": "batch"}
        run.notes["drains"] = len(walls)
        rates = [r / w for r, w in zip(rows_ok, walls)]
        run.samples.update({"drain_rows_per_s": rates, "trigger_s": batch_s})
        if run.tracer.enabled:
            run.layer["ref_sim.rows_per_s"] = reference_sim(run)
        return {"latency_p50_s": median(batch_s), "rows_per_s": median(rates)}


REF_SIM_ROWS = 125_000
REF_SIM_BATCH_ROWS = 10_000  # the engine's Arrow batch size


def reference_sim(run) -> float:
    """rows/s of the reference's single-interpreter loop over one
    bulk-shaped file: marshal each batch to list-of-dicts, call the
    filter, validate and rebuild (``bench.py``
    ``_python_filter_throughput``).  Single-threaded, so it is also a
    control for the speed of the box."""
    ids = np.arange(REF_SIM_ROWS, dtype=np.int64)
    ts = (inputs.BULK_EPOCH_S + ids) * 1_000_000
    rows = inputs.readings_table(ids, run.seed, inputs.BULK_POINTS, ts, "bulk").to_pylist()
    t0 = time.perf_counter()
    kept = 0
    for lo in range(0, len(rows), REF_SIM_BATCH_ROWS):
        wire = [
            {
                "asset_code": r["asset_code"],
                "reading": dict(r["reading"]),
                "id": r["id"],
                "ts": r["ts"],
                "user_ts": r["user_ts"],
            }
            for r in rows[lo : lo + REF_SIM_BATCH_ROWS]
        ]
        out = filters.scale35(wire)
        kept += sum(1 for r in out if r["reading"])
    return kept / (time.perf_counter() - t0)


WORKLOADS = {w.name: w for w in (EdgeTrickle, BulkReplay)}
