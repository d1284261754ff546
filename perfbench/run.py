"""Benchmark entry point.

    python3 perfbench/run.py --workload edge_trickle --seed 1 --seconds 10 --trace 0

Runs one workload of ``perfbench.workloads`` against the engine package in
this checkout on ``local[<cpus>]`` (cpus = this process's CPU affinity),
prints every metric by name with its unit, and ends with one JSON line::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` turns on the
spans, the Spark event log and the reference-loop baseline and reports
the per-layer metrics instead.  Scratch files live under ``.perfbench/``
in the checkout; each run deletes its own scratch directory.  Full results
go to ``.perfbench/results/`` and traces to ``.perfbench/traces/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _pin_environment(work: str, cpus: int) -> None:
    """Everything a child process inherits: the Python workers import the
    engine package and ``perfbench.filters`` from this checkout, and all
    temporary files stay inside it."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # every JVM, the spark-submit launcher's included
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    from perfbench.harness import DRIVER_MEMORY

    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEMORY
    os.environ.pop("SPARK_MASTER", None)


def _report(result: dict, trace: bool) -> dict:
    from perfbench.harness import END_TO_END, PER_LAYER
    from perfbench.measure import TAIL_BEYOND

    units = PER_LAYER if trace else END_TO_END
    values = result["per_layer"] if trace else result["end_to_end"]
    head = f"perfbench {result['workload']} seed={result['seed']} trace={int(trace)}"
    print(f"{head} regime={json.dumps(result['regime'], sort_keys=True)}")
    for name, unit in units.items():
        print(f"  {name} = {values[name]:.6g} {unit}")
    ratio = result["failed"] / result["attempted"] if result["attempted"] else 0.0
    print(f"  failed_ratio = {ratio:.6g} ratio ({result['failed']}/{result['attempted']})")
    print(f"  notes = {json.dumps(result['notes'], sort_keys=True)}")
    tail = result["notes"]["latency"]
    print(f"  latency tail = {tail['tail_s']:.6g} s at p{100 * tail['tail_percentile']:.3g}"
          f" of n={tail['n']} {tail['unit']}s (the median below {2 * TAIL_BEYOND} samples)")
    layer = result["per_layer"]
    if trace:
        parts = sum(layer[k] for k in (
            "stream.latest_offset_ms_p50", "stream.get_batch_ms_p50",
            "stream.add_batch_ms_p50", "stream.wal_commit_ms_p50",
            "stream.commit_offsets_ms_p50"))
        print(f"  decomposition: trigger_ms_p50 {layer['stream.trigger_ms_p50']:.1f}"
              f" - sum of part p50s {parts:.1f}"
              f" = {layer['stream.trigger_ms_p50'] - parts:.1f} ms;"
              f" per-trigger residual p50 {layer['stream.residual_ms_p50']:.1f} ms")
        print(f"  bypassed (reported as 0) = {', '.join(result['bypassed'])}")
    if result.get("trace_overhead"):
        print(f"  trace_overhead = {json.dumps(result['trace_overhead'], sort_keys=True)}")
    for problem in result["problems"]:
        print(f"  PROBLEM: {problem}")
    return {
        "correct": result["correct"],
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {n: {"value": values[n], "unit": u} for n, u in units.items()},
    }


def main(argv: list[str] | None = None) -> int:
    from perfbench.workloads import WORKLOADS

    p = argparse.ArgumentParser(prog="perfbench/run.py")
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if args.seed < 0 or args.seconds < 1:
        p.error("--seed must be >= 0 and --seconds >= 1")

    state = os.path.join(ROOT, ".perfbench")
    work = os.path.join(state, f"run-{os.getpid()}")
    cpus = len(os.sched_getaffinity(0))
    _pin_environment(work, cpus)
    try:
        import foglamp_filter_python35_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the engine package is not importable: {exc}", file=sys.stderr)
        shutil.rmtree(work, ignore_errors=True)
        return 2

    from perfbench.harness import Run, execute, write_json

    run = Run(ROOT, args.workload, args.seed, args.seconds, bool(args.trace), work)
    try:
        result = execute(run, WORKLOADS[args.workload]())
    finally:
        shutil.rmtree(work, ignore_errors=True)

    stem = f"{args.workload}-seed{args.seed}"
    if args.trace:
        untraced = os.path.join(state, "results", f"{stem}-trace0.json")
        if os.path.exists(untraced):
            with open(untraced) as fh:
                base = json.load(fh)["end_to_end"]
            result["trace_overhead"] = {
                k: result["end_to_end"][k] - base[k] for k in base
            }
        else:
            result["trace_overhead"] = {
                "unavailable": f"no untraced run of {stem} in .perfbench/results"
            }
        run.tracer.write(
            os.path.join(state, "traces", f"{stem}.json"),
            {k: result[k] for k in ("workload", "seed", "regime", "trace_overhead")},
        )
    write_json(os.path.join(state, "results", f"{stem}-trace{args.trace}.json"), result)
    print(json.dumps(_report(result, bool(args.trace))))
    return 0


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    raise SystemExit(main())
