"""Self-tests of the benchmark.  Run with

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import filecmp
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import filters, inputs  # noqa: E402
from perfbench.measure import tail_percentile  # noqa: E402


def _beyond(values, value):
    return sum(v > value for v in values)


def test_tail_percentile_keeps_ten_samples_beyond():
    many = [float(i) for i in range(1, 301)]
    value, q, n = tail_percentile(many)
    assert (q, n, value) == (0.95, 300, 285.0)
    assert _beyond(many, value) >= 10

    # p95 of 100 samples has only 5 beyond: fall back to p90
    hundred = [float(i) for i in range(1, 101)]
    value, q, n = tail_percentile(hundred)
    assert q == 0.9 and _beyond(hundred, value) == 10

    for count in (25, 40, 199):
        values = [float(i) for i in range(count)]
        value, q, _ = tail_percentile(values)
        assert _beyond(values, value) >= 10
        assert q < 0.95

    # under twenty samples no percentile above the median has ten beyond
    few = [3.0, 1.0, 2.0, 5.0, 4.0]
    assert tail_percentile(few) == (3.0, 0.5, 5)


def _write_all(directory, seed):
    inputs.write_bulk_drop(os.path.join(directory, "drop"), seed, 2, 500)
    inputs.write_edge_file(os.path.join(directory, "edge.parquet"), 3, seed, 1_700_000_000_000_000)


def _files(directory):
    return sorted(
        os.path.relpath(os.path.join(d, f), directory)
        for d, _, names in os.walk(directory)
        for f in names
    )


def test_one_seed_reproduces_identical_inputs(tmp_path):
    a, b, c = (str(tmp_path / x) for x in "abc")
    _write_all(a, 7)
    _write_all(b, 7)
    _write_all(c, 8)
    names = _files(a)
    assert names == _files(b) == _files(c)
    assert len(names) == 2 + 1
    for name in names:
        assert filecmp.cmp(os.path.join(a, name), os.path.join(b, name), shallow=False), name
    differ = [
        n for n in names
        if not filecmp.cmp(os.path.join(a, n), os.path.join(c, n), shallow=False)
    ]
    assert differ == names


def test_failed_ratio_counts_the_batch_whose_filter_raised(tmp_path):
    """Four one-file batches, the filter raises on the third: that batch
    falls back to the S3 pass-through and is the one failed op."""
    from perfbench import run as cli
    from perfbench.harness import Run, execute
    from perfbench.workloads import BulkReplay

    saved = dict(os.environ)
    try:
        work = str(tmp_path / "work")
        cli._pin_environment(work, len(os.sched_getaffinity(0)))
        run = Run(ROOT, "bulk_replay", 5, 1, False, work)
        workload = BulkReplay(
            n_files=4,
            rows_per_file=1_000,
            files_per_trigger=1,
            filter_fn=filters.scale35_raising_on(frozenset({2_500})),
        )
        result = execute(run, workload)
    finally:
        os.environ.clear()
        os.environ.update(saved)
    assert (result["attempted"], result["failed"]) == (4, 1)
    assert result["failed"] / result["attempted"] == 0.25
    assert result["correct"] is False
    assert result["per_layer"]["python_filter.fallback_batches"] == 1
