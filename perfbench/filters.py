"""The user filter functions the benchmark hands to the T9 runner.

They live in an importable module (not in ``run.py``) so that the Python
workers unpickle them by reference, which is how a deployed filter script
reaches the workers; a worker that cannot import this module makes every
batch fall back, and the benchmark counts those batches as failed.
"""

from __future__ import annotations

SCALE = 5.0
OFFSET = 10.0


def scale35(readings):
    """The reference's canonical transform (``examples/scale35.py``):
    every numeric datapoint becomes ``v * 5 + 10``."""
    for r in readings:
        r["reading"] = {
            k: v * SCALE + OFFSET if isinstance(v, (int, float)) else v
            for k, v in r["reading"].items()
        }
    return readings


def scale35_raising_on(bad_ids: frozenset[int]):
    """``scale35`` that raises on any batch holding one of ``bad_ids``;
    the self-tests use it to make exactly chosen batches fall back."""

    def fn(readings):
        if any(r.get("id") in bad_ids for r in readings):
            raise RuntimeError("injected filter failure")
        return scale35(readings)

    return fn
