"""Seeded inputs.  The engine sees only the parquet files written here.

Every reading's numeric datapoints are a fixed integer hash of
``(seed, id, point)`` divided by 16, so each value and its ``v * 5 + 10``
image are exact doubles, and verification recomputes the input in Spark
SQL from the id alone (``point_sql``) instead of shipping the inputs back
to the driver.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_ASSETS = 50
EDGE_ROWS = 1_000  # readings per edge file
EDGE_POINTS = 2  # numeric datapoints per edge reading
BULK_POINTS = 8  # bulk readings are wider: more numeric datapoints
BULK_EPOCH_S = 1_700_000_000

_HASH_MUL = 2654435761
_POINT_MUL = 40503
_SEED_MUL = 97
_VALUE_RANGE = 65536

_MAP = pa.map_(pa.string(), pa.float64())
_STR_MAP = pa.map_(pa.string(), pa.string())
_TS_UTC = pa.timestamp("us", tz="UTC")


def point_values(ids: np.ndarray, seed: int, point: int) -> np.ndarray:
    return (
        (ids * _HASH_MUL + point * _POINT_MUL + seed * _SEED_MUL) % _VALUE_RANGE
    ) / 16.0


def point_sql(seed: int, point: int) -> str:
    """Spark SQL for the input value of datapoint ``p<point>`` of row ``id``."""
    return (
        f"CAST(pmod(id * {_HASH_MUL} + {point * _POINT_MUL} + "
        f"{seed * _SEED_MUL}, {_VALUE_RANGE}) AS DOUBLE) / 16.0D"
    )


def _map_column(n: int, keys: list[str], values: pa.Array, typ) -> pa.Array:
    width = len(keys)
    offsets = pa.array(np.arange(0, (n + 1) * width, width, dtype=np.int32))
    key_col = pa.array(keys).take(pa.array(np.tile(np.arange(width), n)))
    return pa.MapArray.from_arrays(offsets, key_col, values, type=typ)


def readings_table(
    ids: np.ndarray, seed: int, n_points: int, ts_us: np.ndarray, source: str
) -> pa.Table:
    """Readings in the engine's ``READING_SCHEMA`` layout."""
    n = len(ids)
    values = np.stack(
        [point_values(ids, seed, j) for j in range(n_points)], axis=1
    ).ravel()
    assets = pa.array([f"asset{i}" for i in range(N_ASSETS)]).take(
        pa.array((ids * 7 + seed) % N_ASSETS)
    )
    ts = pa.array(ts_us, type=_TS_UTC)
    return pa.table(
        {
            "id": pa.array(ids, type=pa.int64()),
            "asset_code": assets,
            "ts": ts,
            "user_ts": ts,
            "reading": _map_column(
                n, [f"p{j}" for j in range(n_points)], pa.array(values), _MAP
            ),
            "reading_str": _map_column(
                n, ["src"], pa.array([source] * n), _STR_MAP
            ),
        }
    )


def write_edge_file(path: str, index: int, seed: int, created_us: int) -> None:
    """Edge file ``index``: ids ``[index*EDGE_ROWS, (index+1)*EDGE_ROWS)``,
    every row's ``ts`` stamped with the file's creation time."""
    ids = np.arange(index * EDGE_ROWS, (index + 1) * EDGE_ROWS, dtype=np.int64)
    ts = np.full(len(ids), created_us, dtype=np.int64)
    pq.write_table(readings_table(ids, seed, EDGE_POINTS, ts, "edge"), path)


def write_bulk_drop(
    directory: str, seed: int, n_files: int, rows_per_file: int
) -> None:
    os.makedirs(directory, exist_ok=True)
    for f in range(n_files):
        ids = np.arange(
            f * rows_per_file, (f + 1) * rows_per_file, dtype=np.int64
        )
        ts = (BULK_EPOCH_S + ids) * 1_000_000
        pq.write_table(
            readings_table(ids, seed, BULK_POINTS, ts, "bulk"),
            os.path.join(directory, f"part-{f:03d}.parquet"),
        )

