"""T9 — the arbitrary-Python-function surface, reproduced faithfully.

The reference's entire "query engine" is one call: marshal a micro-batch
of readings into a Python list-of-dicts, invoke a user function on it,
validate + rebuild the result (``plugin.cpp:255-260``, ``:284-287``).
This module reproduces that contract on Spark:

* execution is ``mapInArrow`` — the generalization of the reference's
  one performance idea (one Python call per batch, never per row,
  ``plugin.cpp:284-287``), but parallel per executor instead of
  serialized behind a process-global GIL (``plugin.cpp:141-163``).  The
  wire is built straight from the Arrow ``RecordBatch`` columns and the
  result straight back into one, with no pandas frame on either side;
* the user function sees the reference wire shape
  (``python35_filter.cpp:35-119``; documented ``readings35.py:39-51``)::

      [{"asset_code": "lab1", "reading": {"power_set1": 5980.0},
        "id": 1, "ts": 1699999999, "user_ts": 1699999998}, ...]

  with ``compat_bytes=True`` reproducing the reference's bytes keys /
  bytes string-values exactly (``python35_filter.cpp:73-87``);
* the whole-batch contract: any exception from the user function, a
  non-list result, or any disallowed datapoint type rejects the
  WHOLE batch and passes the input through unmodified.  The reference
  accepts only int/float/bytes (``python35_filter.cpp:185-203`` has a
  PyBytes_Check but no unicode branch); this engine ADDITIONALLY accepts
  ``str`` — a deliberate divergence (like the unsigned-mask note in
  datamodel.py): Python-3 user code naturally returns str, and rejecting
  it would silently discard every batch from otherwise-correct filters.
  Strict reference behavior is available via ``compat_bytes=True``,
  whose wire hands the user bytes in and re-accepts them
  (``plugin.cpp:295-310``, ``:338-342``) — at-least-the-input delivery.
  Batch granularity here is the Arrow batch
  (``spark.sql.execution.arrow.maxRecordsPerBatch``), the Spark analog of
  the reference's ReadingSet;
* readings returned with an empty datapoint dict are silently dropped
  (``python35_filter.cpp:178``, ``:250-254``);
* ``id``/``ts``/``user_ts`` are preserved iff present in the returned
  dict; a reading returned without them gets a fresh ingest timestamp and
  a null id (``python35_filter.cpp:222-244``; header ``plugin.cpp:127-131``
  — "new readings have new timestamps, new UUID"; a distributed engine
  cannot mint coordinated longs, so absent-id -> null, by design);
* ``set_filter_config``: called once with ``{"config": <json>}`` before
  any data flows and required to return True (``python35_filter.cpp:
  564-615``); failure aborts plan construction, mirroring plugin_init
  returning NULL (``plugin.cpp:213-214``).

Timestamps cross this wire as integer epoch seconds (UTC, floored),
exactly the granularity the reference marshals
(``python35_filter.cpp:98-103``).
"""

from __future__ import annotations

import datetime as _dt
import json
from collections.abc import Callable, Iterator
from itertools import islice

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame
from pyspark.sql.pandas.types import to_arrow_schema

from foglamp_filter_python35_spark.config import FilterConfig
from foglamp_filter_python35_spark.datamodel import READING_COLUMNS, READING_SCHEMA

Wire = list[dict]
FilterFn = Callable[[Wire], Wire]

_ALLOWED_NUMERIC = (int, float)
_ALLOWED_STRING = (str, bytes)


class BatchReject(Exception):
    """Raised when a returned batch violates the type/shape contract."""


# Skip the pre-mapInArrow spreading shuffle below this optimizer size
# estimate: for small inputs the shuffle's fixed cost exceeds the serial
# processing it would save (the reference processes one batch per call on
# one thread, plugin.cpp:284-287 — small batches are its home turf).
#
# Tuned by a round-6 A/B on single-file parquet micro-batches (the
# streaming-probe shape, where the source gives ONE partition): 100k
# reading rows (~2 MB parquet) ran 61k rows/s serial vs 134-162k
# repartitioned; 10k rows ran 34k rows/s serial vs 24k repartitioned —
# crossover ~15-25k rows.  Parquet footer bytes UNDERESTIMATE in-memory
# size ~5-10x (map columns compress well), so the byte threshold is set
# for compressed-scan estimates; the misclassification risk is
# asymmetric (serial on a big batch loses unboundedly, a wasted shuffle
# on a small one loses a bounded ~0.1 s), so err low.
_REPARTITION_MIN_BYTES = 1 * 1024 * 1024
# One Python task per ~256 KB of estimated input (~10-25k reading rows):
# at 2 MB the A/B measured 8 tasks beating 32 (0.62 s vs 0.75 s — fewer,
# fuller Arrow batches win until the data outgrows the task count);
# unknown/huge estimates cap at defaultParallelism.
_REPARTITION_BYTES_PER_TASK = 256 * 1024


def _estimated_bytes(df: DataFrame) -> int:
    """The Catalyst optimizer's sizeInBytes estimate for ``df`` — free
    (no job): parquet footer totals for scans, accurate materialized
    sizes for cached frames, 8 EiB when unknown (which routes unknown
    sizes to the repartition path, the safe default at scale).

    The probe reaches through private JVM internals (``_jdf`` →
    ``queryExecution``), so the fallback is scoped to exactly the two
    failure shapes a Spark-version drift can produce — a missing
    attribute on the Python wrapper (AttributeError) or a Py4J-level
    gateway/call failure — and nothing else: a genuine AnalysisException
    (a plan worth surfacing) propagates to the caller instead of being
    silently re-routed into the 8 EiB fallback."""
    try:
        from py4j.protocol import Py4JError  # noqa: PLC0415
    except ImportError:  # pragma: no cover — py4j ships with pyspark
        # a never-raised placeholder class: an empty tuple nested inside
        # the except spec would itself raise TypeError at catch time
        class Py4JError(Exception):  # type: ignore[no-redef]
            pass
    try:
        return int(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
    except (AttributeError, Py4JError):
        return 1 << 62  # probe failed: treat as large, keep old behavior


class FilterSetupError(ValueError):
    """Stage CONSTRUCTION failure (set_filter_config rejected/raised) —
    the analog of plugin_init returning NULL (plugin.cpp:213-214).

    Distinct from runtime transform errors: the S3 degraded path
    (forward the input batch) applies only to per-batch transform
    failures; a setup failure must abort the query, or a misconfigured
    filter silently forwards unfiltered data forever."""


def run_python_filter(
    df: DataFrame,
    fn: FilterFn,
    config: FilterConfig | None = None,
    set_filter_config: Callable[[dict], bool] | None = None,
    compat_bytes: bool = False,
) -> DataFrame:
    """Apply a reference-contract Python filter to a readings DataFrame.

    ``df`` must follow ``datamodel.READING_SCHEMA``.  Returns a readings
    DataFrame with the same schema.
    """
    cfg = config or FilterConfig(enable=True)
    if not cfg.enable:
        # C4 disabled => pass-through, zero cost (plugin.cpp:234-242)
        return df

    # a narrow batch source (one parquet split) would serialize the whole
    # stream through one Python worker — spread it across the cluster.
    # Streaming plans cannot be probed via .rdd (and their partitioning is
    # the source's concern), so the probe is batch-only.  The repartition
    # is a FULL SHUFFLE whose fixed cost is only amortized at volume, so
    # it is gated on the optimizer's size estimate: below a few Arrow
    # batches (`maxRecordsPerBatch` = 10k rows) the serial path wins and
    # the shuffle (and even the .rdd partition probe) is skipped.
    if not df.isStreaming:
        est = _estimated_bytes(df)
        if est >= _REPARTITION_MIN_BYTES:
            target = min(
                df.sparkSession.sparkContext.defaultParallelism,
                max(2, est // _REPARTITION_BYTES_PER_TASK),
            )
            if df.rdd.getNumPartitions() < target:
                df = df.repartition(target)

    if set_filter_config is not None:
        # configure at plan-build time; the configured state is captured
        # into the task closure by cloudpickle, so every executor sees it.
        # Memoized per config payload: the reference configures once at
        # plugin_init, not per ReadingSet — without this, a streaming
        # pipeline would re-run the user callback every micro-batch.
        payload = json.dumps(cfg.params)
        if getattr(set_filter_config, "_configured_with", None) != payload:
            try:
                ok = set_filter_config({"config": payload})
            except Exception as exc:
                raise FilterSetupError(
                    f"set_filter_config raised {exc!r}; aborting pipeline "
                    "construction (reference plugin.cpp:213-214)"
                ) from exc
            if ok is not True:
                raise FilterSetupError(
                    "set_filter_config did not return True; aborting "
                    "pipeline construction (reference plugin.cpp:213-214)"
                )
            try:
                set_filter_config._configured_with = payload
            except AttributeError:
                pass  # non-function callable without settable attrs

    def runner(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            try:
                out = _from_wire(fn(_to_wire(batch, compat_bytes)))
            except Exception:
                # any failure => forward the input batch unmodified
                # (plugin.cpp:295-310, :338-342), in the same Arrow schema
                # as the rebuilt batches of this task
                yield _as_declared(batch)
                continue
            yield out

    return df.select(*READING_COLUMNS).mapInArrow(runner, READING_SCHEMA)


# ---------------------------------------------------------------------------
# wire codecs: Arrow RecordBatch <-> the reference's list-of-dicts
# ---------------------------------------------------------------------------

#: Arrow twin of READING_SCHEMA, the type of every batch ``_from_wire``
#: builds (timestamps as UTC epoch micros, which the JVM reads back
#: whatever the session time zone).
_WIRE_ARROW_SCHEMA = to_arrow_schema(READING_SCHEMA)


def _as_declared(batch: pa.RecordBatch) -> pa.RecordBatch:
    """``batch`` cast to ``_WIRE_ARROW_SCHEMA``.  PySpark writes a task's
    output through one Arrow stream opened on its first batch's schema,
    so a forwarded input batch must match the batches ``_from_wire``
    builds; Spark's input can differ in nullability (``ts`` from
    ``current_timestamp()`` is non-nullable), in the session time zone
    of its timestamps and in large string types.  Every cast is
    value-preserving."""
    return pa.RecordBatch.from_arrays(
        [col.cast(f.type) for col, f in zip(batch.columns, _WIRE_ARROW_SCHEMA)],
        schema=_WIRE_ARROW_SCHEMA,
    )


def _values(arr: pa.Array) -> tuple[list, list | None]:
    """Python values of a primitive column plus its validity mask (None
    when the column has no nulls).  Numeric nulls are filled before the
    numpy hop, so an int64 column never round-trips through float64 and
    a null double never reads as NaN."""
    if not arr.null_count:
        return arr.to_numpy(zero_copy_only=False).tolist(), None
    valid = arr.is_valid().to_numpy(zero_copy_only=False).tolist()
    if pa.types.is_integer(arr.type) or pa.types.is_floating(arr.type):
        arr = arr.fill_null(0)
    return arr.to_numpy(zero_copy_only=False).tolist(), valid


def _epoch_seconds(arr: pa.Array) -> tuple[list, list | None]:
    """Whole epoch seconds of a timestamp[us] column, floored
    (-1.5 s -> -2), with its validity mask as in ``_values``."""
    micros = arr.cast(pa.int64())
    valid = None
    if micros.null_count:
        valid = micros.is_valid().to_numpy(zero_copy_only=False).tolist()
        micros = micros.fill_null(0)
    secs = np.floor_divide(micros.to_numpy(), 1_000_000)
    return secs.tolist(), valid


def _maps(arr: pa.MapArray, encode: bool) -> list[dict]:
    """One dict per row of a map column.  The flat ``keys``/``items``
    children are decoded ONCE and cut into rows by ``offsets`` (which
    index the unsliced children, so a sliced batch reads only its own
    range); a null map reads as ``{}`` and a datapoint with a null value
    is left off the wire."""
    offs = arr.offsets.to_numpy()
    lo, hi = int(offs[0]), int(offs[-1])
    if lo == hi:
        return [{} for _ in range(len(arr))]
    items = arr.items.slice(lo, hi - lo)
    keys = arr.keys.slice(lo, hi - lo).to_numpy(zero_copy_only=False).tolist()
    vals, valid = _values(items)
    if encode:
        keys = [k.encode() for k in keys]
        if not pa.types.is_floating(items.type):
            vals = [v if v is None else v.encode() for v in vals]
    counts = np.diff(offs).tolist()
    if valid is None:
        pairs = zip(keys, vals)
        out = [dict(islice(pairs, c)) for c in counts]
    else:
        triples = zip(keys, vals, valid)
        out = [{k: v for k, v, ok in islice(triples, c) if ok} for c in counts]
    if arr.null_count:
        for i in np.flatnonzero(arr.is_null().to_numpy(zero_copy_only=False)):
            out[i] = {}
    return out


def _to_wire(batch: pa.RecordBatch, compat_bytes: bool) -> Wire:
    assets = batch.column("asset_code").to_numpy(zero_copy_only=False).tolist()
    if compat_bytes:
        assets = [a.encode() if isinstance(a, str) else a for a in assets]
    readings = _maps(batch.column("reading"), compat_bytes)
    # the wire has one datapoint bag per reading: on a key clash the
    # string datapoint wins
    for reading, strs in zip(
        readings, _maps(batch.column("reading_str"), compat_bytes)
    ):
        if strs:
            reading.update(strs)
    out: Wire = [
        {"asset_code": a, "reading": r} for a, r in zip(assets, readings)
    ]
    # id/ts/user_ts are on the wire only when non-null
    for name, (vals, valid) in (
        ("id", _values(batch.column("id"))),
        ("ts", _epoch_seconds(batch.column("ts"))),
        ("user_ts", _epoch_seconds(batch.column("user_ts"))),
    ):
        if valid is None:
            for rec, v in zip(out, vals):
                rec[name] = v
        else:
            for rec, v, ok in zip(out, vals, valid):
                if ok:
                    rec[name] = v
    return out


def _from_wire(result: Wire) -> pa.RecordBatch:
    if not isinstance(result, (list, tuple)):
        raise BatchReject("filter must return a list of reading dicts")
    ids, assets, tss, user_tss = [], [], [], []
    num_keys, num_vals, num_offs = [], [], [0]
    str_keys, str_vals, str_offs = [], [], [0]
    # T7 default for absent metadata: "new readings have new timestamps"
    # — one micros-precision stamp per batch.
    # .timestamp() must run on the AWARE datetime: a naive datetime is
    # interpreted in the host's local timezone, shifting the stamp by the
    # UTC offset on any non-UTC host
    now_us = int(
        _dt.datetime.now(tz=_dt.timezone.utc).timestamp() * 1_000_000
    )
    for rec in result:
        if not isinstance(rec, dict):
            raise BatchReject("each reading must be a dict")
        payload = rec.get("reading")
        if not isinstance(payload, dict):
            raise BatchReject("reading payload must be a dict")
        num: dict[str, float] = {}
        strs: dict[str, str] = {}
        for k, v in payload.items():
            key = k.decode() if isinstance(k, bytes) else k
            if not isinstance(key, str):
                raise BatchReject(f"datapoint key {key!r} is not a string")
            # bool is an int subclass; the reference's PyLong check accepts
            # it (python35_filter.cpp:185-188)
            if isinstance(v, _ALLOWED_NUMERIC) and not isinstance(v, complex):
                num[key] = float(v)
            elif isinstance(v, _ALLOWED_STRING):
                strs[key] = v.decode() if isinstance(v, bytes) else v
            else:
                # anything else aborts the whole batch
                # (python35_filter.cpp:197-203 -> plugin.cpp:338-342)
                raise BatchReject(
                    f"datapoint {key!r} has disallowed type {type(v).__name__}"
                )
        if not num and not strs:
            # empty payload => reading silently dropped
            # (python35_filter.cpp:178, :250-254)
            continue
        asset = rec.get("asset_code", "")
        if isinstance(asset, bytes):
            asset = asset.decode()
        ids.append(int(rec["id"]) if "id" in rec else None)
        assets.append(asset)
        tss.append(int(rec["ts"]) * 1_000_000 if "ts" in rec else now_us)
        user_tss.append(
            int(rec["user_ts"]) * 1_000_000 if "user_ts" in rec else now_us
        )
        num_keys.extend(num)
        num_vals.extend(num.values())
        num_offs.append(len(num_keys))
        str_keys.extend(strs)
        str_vals.extend(strs.values())
        str_offs.append(len(str_keys))
    ts_type = _WIRE_ARROW_SCHEMA.field("ts").type
    return pa.RecordBatch.from_arrays(
        [
            pa.array(ids, pa.int64()),
            pa.array(assets, pa.string()),
            pa.array(tss, ts_type),
            pa.array(user_tss, ts_type),
            pa.MapArray.from_arrays(
                pa.array(num_offs, pa.int32()),
                pa.array(num_keys, pa.string()),
                pa.array(num_vals, pa.float64()),
            ),
            pa.MapArray.from_arrays(
                pa.array(str_offs, pa.int32()),
                pa.array(str_keys, pa.string()),
                pa.array(str_vals, pa.string()),
            ),
        ],
        schema=_WIRE_ARROW_SCHEMA,
    )
