"""One keyed-state fold for the stream operators of ``behavior.py``,
``interval.py`` and ``scd2.py``.

Each of those operators is a pure per-key ``step`` plus its per-key
state schema; ``keyed_fold`` owns the ``applyInPandasWithState``
plumbing once: grouping (by key, or by key bucket), decoding and
encoding state, splitting a group's rows by key, writing state only
on a reported change, re-arming the event-time timer and building the
output frame.

The step contract::

    step(key, key_state, rows, ctx) -> (key_state, out_rows, changed, rearm)

- ``key_state`` is the key's state tuple (fields of the operator's
  state schema) or ``None`` when the key holds no state; the step
  returns ``None`` while the key still has nothing to hold;
- ``rows`` is a pandas frame of the key's rows in this batch (every
  column of the keyed frame; empty on a timer invocation);
- ``ctx`` carries the watermark (event-time folds only);
- ``out_rows`` are tuples in the output schema's field order;
- ``changed`` asks for the state to be written, ``rearm`` for the
  event-time timer to fire again once the watermark moves.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from typing import Any, NamedTuple

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


class FoldContext(NamedTuple):
    watermark_ms: int | None  # None unless the fold is event-time


def _bucket_state_schema(state_schema: T.StructType) -> T.StructType:
    """The bucketed state row: the bucket's keys (``ks``) plus, per
    per-key field, one array co-indexed with ``ks``."""
    return T.StructType(
        [T.StructField("ks", T.ArrayType(T.StringType()))]
        + [T.StructField(f.name, T.ArrayType(f.dataType))
           for f in state_schema.fields])


def keyed_fold(
    keyed: DataFrame,
    step: Callable[..., tuple],
    state_schema: T.StructType,
    out_schema: T.StructType,
    *,
    timeout: str = "NoTimeout",
    buckets: int | None = None,
) -> DataFrame:
    """Fold ``step`` over ``keyed`` (a stream with a string ``key``
    column) in append mode.

    ``buckets=None`` groups by key: one Arrow group and one state row
    per key. ``buckets=B`` groups by ``pmod(xxhash64(key), B)``: one
    state row per bucket holds every key of it as co-indexed arrays
    (``_bucket_state_schema``), and each key still folds through the
    same ``step`` — the output rows are identical, but a micro-batch
    makes B Arrow invocations instead of one per key. In an event-time
    fold a bucket invocation steps every held key too (its timer may
    be due); a key whose watermark moved nothing reports no change.
    """
    event_time = timeout == "EventTimeTimeout"
    out_cols = out_schema.fieldNames()
    empty = pd.DataFrame(columns=keyed.columns)

    def context(state) -> FoldContext:
        return FoldContext(
            state.getCurrentWatermarkMs() if event_time else None)

    def rows_of(pdfs: Iterator[pd.DataFrame]) -> pd.DataFrame:
        frames = list(pdfs)
        if len(frames) == 1:
            return frames[0]
        return pd.concat(frames, ignore_index=True) if frames else empty

    def finish(state, out: list, rearm: bool) -> Iterator[pd.DataFrame]:
        if rearm:
            # Spark demands timeout > watermark; a fired timer is
            # consumed, so every invocation that still waits re-arms
            state.setTimeoutTimestamp(state.getCurrentWatermarkMs() + 1000)
        return iter([pd.DataFrame(out, columns=out_cols)] if out else [])

    def per_key(key: Any, pdfs: Iterator[pd.DataFrame],
                state) -> Iterator[pd.DataFrame]:
        key_state, out, changed, rearm = step(
            key[0], state.get if state.exists else None, rows_of(pdfs),
            context(state))
        if changed and key_state is not None:
            state.update(key_state)
        return finish(state, out, rearm)

    if buckets is None:
        return keyed.groupBy("key").applyInPandasWithState(
            per_key, out_schema, state_schema, "append", timeout)

    def per_bucket(bucket: Any, pdfs: Iterator[pd.DataFrame],
                   state) -> Iterator[pd.DataFrame]:
        held: dict = {}
        if state.exists:
            ks, *fields = state.get
            held = dict(zip(ks, zip(*fields)))
        rows = rows_of(pdfs)
        at: dict = {}
        for i, k in enumerate(rows["key"]):
            at.setdefault(k, []).append(i)
        todo = list(at)
        if event_time:
            todo += [k for k in held if k not in at]
        ctx = context(state)
        out: list = []
        any_changed = any_rearm = False
        for k in todo:
            key_state, k_out, changed, rearm = step(
                k, held.get(k), rows.take(at[k]) if k in at else empty,
                ctx)
            out += k_out
            any_rearm |= rearm
            if changed:
                any_changed = True
                if key_state is not None:
                    held[k] = key_state
        if any_changed and held:
            ks = list(held)
            state.update((ks, *(list(f) for f in
                                zip(*(held[k] for k in ks)))))
        return finish(state, out, any_rearm)

    bucketed = keyed.withColumn(
        "_bkt", F.pmod(F.xxhash64("key"), F.lit(int(buckets))).cast("int"))
    return bucketed.groupBy("_bkt").applyInPandasWithState(
        per_bucket, out_schema, _bucket_state_schema(state_schema),
        "append", timeout)
