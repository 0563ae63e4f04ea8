"""One keyed-state fold for the twelve append-mode stream operators:
``markov_stream``, ``retention_stream``, ``twap_stream`` and
``entropy_stream`` (``behavior.py``), ``interval_stream``
(``interval.py``), ``scd2_stream`` and ``scd2_stream_event_time``
(``scd2.py``), ``count_window_stream``, ``sliding_count_window_stream``
and ``pane_deltas_stream`` (``windows.py``), ``dedup_stream``
(``dedup.py``) and ``gapfill_stream`` (``gapfill.py``).

Each of those operators is a pure per-key ``step`` plus its per-key
state schema; ``keyed_fold`` owns the ``applyInPandasWithState``
plumbing once: grouping keys into buckets, decoding and encoding
state, splitting a bucket's rows by key, writing state only on a
reported change, re-arming the event-time timer and building the
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

The other stateful operators keep their own ``applyInPandasWithState``:
the sketches of ``sketches.py`` run in update mode (each batch
re-emits a group's running estimate), and ``delayed_delivery_stream``
(``delay.py``) needs a processing-time timeout and ``state.remove()``.
The fold is append-only, event-time or no timeout, and never removes
state.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from typing import Any, NamedTuple

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# The fixed key -> bucket map of every keyed fold. A constant (no
# session setting) so a restart at any spark.sql.shuffle.partitions
# finds each key's state where it left it; changing it re-buckets
# every key, so a query must then start from a new checkpoint.
STATE_BUCKETS = 64


class FoldContext(NamedTuple):
    watermark_ms: int | None  # None unless the fold is event-time


def _bucket_state_schema(state_schema: T.StructType) -> T.StructType:
    """The bucket state row: the bucket's keys (``ks``) plus, per
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
) -> DataFrame:
    """Fold ``step`` over ``keyed`` (a stream with a string ``key``
    column) in append mode.

    Keys group by ``pmod(xxhash64(key), STATE_BUCKETS)``. One state
    row per bucket holds every key of it as co-indexed arrays
    (``_bucket_state_schema``) and each key folds through ``step`` on
    its own rows: a micro-batch makes at most ``STATE_BUCKETS`` Arrow
    invocations, not one per key, and the progress's
    ``numRowsTotal``/``numRowsUpdated`` count buckets. The bucket of a
    key does not depend on the shuffle width, so a checkpoint restarts
    at any ``spark.sql.shuffle.partitions`` (Spark keeps the
    checkpoint's stateful width); the width above ``STATE_BUCKETS``
    leaves state partitions idle.

    The price is per bucket, not per key: a key that changes rewrites
    its bucket's whole state row, and in an event-time fold a bucket
    invocation steps every held key (its timer may be due; a key whose
    watermark moved nothing reports no change). That pays off while a
    batch touches many keys of each bucket it touches. A stream that
    holds many keys but touches few per batch decodes and rewrites
    about keys held / ``STATE_BUCKETS`` state entries per touched key
    (and, event-time, steps as many keys), so it runs slower than a
    per-key fold would (SCALING.md, "Bucketed keyed state").

    Checkpoints written under another grouping (one state row per key,
    as the operators kept before they all bucketed, or another bucket
    count) do not restart; start such a query from a new checkpoint.
    """
    event_time = timeout == "EventTimeTimeout"
    out_cols = out_schema.fieldNames()
    empty = pd.DataFrame(columns=keyed.columns)

    def rows_of(pdfs: Iterator[pd.DataFrame]) -> pd.DataFrame:
        frames = list(pdfs)
        if len(frames) == 1:
            return frames[0]
        return pd.concat(frames, ignore_index=True) if frames else empty

    def per_bucket(bucket: Any, pdfs: Iterator[pd.DataFrame],
                   state) -> Iterator[pd.DataFrame]:
        held: dict = {}
        if state.exists:
            ks, *fields = state.get
            held = dict(zip(ks, zip(*fields)))
        # one pass: a frame per key, NULL key included, in order of
        # first appearance
        at = {None if pd.isna(k) else k: g for k, g in rows_of(pdfs)
              .groupby("key", sort=False, dropna=False)}
        todo = list(at)
        if event_time:
            todo += [k for k in held if k not in at]
        ctx = FoldContext(
            state.getCurrentWatermarkMs() if event_time else None)
        out: list = []
        any_changed = any_rearm = False
        for k in todo:
            key_state, k_out, changed, rearm = step(
                k, held.get(k), at.get(k, empty), ctx)
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
        if any_rearm:
            # Spark demands timeout > watermark; a fired timer is
            # consumed, so every invocation that still waits re-arms
            state.setTimeoutTimestamp(state.getCurrentWatermarkMs() + 1000)
        return iter([pd.DataFrame(out, columns=out_cols)] if out else [])

    bucketed = keyed.withColumn(
        "_bkt", F.pmod(F.xxhash64("key"), F.lit(STATE_BUCKETS)).cast("int"))
    return bucketed.groupBy("_bkt").applyInPandasWithState(
        per_bucket, out_schema, _bucket_state_schema(state_schema),
        "append", timeout)
