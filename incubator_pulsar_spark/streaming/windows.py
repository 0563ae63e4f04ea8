"""Streaming windowed aggregation (the Pulsar Functions window runtime,
continuous form).

Reference: ``WindowFunctionExecutor.java:48-323`` — tumbling/sliding ×
count/time, event-time via TimestampExtractor + watermarks
(``WaterMarkEventGenerator.java:84-122``: watermark = min across inputs
of max-seen-ts − maxLag), late data to a side topic (:296-308).

Spark-first:
- time windows: ``withWatermark`` + ``F.window`` — Spark's watermark is
  computed as min across partitions of max event time − delay, the SAME
  formula the reference uses across input topics.
- count windows: no Spark primitive; a pure per-key step folded by
  ``keyed.keyed_fold`` buffers per key and emits one output row per
  full pane of N. Per-key counting only (global count windows
  serialize; SURVEY §7 watch list). Each step sorts its key's whole
  batch by ``order`` (stable, so arrival order breaks ties).
  Checkpoints written before the count windows folded through
  ``keyed_fold`` (one state row per key) do not restart.
"""

from __future__ import annotations

from collections.abc import Sequence
from functools import partial

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .keyed import keyed_fold


def tumbling_stream(
    stream: DataFrame, *, ts_col: str = "event_time", length: str = "1 hour",
    watermark_delay: str = "10 minutes", group_by: Sequence[str] = (),
    aggs: Sequence[Column] = (),
) -> DataFrame:
    """Watermarked tumbling window; emit in append mode once the
    watermark passes window end (the reference's event-time trigger)."""
    return (
        stream.withWatermark(ts_col, watermark_delay)
        .groupBy(F.window(F.col(ts_col), length), *group_by)
        .agg(*aggs)
        .withColumn("window_start", F.col("window.start"))
        .withColumn("window_end", F.col("window.end"))
        .drop("window")
    )


def sliding_stream(
    stream: DataFrame, *, ts_col: str = "event_time", length: str = "1 hour",
    slide: str = "30 minutes", watermark_delay: str = "10 minutes",
    group_by: Sequence[str] = (), aggs: Sequence[Column] = (),
) -> DataFrame:
    return (
        stream.withWatermark(ts_col, watermark_delay)
        .groupBy(F.window(F.col(ts_col), length, slide), *group_by)
        .agg(*aggs)
        .withColumn("window_start", F.col("window.start"))
        .withColumn("window_end", F.col("window.end"))
        .drop("window")
    )


def session_stream(
    stream: DataFrame, *, ts_col: str = "event_time", gap: str = "10 minutes",
    watermark_delay: str = "10 minutes", group_by: Sequence[str] = (),
    aggs: Sequence[Column] = (),
) -> DataFrame:
    """Streaming session windows (absent from the reference; free here)."""
    return (
        stream.withWatermark(ts_col, watermark_delay)
        .groupBy(F.session_window(F.col(ts_col), gap), *group_by)
        .agg(*aggs)
        .withColumn("window_start", F.col("session_window.start"))
        .withColumn("window_end", F.col("session_window.end"))
        .drop("session_window")
    )


COUNT_WINDOW_STATE_SCHEMA = T.StructType([
    T.StructField("window_id", T.LongType()),
    T.StructField("n", T.LongType()),
    T.StructField("sum_value", T.DoubleType()),
    T.StructField("min_seq", T.LongType()),
    T.StructField("max_seq", T.LongType()),
])
COUNT_WINDOW_OUT_SCHEMA = T.StructType([
    T.StructField("key", T.StringType()),
    T.StructField("window_id", T.LongType()),
    T.StructField("window_size", T.LongType()),
    T.StructField("sum_value", T.DoubleType()),
    T.StructField("min_seq", T.LongType()),
    T.StructField("max_seq", T.LongType()),
])
SLIDING_COUNT_OUT_SCHEMA = T.StructType(
    [T.StructField("window_end_pos", T.LongType()) if f.name == "window_id"
     else f for f in COUNT_WINDOW_OUT_SCHEMA.fields])


def _keyed(stream: DataFrame, key_col: str, order_col: str,
           value_col: str | None = None) -> DataFrame:
    """The fold input of a count window: string ``key``, long
    ``order`` and (when aggregated) double ``value``, NULL as 0."""
    cols = [F.col(key_col).cast("string").alias("key"),
            F.col(order_col).cast("long").alias("order")]
    if value_col is not None:
        cols.append(F.coalesce(F.col(value_col).cast("double"), F.lit(0.0))
                    .alias("value"))
    return stream.select(*cols)


def count_window_stream(
    stream: DataFrame,
    *,
    key_col: str = "key",
    order_col: str = "sequence",
    value_col: str = "value",
    count: int,
) -> DataFrame:
    """Per-key tumbling COUNT window over a stream
    (CountTriggerPolicy.java:34 / CountEvictionPolicy.java:32).

    State per key: window ordinal + running aggregates of the rows
    buffered so far (< count of them) — O(1), not O(count) rows. When
    the buffer reaches ``count`` the pane fires: one output row (key,
    window_id, window_size, sum_value, min_seq, max_seq). Partial panes
    stay buffered across micro-batches — WindowManager's pane deque,
    checkpointed.

    Output aggregate is a fixed sum/min/max set; for arbitrary UDAFs
    feed the emitted pane ids back through ``applyInPandas``.
    """
    return keyed_fold(_keyed(stream, key_col, order_col, value_col),
                      partial(count_window_step, count=count),
                      COUNT_WINDOW_STATE_SCHEMA, COUNT_WINDOW_OUT_SCHEMA)


def count_window_step(key, st, rows, ctx, *, count):
    """``count_window_stream``'s per-key fold (the ``keyed_fold`` step)."""
    wid, n, sv, mn, mx = st or (0, 0, 0.0, None, None)
    rows = rows.sort_values("order", kind="mergesort")
    out = []
    for s, v in zip(rows["order"], rows["value"]):
        s = int(s)
        n, sv = n + 1, sv + float(v)
        mn, mx = (s, s) if mn is None else (min(mn, s), max(mx, s))
        if n == count:
            out.append((key, wid, n, sv, mn, mx))
            wid, n, sv, mn, mx = wid + 1, 0, 0.0, None, None
    return (wid, n, sv, mn, mx), out, bool(len(rows)), False


SLIDING_COUNT_STATE_SCHEMA = T.StructType([
    T.StructField("n_seen", T.LongType()),
    T.StructField("buf_seq", T.ArrayType(T.LongType())),
    T.StructField("buf_val", T.ArrayType(T.DoubleType())),
])


def sliding_count_window_stream(
    stream: DataFrame,
    *,
    key_col: str = "key",
    order_col: str = "sequence",
    value_col: str = "value",
    length: int,
    slide: int,
) -> DataFrame:
    """Per-key SLIDING count window over a stream: a pane of the trailing
    ``length`` records fires every ``slide`` records
    (CountTriggerPolicy + CountEvictionPolicy with length > slide).

    State per key = the last ``length`` (seq, value) pairs plus the
    total record count — the same deque WindowManager keeps, bounded at
    O(length) per key. Each arrival increments the count; when count is
    a multiple of ``slide`` the pane (trailing ≤length rows) fires as
    one output row.
    """
    return keyed_fold(_keyed(stream, key_col, order_col, value_col),
                      partial(sliding_count_step, length=length,
                              slide=slide),
                      SLIDING_COUNT_STATE_SCHEMA, SLIDING_COUNT_OUT_SCHEMA)


def sliding_count_step(key, st, rows, ctx, *, length, slide):
    """The ``keyed_fold`` step of ``sliding_count_window_stream``."""
    n_seen, buf_seq, buf_val = st or (0, [], [])
    buf_seq, buf_val = list(buf_seq or []), list(buf_val or [])
    rows = rows.sort_values("order", kind="mergesort")
    out = []
    for s, v in zip(rows["order"], rows["value"]):
        buf_seq.append(int(s))
        buf_val.append(float(v))
        if len(buf_seq) > length:
            buf_seq.pop(0)
            buf_val.pop(0)
        n_seen += 1
        if n_seen % slide == 0:
            out.append((key, n_seen, len(buf_seq), sum(buf_val),
                        min(buf_seq), max(buf_seq)))
    return (n_seen, buf_seq, buf_val), out, bool(len(rows)), False


PANE_DELTAS_STATE_SCHEMA = T.StructType([
    T.StructField("p", T.LongType()),
    T.StructField("deque", T.ArrayType(T.LongType())),
    T.StructField("evicted", T.ArrayType(T.LongType())),
])
# ``order`` is renamed to the operator's ``order_col`` on the way out
PANE_DELTAS_OUT_SCHEMA = T.StructType([
    T.StructField("key", T.StringType()),
    T.StructField("window_end_pos", T.LongType()),
    T.StructField("order", T.LongType()),
    T.StructField("delta", T.StringType()),
])


def pane_deltas_stream(
    stream: DataFrame,
    *,
    key_col: str = "key",
    order_col: str = "sequence",
    length: int,
    slide: int,
) -> DataFrame:
    """Streaming pane lifecycle views — the actual WindowFunctionExecutor
    runtime shape: per key, a trigger fires every ``slide``-th record
    and emits the pane contents tagged new/carried plus the rows evicted
    since the previous firing (WindowImpl.get/getNew/getExpired consumed
    at WindowFunctionExecutor.java:222-229).

    State per key = WindowManager's pane deque, bounded: the last
    ``length`` sequences + at most ``slide`` pending evictions + the
    arrival counter — O(length) state, checkpointed, identical output
    to the batch ``operators.windows.pane_deltas`` on the same data
    (asserted in tests).
    """
    return keyed_fold(_keyed(stream, key_col, order_col),
                      partial(pane_deltas_step, length=length, slide=slide),
                      PANE_DELTAS_STATE_SCHEMA, PANE_DELTAS_OUT_SCHEMA
                      ).withColumnRenamed("order", order_col)


def pane_deltas_step(key, st, rows, ctx, *, length, slide):
    """``pane_deltas_stream``'s per-key fold (the ``keyed_fold`` step)."""
    p, deque, evicted = st or (0, [], [])
    deque, evicted = list(deque or []), list(evicted or [])
    rows = rows.sort_values("order", kind="mergesort")
    out = []
    for s in rows["order"]:
        p += 1
        deque.append(int(s))
        if len(deque) > length:
            evicted.append(deque.pop(0))
        if p % slide == 0:
            base = p - len(deque)
            out += [(key, p, ds, "new" if base + 1 + i > p - slide
                     else "carried") for i, ds in enumerate(deque)]
            out += [(key, p, es, "expired") for es in evicted]
            evicted = []
    return (p, deque, evicted), out, bool(len(rows)), False
