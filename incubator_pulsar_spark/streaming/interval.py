"""Streaming interval analytics: the keyed-state twin of
``operators/interval.interval_coverage`` (the scd2/twap_stream
pattern — batch==stream parity is the contract): the pure per-key
``interval_step`` folded by ``keyed.keyed_fold``.
"""

from __future__ import annotations

import bisect

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .keyed import keyed_fold

INTERVAL_STATE_SCHEMA = T.StructType([
    T.StructField("hwm_start", T.LongType()),
    T.StructField("frontier", T.LongType()),
    T.StructField("open_ends", T.ArrayType(T.LongType())),
    T.StructField("peak", T.LongType()),
    T.StructField("n_dropped_late", T.LongType()),
])
INTERVAL_OUT_SCHEMA = T.StructType([
    T.StructField("key", T.StringType()),
    T.StructField("n_delta", T.LongType()),
    T.StructField("total_delta", T.LongType()),
    T.StructField("covered_delta", T.LongType()),
    T.StructField("peak", T.LongType()),
    T.StructField("n_dropped_late", T.LongType()),
])


def interval_stream(
    stream: DataFrame,
    *,
    key_col: str = "event_type",
    start_col: str = "s",
    end_col: str = "e",
) -> DataFrame:
    """Streaming sweep-line interval coverage DELTAS: per key the
    state holds the start high-water mark, the union FRONTIER (the
    furthest covered end), the still-OPEN interval ends (the
    live-concurrency set — bounded by PEAK CONCURRENCY, never event
    volume), and the running peak; each batch emits one row with the
    batch's (n_delta intervals, total_delta Σ durations,
    covered_delta NEW union length) plus the cumulative peak — the
    downstream fold is SUM over the deltas and MAX over the peak
    (both associative, the markov_stream CDC shape).

    Contract: per-key START order non-decreasing ACROSS batches (the
    publish-order discipline; within a batch the operator sorts) —
    exactly the order a topic's publish timeline delivers. Under it
    the union scan needs only the frontier: a start past it opens new
    coverage e−s; otherwise only the overhang past it counts.
    Concurrency at a start s = open ends > s (ends ≤ s prune first:
    half-open [s,e) — an interval ending AT s never overlaps it,
    matching the batch sweep's delta-ASC order; the batch maximum
    always lands on a start event, so tracking it there is exact). A
    start below the high-water mark is dropped and counted
    (``n_dropped_late``, observable — a batch that only dropped still
    emits a marker row). Zero/negative-length intervals drop silently
    on both sides (the batch filter).

    Parity: availableNow replay of a start-ordered log == the batch
    ``interval_coverage`` on the same rows (gate-locked). Output:
    (key, n_delta, total_delta, covered_delta, peak, n_dropped_late —
    all BIGINT).
    """
    keyed = stream.select(
        F.col(key_col).cast("string").alias("key"),
        F.col(start_col).cast("long").alias("start"),
        F.col(end_col).cast("long").alias("end"))
    return keyed_fold(keyed, interval_step, INTERVAL_STATE_SCHEMA,
                      INTERVAL_OUT_SCHEMA)


def interval_step(key, st, rows, ctx):
    """``interval_stream``'s per-key fold (the ``keyed_fold`` step)."""
    hwm, frontier, open_ends, peak, n_dropped = st or (None, None, [], 0, 0)
    open_ends = list(open_ends or [])
    seq = sorted((int(s), int(e))
                 for s, e in zip(rows["start"], rows["end"])
                 if not (pd.isna(s) or pd.isna(e)) and e > s)
    n = total = covered = 0
    dropped_this_batch = False
    for s, e in seq:
        if hwm is not None and s < hwm:
            n_dropped += 1
            dropped_this_batch = True
            continue
        hwm = s
        # prune closed intervals (end ≤ s: half-open boundary)
        open_ends = open_ends[bisect.bisect_right(open_ends, s):]
        bisect.insort(open_ends, e)
        if len(open_ends) > peak:
            peak = len(open_ends)
        n += 1
        total += e - s
        if frontier is None or s >= frontier:
            covered += e - s
            frontier = e
        elif e > frontier:
            covered += e - frontier
            frontier = e
    if not (n or dropped_this_batch):
        return st, [], False, False
    return ((hwm, frontier, open_ends, peak, n_dropped),
            [(key, n, total, covered, peak, n_dropped)], True, False)
