"""Streaming per-producer sequence-id deduplication.

Reference: ``broker/service/persistent/MessageDeduplication.java`` — the
broker keeps ``highestSequencedPushed`` per producer (:110-115) and drops
any message whose sequence_id ≤ that high-water mark (:186-187). The map
is snapshotted every N entries (:142) so recovery replays only the tail.

Spark-first: a pure per-producer step folded by ``keyed.keyed_fold``.
State = one LONG (the high-water mark) per producer — identical memory
profile to the reference's map; the state-store checkpoint IS the
snapshot mechanism (no custom snapshot cursor needed). Arrival order
within a micro-batch follows the ``arrival_col`` sort over the
producer's whole batch, mirroring publish order.
"""

from __future__ import annotations

from functools import partial

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .keyed import keyed_fold

DEDUP_STATE_SCHEMA = T.StructType([T.StructField("highest_seq", T.LongType())])


def dedup_stream(
    stream: DataFrame,
    *,
    producer_col: str = "producer_name",
    sequence_id_col: str = "sequence_id",
    arrival_col: str = "sequence",
) -> DataFrame:
    """Rows whose sequence_id regressed for their producer are dropped;
    the surviving high-water mark persists across micro-batches in the
    state store.

    Output schema == input schema; the input columns ride the fold as
    ``_c0``, ``_c1``, ... clear of its ``key`` (the producer). One
    shuffle by producer per batch (producers, not message keys).
    Checkpoints written before this operator folded through
    ``keyed_fold`` (one state row per producer) do not restart.
    """
    carried = [f"_c{i}" for i in range(len(stream.columns))]
    keyed = stream.select(
        F.col(producer_col).cast("string").alias("key"),
        F.col(sequence_id_col).cast("long").alias("seq_id"),
        F.col(arrival_col).alias("arrival"),
        *[F.col(c).alias(n) for c, n in zip(stream.columns, carried)])
    return keyed_fold(keyed, partial(dedup_step, carried=carried),
                      DEDUP_STATE_SCHEMA, stream.schema)


def dedup_step(key, st, rows, ctx, *, carried):
    """``dedup_stream``'s per-producer fold (the ``keyed_fold`` step):
    a row survives iff its ``seq_id`` is NULL or above every id that
    arrived before it; it emits its ``carried`` values."""
    (highest,) = st or (None,)
    rows = rows.sort_values("arrival", kind="mergesort")
    keep = []
    for seq in rows["seq_id"]:
        s = None if pd.isna(seq) else int(seq)
        keep.append(s is None or highest is None or s > highest)
        if keep[-1] and s is not None:
            highest = s
    out = list(rows.loc[keep, carried].itertuples(index=False, name=None))
    return (highest,), out, highest is not None and (highest,) != st, False


def dedup_within_watermark(
    stream: DataFrame,
    *,
    producer_col: str = "producer_name",
    sequence_id_col: str = "sequence_id",
    event_time_col: str = "publish_time",
    delay: str = "10 minutes",
) -> DataFrame:
    """Built-in alternative: exact-duplicate drop on (producer, seq id)
    within a watermark horizon — ``dropDuplicatesWithinWatermark``.

    Weaker than the broker's monotonic high-water-mark rule (it only
    suppresses EQUAL ids seen within the horizon, not regressions), but
    needs bounded state regardless of producer count. Use for at-least-
    once producer retries (the common case the reference's dedup exists
    for); use ``dedup_stream`` for strict monotonic enforcement.
    """
    return (
        stream.withWatermark(event_time_col, delay)
        .dropDuplicatesWithinWatermark([producer_col, sequence_id_col])
    )
