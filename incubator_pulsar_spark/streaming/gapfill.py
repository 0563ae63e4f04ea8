"""Streaming time-grid gap-fill: the continuous form of
operators/gapfill.py — every micro-batch emits the DENSE slot rows that
have become final since the last batch, carrying the last observed
per-slot mean across empty slots.

State per key is three scalars (last emitted slot, carried value,
carried-flag) — slot-bounded, never event-bounded — folded by
``keyed.keyed_fold``. Ordering contract: slots at or before the last
emitted slot are dropped (the same finality a watermark gives a
windowed aggregate; replaying an availableNow pass over an unchanged
checkpoint emits nothing twice). Batch/stream parity is pytest-proven:
after any sequence of batches, the emitted grid equals the batch
``gapfill_locf`` of the union restricted to each key's observed range.
"""

from __future__ import annotations

from functools import partial

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .keyed import keyed_fold

GAPFILL_STATE_SCHEMA = T.StructType([
    T.StructField("last_slot", T.LongType()),
    T.StructField("carry", T.DoubleType()),
    T.StructField("has_carry", T.BooleanType()),
])
# the output columns after the key columns
GAPFILL_OUT_SCHEMA = T.StructType([
    T.StructField("slot", T.LongType()),
    T.StructField("n_events", T.LongType()),
    T.StructField("value_locf", T.DoubleType()),
    T.StructField("filled", T.BooleanType()),
])
_JSON_TS_MICROS = {"timestampFormat": "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX",
               "timestampNTZFormat": "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"}


def gapfill_stream(
    stream: DataFrame, *, key_cols: list[str], ts_col: str, value_col: str,
    slot_seconds: int,
) -> DataFrame:
    """Per-key dense slot emission (append mode): key_cols + (slot,
    n_events, value_locf, filled), one row per newly-final slot per
    micro-batch.

    The fold's ``key`` is the JSON of the key columns (injective:
    NULLs kept, timestamps to the microsecond); the typed key values
    ride along as ``_k0``, ``_k1``, ... Checkpoints written before this
    operator folded through ``keyed_fold`` (one state row per key) do
    not restart.
    """
    carried = [f"_k{i}" for i in range(len(key_cols))]
    keyed = stream.select(
        F.to_json(F.struct(*key_cols), _JSON_TS_MICROS).alias("key"),
        *[F.col(c).alias(n) for c, n in zip(key_cols, carried)],
        (F.floor(F.unix_timestamp(F.col(ts_col)) / slot_seconds)
         .cast("long").alias("slot")),
        F.col(value_col).cast("double").alias("_v"))
    out_schema = T.StructType(stream.select(*key_cols).schema.fields
                              + GAPFILL_OUT_SCHEMA.fields)
    return keyed_fold(keyed, partial(gapfill_step, key_cols=carried),
                      GAPFILL_STATE_SCHEMA, out_schema)


def gapfill_step(key, st, rows, ctx, *, key_cols):
    """``gapfill_stream``'s per-key fold (the ``keyed_fold`` step):
    ``rows`` carry ``slot``, ``_v`` and the key values in ``key_cols``."""
    last_slot, carry, has_carry = st or (None, None, False)
    rows = rows[rows["slot"].notna() if last_slot is None
                else rows["slot"] > last_slot]
    if rows.empty:
        return st, [], False, False
    # (n_rows, mean of the non-NULL values) per observed slot
    agg = rows.groupby("slot")["_v"].agg(["size", "mean"])
    per_slot = {int(s): (int(n), m)
                for s, n, m in zip(agg.index, agg["size"], agg["mean"])}
    kv = tuple(rows[c].iloc[0] for c in key_cols)
    lo = min(per_slot) if last_slot is None else last_slot + 1
    hi = max(per_slot)
    out = []
    for slot in range(lo, hi + 1):
        n, obs = per_slot.get(slot, (0, None))
        if not pd.isna(obs):
            carry, has_carry = float(obs), True
        out.append((*kv, slot, n, carry if has_carry else None, n == 0))
    return (hi, carry, has_carry), out, True, False
