"""Streaming behavioral analytics: the keyed-state twins of
``functions/behavior.py`` (the scd2_stream pattern — batch==stream
parity is the contract, pytest- and gate-locked). Each operator is a
pure per-key ``*_step`` over its state schema, folded by
``keyed.keyed_fold``."""

from __future__ import annotations

from decimal import Decimal
from functools import partial

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .keyed import keyed_fold

MARKOV_STATE_SCHEMA = T.StructType([
    T.StructField("last_state", T.StringType()),
    T.StructField("last_order", T.LongType()),
    T.StructField("n_dropped_late", T.LongType()),
])
MARKOV_OUT_SCHEMA = T.StructType([
    T.StructField("state", T.StringType()),
    T.StructField("next_state", T.StringType()),
    T.StructField("n_delta", T.LongType()),
    T.StructField("n_dropped_late", T.LongType()),
])


def markov_stream(
    stream: DataFrame,
    *,
    key_col: str = "user_id",
    order_col: str = "sequence",
    state_col: str = "event_type",
) -> DataFrame:
    """Streaming first-order Markov transition DELTAS: per key the
    state holds only (last_state, last_order); each batch sorts its
    rows by ``order_col``, chains them onto the held last state, and
    emits one (state, next_state, n_delta) row per transition pair
    observed in the batch — the downstream transition matrix is
    SUM(n_delta) GROUP BY (state, next_state), an associative fold any
    sink can maintain incrementally (the counts-as-deltas CDC shape,
    append-mode friendly).

    Contract: per-key ``order_col`` non-decreasing ACROSS batches (the
    publish-order discipline of ``scd2_stream``); a row older than the
    held last_order is dropped and counted (``n_dropped_late``
    cumulative per key, emitted on a dedicated (NULL, NULL) marker row
    per batch that dropped something — observable, never silent).

    Parity: availableNow replay of an ordered log == the batch
    ``behavior.markov_transitions`` counts on the same rows
    (gate-locked; probabilities are derived at read time with the
    same exact DIV).

    Output: (state, next_state, n_delta BIGINT, n_dropped_late BIGINT).
    """
    keyed = stream.select(
        F.col(key_col).cast("string").alias("key"),
        F.col(order_col).cast("long").alias("order"),
        F.col(state_col).cast("string").alias("state"))
    return keyed_fold(keyed, markov_step, MARKOV_STATE_SCHEMA,
                      MARKOV_OUT_SCHEMA)


def markov_step(key, st, rows, ctx):
    """``markov_stream``'s per-key fold (the ``keyed_fold`` step)."""
    last_state, last_order, n_dropped = st or (None, None, 0)
    seq = sorted(((int(o), None if pd.isna(s) else str(s))
                  for o, s in zip(rows["order"], rows["state"])),
                 key=lambda r: r[0])
    deltas: dict[tuple, int] = {}
    dropped_this_batch = False
    for o, s in seq:
        if last_order is not None and o < last_order:
            n_dropped += 1
            dropped_this_batch = True
            continue
        if last_state is not None:
            k = (last_state, s)
            deltas[k] = deltas.get(k, 0) + 1
        last_state, last_order = s, o
    out = [(a, b, n, n_dropped) for (a, b), n in deltas.items()]
    if dropped_this_batch and not out:
        # dropped-rows marker: keeps the counter observable even
        # when the batch produced no transitions
        out = [(None, None, 0, n_dropped)]
    return (last_state, last_order, n_dropped), out, bool(seq), False


RETENTION_STATE_SCHEMA = T.StructType([
    T.StructField("first_period", T.IntegerType()),
    T.StructField("seen_periods", T.ArrayType(T.IntegerType())),
    T.StructField("n_dropped_late", T.LongType()),
])
RETENTION_OUT_SCHEMA = T.StructType([
    T.StructField("cohort", T.IntegerType()),
    T.StructField("week_offset", T.IntegerType()),
    T.StructField("delta", T.LongType()),
    T.StructField("n_dropped_late", T.LongType()),
])


def retention_stream(
    stream: DataFrame,
    *,
    user_col: str = "user_id",
    order_col: str = "sequence",
    anchor: int,
    period: int = 7 * 86_400_000,
) -> DataFrame:
    """Streaming cohort-retention DELTAS: per user the state holds the
    first-activity period (the cohort) and the set of periods already
    credited; the first event of a user in a NEW period emits one
    (cohort, offset, +1) increment — the downstream retention matrix
    is SUM(delta) GROUP BY (cohort, offset), the same associative
    CDC-fold shape as ``markov_stream``.

    ``anchor``/``period`` are in the SAME unit as ``order_col``
    (default: epoch milliseconds, matching the batch operator's
    unix_millis grid — mixing units shifts bucket boundaries at the
    edges). The anchor is a CONFIG in the streaming form (the batch
    operator derives it from the corpus min, which a stream cannot
    know ahead of time; pass the deployment's epoch). Per-user publish-order
    arrival is the contract: a row in a period EARLIER than the held
    cohort would rewrite history (the cohort itself) — it is dropped
    and counted (``n_dropped_late`` cumulative, carried on every
    emission). Within or after the cohort period any order is fine
    (the seen-set absorbs duplicates and disorder).

    State per user is the cohort int + the seen-period int array —
    bounded by the stream's lifetime in periods (weeks), not by event
    volume. Output: (cohort INT, week_offset INT, delta BIGINT,
    n_dropped_late BIGINT).
    """
    keyed = stream.select(
        F.col(user_col).cast("string").alias("key"),
        F.col(order_col).cast("long").alias("order"))
    step = partial(retention_step, anchor=anchor, period=period)
    return keyed_fold(keyed, step, RETENTION_STATE_SCHEMA,
                      RETENTION_OUT_SCHEMA)


def retention_step(key, st, rows, ctx, *, anchor, period):
    """``retention_stream``'s per-key fold (the ``keyed_fold`` step)."""
    first, seen, n_dropped = st or (None, [], 0)
    seen = set(seen or [])
    periods = sorted(int((int(o) - anchor) // period) for o in rows["order"])
    out = []
    changed = False
    for p in periods:
        if first is None:
            first = p
        if p < first:
            n_dropped += 1  # would rewrite the cohort: late, counted
            changed = True
            continue
        if p not in seen:
            seen.add(p)
            out.append((first, p - first, 1, n_dropped))
            changed = True
    return (first, sorted(seen), n_dropped), out, changed, False


TWAP_STATE_SCHEMA = T.StructType([
    T.StructField("last_order", T.LongType()),
    T.StructField("last_v4", T.LongType()),
    T.StructField("n_dropped_late", T.LongType()),
])
TWAP_OUT_SCHEMA = T.StructType([
    T.StructField("key", T.StringType()),
    T.StructField("n_delta", T.LongType()),
    T.StructField("dur_delta", T.LongType()),
    T.StructField("wsum_delta", T.DecimalType(38, 4)),
    T.StructField("n_dropped_late", T.LongType()),
])


def twap_stream(
    stream: DataFrame,
    *,
    key_col: str = "event_type",
    order_col: str = "sequence",
    value_col: str = "v4",
) -> DataFrame:
    """Streaming step-function TWAP DELTAS (the last-observation-carry
    twin of ``behavior.twap``): per key the state holds only the open
    observation (last_order ms, last value in integer 1e-4 units); each
    batch sorts its rows by ``order_col``, chains them onto the held
    observation, and emits ONE row per key per batch with the CLOSED
    intervals' aggregate — (n_delta intervals, dur_delta ms,
    wsum_delta = Σ value·dur as DECIMAL(38,4)) — so the downstream TWAP
    is the associative fold SUM(wsum)/SUM(dur) over deltas (the
    markov_stream CDC shape, append-mode friendly). The still-open last
    observation carries no weight until a later batch closes it —
    exactly the batch operator's closed-window semantics.

    Inputs are integer by contract: ``value_col`` is the value scaled
    by 1e4 (cast value to DECIMAL(18,4)·10000 AS LONG upstream — the
    module's decimal discipline moved to ingest so the kernel is pure
    integer arithmetic, exact at any scale via Python bigints; the
    emitted DECIMAL(38,4) cannot overflow). ``order_col`` is epoch
    milliseconds. Per-key publish order ACROSS batches is the contract
    (the scd2_stream discipline): a row older than the held observation
    is dropped and counted (``n_dropped_late`` cumulative per key,
    observable on every emission — a batch that only dropped still
    emits a zero-interval marker row).

    Parity: availableNow replay of an ordered log == the batch
    ``behavior.twap`` on the same rows (gate-locked). Output: (key,
    n_delta BIGINT, dur_delta BIGINT, wsum_delta DECIMAL(38,4),
    n_dropped_late BIGINT).
    """
    keyed = stream.select(
        F.col(key_col).cast("string").alias("key"),
        F.col(order_col).cast("long").alias("order"),
        F.col(value_col).cast("long").alias("value"))
    return keyed_fold(keyed, twap_step, TWAP_STATE_SCHEMA, TWAP_OUT_SCHEMA)


def twap_step(key, st, rows, ctx):
    """``twap_stream``'s per-key fold (the ``keyed_fold`` step)."""
    last_o, last_v, n_dropped = st or (None, None, 0)
    seq = sorted((int(o), int(v))
                 for o, v in zip(rows["order"], rows["value"]))
    n = dur = wsum = 0
    dropped_this_batch = False
    for o, v in seq:
        if last_o is not None and o < last_o:
            n_dropped += 1
            dropped_this_batch = True
            continue
        if last_o is not None:
            d = o - last_o
            n += 1
            dur += d
            wsum += last_v * d  # Python bigint: exact, unbounded
        last_o, last_v = o, v
    out = []
    if n or dropped_this_batch:
        out = [(key, n, dur, Decimal(wsum).scaleb(-4), n_dropped)]
    return (last_o, last_v, n_dropped), out, bool(seq), False


ENTROPY_STATE_SCHEMA = T.StructType([
    T.StructField("states", T.ArrayType(T.StringType())),
    T.StructField("counts", T.ArrayType(T.LongType())),
    T.StructField("version", T.LongType()),
])
ENTROPY_OUT_SCHEMA = T.StructType([
    T.StructField("key", T.StringType()),
    T.StructField("version", T.LongType()),
    T.StructField("states", T.ArrayType(T.StringType())),
    T.StructField("counts", T.ArrayType(T.LongType())),
])


def entropy_stream(
    stream: DataFrame,
    *,
    key_col: str = "user_id",
    state_col: str = "event_type",
) -> DataFrame:
    """Streaming per-key state-distribution tracker (the count-map twin
    of ``behavior.state_entropy``): entropy is NOT an associative fold,
    so this emits REPLACE rows, not deltas — per key the state holds
    the full (state → count) map plus a monotone version; every batch
    the key appears in re-emits the complete updated map under
    version+1. Downstream read contract: latest version per key wins
    (the scd2 upsert-by-version discipline — append-mode file sinks
    stay valid because stale versions are superseded, never wrong).

    The kernel does NO float math: counts are exact integers; the
    entropy itself is derived at read time from the emitted map with
    the batch operator's exact pipeline (ln-snap-9 → DECIMAL fold →
    one round-6 division) so stream and batch share one float path —
    that is the parity argument, not a reimplementation.

    State size is the key's distinct-state count (bounded by the state
    vocabulary, not event volume). Arrival order is irrelevant (counts
    commute) — no late/dropped semantics. Output: (key, version
    BIGINT, states ARRAY<STRING>, counts ARRAY<BIGINT>), arrays
    co-indexed and sorted by state for deterministic emission.
    """
    keyed = stream.select(
        F.col(key_col).cast("string").alias("key"),
        F.col(state_col).cast("string").alias("state"))
    return keyed_fold(keyed, entropy_step, ENTROPY_STATE_SCHEMA,
                      ENTROPY_OUT_SCHEMA)


def entropy_step(key, st, rows, ctx):
    """``entropy_stream``'s per-key fold (the ``keyed_fold`` step)."""
    states, counts, version = st or ([], [], 0)
    m = dict(zip(states or [], counts or []))
    n_new = 0
    for s in rows["state"]:
        s = None if pd.isna(s) else str(s)
        m[s] = m.get(s, 0) + 1
        n_new += 1
    if not n_new:
        return st, [], False, False
    version += 1
    # NULL state sorts first (deterministic emission order)
    items = sorted(m.items(), key=lambda kv: (kv[0] is not None, kv[0]))
    ks = [k for k, _ in items]
    vs = [int(v) for _, v in items]
    return (ks, vs, version), [(key, version, ks, vs)], True, False
