"""Independent pandas/numpy answers for every benchmarked op.

Each reference is computed from the generator's arrays, never from
engine output, and is reduced to the same fingerprint the benchmark
reads back from Spark: exact integer counts and sums, so one dropped,
duplicated or wrong row changes at least one field.
"""

from __future__ import annotations

import zlib

import numpy as np
import pandas as pd

from .gen import STATES, Topic, key_name

WINDOW_SECONDS = 10
MAX_REDELIVER = 16  # RetryMessageUtil.MAX_RECONSUMETIMES
RETRY_PROPS = 4     # RECONSUMETIMES, DELAY_TIME, REAL_TOPIC, ORIGIN_MESSAGE_ID
DLQ_PROPS = 2       # REAL_TOPIC, ORIGIN_MESSAGE_ID
BACKLOG_CUTS = (0.0, 0.25, 0.5, 0.9)  # subscription cursor positions, share of the topic


def _pool_crc(t: Topic) -> np.ndarray:
    return np.array([zlib.crc32(b) for b in t.pool_bytes], dtype=np.int64)


def latest_per_key(t: Topic) -> np.ndarray:
    """Row index of each key's latest message (publish order = index)."""
    n = len(t)
    _, first_in_reversed = np.unique(t.key_id[::-1], return_index=True)
    return np.sort(n - 1 - first_in_reversed)


def compact(t: Topic) -> dict:
    win = latest_per_key(t)
    win = win[~t.tombstone[win]]
    crc = _pool_crc(t)[t.payload_id[win]]
    return {"rows": len(win), "sequence_sum": int(t.sequence[win].sum()),
            "value_crc_sum": int(crc.sum())}


def table_view(t: Topic) -> dict:
    win = latest_per_key(t)
    win = win[~t.tombstone[win]]
    key_crc = sum(zlib.crc32(key_name(int(k)).encode()) for k in t.key_id[win])
    crc = _pool_crc(t)[t.payload_id[win]]
    return {"rows": len(win), "key_crc_sum": int(key_crc), "value_crc_sum": int(crc.sum())}


def dedup_survivors(t: Topic) -> np.ndarray:
    """Mask of messages whose sequence_id beats every earlier one of their producer."""
    df = pd.DataFrame({"p": t.producer, "sid": t.sequence_id})
    prev_max = df.groupby("p")["sid"].transform(lambda s: s.cummax().shift())
    return (prev_max.isna() | (df["sid"] > prev_max)).to_numpy()


def dedup(t: Topic) -> dict:
    keep = dedup_survivors(t)
    return {"rows": int(keep.sum()), "sequence_sum": int(t.sequence[keep].sum()),
            "sequence_id_sum": int(t.sequence_id[keep].sum())}


def window_counts(t: Topic) -> pd.DataFrame:
    """Per (10 s event-time window, producer): message count and redelivery sum."""
    df = pd.DataFrame({
        "window_start_us": t.event_us // (WINDOW_SECONDS * 1_000_000) * WINDOW_SECONDS * 1_000_000,
        "producer_name": [f"producer-{p}" for p in t.producer],
        "redelivery": t.redelivery.astype(np.int64),
    })
    out = df.groupby(["window_start_us", "producer_name"]).agg(
        n=("redelivery", "size"), redeliveries=("redelivery", "sum")).reset_index()
    return out.sort_values(["window_start_us", "producer_name"]).reset_index(drop=True)


def failed_mask(t: Topic) -> np.ndarray:
    return ~t.tombstone & ~t.pool_ok[t.payload_id]


def route(t: Topic) -> dict:
    failed = failed_mask(t)
    rc = t.redelivery.astype(np.int64)
    retry = failed & (rc < MAX_REDELIVER)
    dlq = failed & (rc >= MAX_REDELIVER)
    return {
        "ok_rows": int((~failed).sum()),
        "retry_rows": int(retry.sum()),
        "retry_redelivery_sum": int((rc[retry] + 1).sum()),
        "retry_props": int(retry.sum()) * RETRY_PROPS,
        "dlq_rows": int(dlq.sum()),
        "dlq_props": int(dlq.sum()) * DLQ_PROPS,
    }


def backlog_cursors(t: Topic) -> list[tuple[str, int]]:
    """(subscription, ack_through µs) at fixed shares of the topic's publish span."""
    lo, hi = int(t.publish_us.min()), int(t.publish_us.max())
    return [(f"sub-{i}", lo + int((hi - lo) * c)) for i, c in enumerate(BACKLOG_CUTS)]


def backlog(t: Topic) -> list[tuple]:
    """(subscription, n_backlog, oldest, newest) per cursor, sorted by subscription."""
    out = []
    for sub, ack in backlog_cursors(t):
        pend = t.publish_us[t.publish_us > ack]
        fmt = lambda us: pd.Timestamp(int(us), unit="us").strftime("%Y-%m-%d %H:%M:%S")
        out.append((sub, len(pend), fmt(pend.min()) if len(pend) else None,
                    fmt(pend.max()) if len(pend) else None))
    return sorted(out)


def markov_totals(t: Topic) -> dict[tuple, int]:
    """Transition counts per (state, next_state) over each key's publish-order
    chain. A tombstone is a NULL state: it ends a chain link, as the
    stream operator's ``last_state is None`` rule does."""
    state = np.where(t.tombstone, -1, t.pool_state[t.payload_id])
    order = np.lexsort((t.sequence, t.key_id))
    k, s = t.key_id[order], state[order]
    link = (k[1:] == k[:-1]) & (s[:-1] >= 0)
    name = lambda i: STATES[i] if i >= 0 else None
    pairs = pd.Series(1, index=pd.MultiIndex.from_arrays([s[:-1][link], s[1:][link]]))
    return {(name(a), name(b)): int(n) for (a, b), n in pairs.groupby(level=[0, 1]).sum().items()}


def mismatches(name: str, expected, got) -> list[str]:
    """One message per differing field; empty when the op is correct."""
    if isinstance(expected, dict) and isinstance(got, dict):
        return [f"{name}.{k}: expected {expected[k]!r}, got {got.get(k)!r}"
                for k in sorted(expected, key=str) if got.get(k) != expected[k]] + \
               [f"{name}.{k}: unexpected {got[k]!r}" for k in sorted(set(got) - set(expected), key=str)]
    if isinstance(expected, pd.DataFrame):
        if expected.shape != got.shape:
            return [f"{name}: expected shape {expected.shape}, got {got.shape}"]
        bad = (expected.to_numpy() != got[expected.columns].to_numpy()).any(axis=1)
        return [f"{name}: {int(bad.sum())} of {len(bad)} rows differ"] if bad.any() else []
    return [] if expected == got else [f"{name}: expected {expected!r}, got {got!r}"]
