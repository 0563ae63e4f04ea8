"""Seeded topic generator: envelope-shaped parquet the engine reads.

Everything is drawn from ``numpy.random.default_rng(seed)``, so one seed
gives byte-identical files. The engine only ever sees these files; the
benchmark keeps the arrays to compute its own reference answers.

Input properties (shares are of all messages):

- keys: Zipf(``ZIPF_S``) over ``n_keys`` user keys, hot keys scattered
  by a seeded permutation;
- tombstones: ``TOMBSTONE_SHARE`` of values are NULL;
- duplicates: ``DUP_SHARE`` of messages re-send an older per-producer
  ``sequence_id`` (the id regresses);
- late events: ``LATE_SHARE`` of ``event_time``s lag ``publish_time`` by
  1-10 minutes, the rest by under 5 seconds (out-of-order event time);
- redeliveries: ``REDELIVERED_SHARE`` carry a redelivery count 1-24, so
  some pass the 16-redelivery DLQ cap;
- failures: payloads with ``"ok":0`` (``FAIL_SHARE``) fail processing.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

ZIPF_S = 1.1
TOMBSTONE_SHARE = 0.05
DUP_SHARE = 0.03
LATE_SHARE = 0.08
REDELIVERED_SHARE = 0.10
FAIL_SHARE = 0.06
N_PRODUCERS = 16
STATES = ("view", "search", "cart", "checkout", "buy", "return")
POOL = 4096
BASE_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
PUBLISH_GAP_US = 500  # ~2k messages per second of publish time
TOPIC = "persistent://public/default/bench"

ARROW_SCHEMA = pa.schema([
    ("topic", pa.string()),
    ("partition", pa.int32()),
    ("sequence", pa.int64()),
    ("key", pa.string()),
    ("value", pa.binary()),
    ("properties", pa.map_(pa.string(), pa.string())),
    ("publish_time", pa.timestamp("us", tz="UTC")),
    ("event_time", pa.timestamp("us", tz="UTC")),
    ("producer_name", pa.string()),
    ("sequence_id", pa.int64()),
    ("ordering_key", pa.binary()),
    ("deliver_at", pa.timestamp("us", tz="UTC")),
    ("redelivery_count", pa.int32()),
])


@dataclass
class Topic:
    """Column arrays of one generated topic, in publish (``sequence``) order."""

    key_id: np.ndarray        # int64 index into key names
    sequence: np.ndarray      # int64, 0..n-1 + offset
    tombstone: np.ndarray     # bool
    payload_id: np.ndarray    # int64 index into the payload pool
    publish_us: np.ndarray    # int64
    event_us: np.ndarray      # int64
    producer: np.ndarray      # int64 0..N_PRODUCERS-1
    sequence_id: np.ndarray   # int64, regresses on duplicates
    redelivery: np.ndarray    # int32
    pool_state: np.ndarray    # int64 state index per payload
    pool_ok: np.ndarray       # bool per payload
    pool_bytes: list          # payload bytes per pool entry

    def __len__(self) -> int:
        return len(self.sequence)

    def slice(self, lo: int, hi: int) -> "Topic":
        per_msg = ("key_id", "sequence", "tombstone", "payload_id", "publish_us",
                   "event_us", "producer", "sequence_id", "redelivery")
        kw = {f: getattr(self, f)[lo:hi] for f in per_msg}
        return Topic(**kw, pool_state=self.pool_state, pool_ok=self.pool_ok,
                     pool_bytes=self.pool_bytes)

    def to_arrow(self) -> pa.Table:
        n = len(self)
        keys = pa.array([key_name(k) for k in range(int(self.key_id.max()) + 1)]).take(
            pa.array(self.key_id))
        pool = pa.array(self.pool_bytes, pa.binary())
        values = pool.take(pa.array(self.payload_id))
        values = pc.if_else(pa.array(self.tombstone), pa.nulls(n, pa.binary()), values)
        producers = pa.array([f"producer-{i}" for i in range(N_PRODUCERS)]).take(
            pa.array(self.producer))
        return pa.Table.from_arrays([
            pa.array(np.full(n, TOPIC, dtype=object), pa.string()),
            pa.array((self.key_id % 32).astype(np.int32)),
            pa.array(self.sequence),
            keys,
            values,
            pa.nulls(n, ARROW_SCHEMA.field("properties").type),
            pa.array(self.publish_us, pa.timestamp("us", tz="UTC")),
            pa.array(self.event_us, pa.timestamp("us", tz="UTC")),
            producers,
            pa.array(self.sequence_id),
            pa.nulls(n, pa.binary()),
            pa.nulls(n, pa.timestamp("us", tz="UTC")),
            pa.array(self.redelivery),
        ], schema=ARROW_SCHEMA)


def key_name(key_id: int) -> str:
    return f"user-{key_id:06d}"


def _payload_pool(rng: np.random.Generator):
    state = rng.integers(0, len(STATES), POOL)
    ok = rng.random(POOL) >= FAIL_SHARE
    amount = rng.integers(1, 100_000, POOL)
    pad = rng.integers(0, 48, POOL)
    pool = [
        ('{"t":"%s","amt":%d,"ok":%d,"pad":"%s"}'
         % (STATES[s], a, int(o), "x" * p)).encode()
        for s, a, o, p in zip(state, amount, ok, pad)
    ]
    return state, ok, pool


def make_topic(seed: int, n: int, n_keys: int) -> Topic:
    """Generate ``n`` messages over ``n_keys`` Zipf-distributed keys."""
    rng = np.random.default_rng(seed)
    pool_state, pool_ok, pool_bytes = _payload_pool(rng)

    weights = 1.0 / np.arange(1, n_keys + 1) ** ZIPF_S
    rank = rng.choice(n_keys, size=n, p=weights / weights.sum())
    key_id = rng.permutation(n_keys)[rank].astype(np.int64)

    sequence = np.arange(n, dtype=np.int64)
    publish_us = BASE_US + sequence * PUBLISH_GAP_US + rng.integers(0, PUBLISH_GAP_US, n)
    late = rng.random(n) < LATE_SHARE
    lag_us = np.where(late, rng.integers(60_000_000, 600_000_000, n),
                      rng.integers(0, 5_000_000, n))
    event_us = publish_us - lag_us

    producer = rng.integers(0, N_PRODUCERS, n).astype(np.int64)
    # per-producer running id: 1, 2, 3, ... in publish order
    order = np.lexsort((sequence, producer))
    running = np.empty(n, dtype=np.int64)
    counts = np.bincount(producer, minlength=N_PRODUCERS)
    starts = np.concatenate([[0], np.cumsum(counts)[:-1]])
    running[order] = np.arange(n) - np.repeat(starts, counts) + 1
    dup = rng.random(n) < DUP_SHARE
    back = rng.integers(1, 50, n)
    sequence_id = np.where(dup, np.maximum(running - back, 1), running)

    redelivered = rng.random(n) < REDELIVERED_SHARE
    redelivery = np.where(redelivered, rng.integers(1, 25, n), 0).astype(np.int32)

    return Topic(
        key_id=key_id,
        sequence=sequence,
        tombstone=rng.random(n) < TOMBSTONE_SHARE,
        payload_id=rng.integers(0, POOL, n).astype(np.int64),
        publish_us=publish_us,
        event_us=event_us,
        producer=producer,
        sequence_id=sequence_id,
        redelivery=redelivery,
        pool_state=pool_state,
        pool_ok=pool_ok,
        pool_bytes=pool_bytes,
    )


def write_file(table: pa.Table, path: str) -> None:
    """Write one parquet file atomically: a stream source never sees a
    partial file (``_``-prefixed names are hidden from Spark's listing)."""
    d, name = os.path.split(path)
    tmp = os.path.join(d, "_" + name)
    pq.write_table(table, tmp, compression="snappy")
    os.replace(tmp, path)


def write_topic(topic: Topic, directory: str, n_files: int) -> list[str]:
    """Write ``topic`` as ``n_files`` parquet files in publish order."""
    os.makedirs(directory, exist_ok=True)
    bounds = np.linspace(0, len(topic), n_files + 1).astype(int)
    paths = []
    for i in range(n_files):
        path = os.path.join(directory, f"part-{i:05d}.parquet")
        write_file(topic.slice(bounds[i], bounds[i + 1]).to_arrow(), path)
        paths.append(path)
    return paths
