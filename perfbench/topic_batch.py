"""``topic_batch``: closed loop, one client. One op is a full subscription
catch-up pass over the topic: compact -> table_view -> dedup_by_sequence
-> tumbling_time_window -> route_failures -> subscription_backlog.

This is the engine's batch read path: the ``operators`` layer plus JVM
shuffle and aggregation, with no Python worker and no state store.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import functions as F

from incubator_pulsar_spark.envelope import read_topic
from incubator_pulsar_spark.operators.compaction import compact
from incubator_pulsar_spark.operators.dedup import dedup_by_sequence
from incubator_pulsar_spark.operators.retry import route_failures
from incubator_pulsar_spark.operators.subscriptions import subscription_backlog
from incubator_pulsar_spark.operators.tableview import table_view
from incubator_pulsar_spark.operators.windows import tumbling_time_window

from . import gen, reference
from .harness import OpResult, Timers

N_MESSAGES = 300_000
N_KEYS = 30_000
N_FILES = 8
ROUTE_NOW_US = gen.BASE_US + 86_400_000_000


def _count(name="rows"):
    return F.count(F.lit(1)).alias(name)


def _fingerprint(df, *aggs) -> dict:
    return {k: (v or 0) for k, v in df.agg(*aggs).first().asDict().items()}


class TopicBatch:
    name = "topic_batch"
    gen_threads = 0

    def __init__(self, seed: int, work: str):
        self.work = work
        self.topic = gen.make_topic(seed, N_MESSAGES, N_KEYS)
        t = self.topic
        self.expected = {
            "compact": reference.compact(t),
            "table_view": reference.table_view(t),
            "dedup_by_sequence": reference.dedup(t),
            "tumbling_time_window": reference.window_counts(t),
            "route_failures": reference.route(t),
            "subscription_backlog": reference.backlog(t),
        }

    def setup(self, spark, k: int, traced: bool) -> None:
        self.spark = spark
        self.path = os.path.join(self.work, f"topic-{k}")
        gen.write_topic(self.topic, self.path, N_FILES)
        self.cursors = spark.createDataFrame(
            reference.backlog_cursors(self.topic), "subscription string, ack_us long").select(
            "subscription", F.timestamp_micros("ack_us").alias("ack_through"))
        warm = self.one_pass(Timers(False))  # the fixed warm-up: one full pass
        if warm.errors:
            raise RuntimeError(f"topic_batch warm-up pass is wrong: {warm.errors[:5]}")

    # -- the six ops: call + the action that materializes the answer ----

    def _ops(self, df):
        failed = F.coalesce(F.col("value").cast("string").contains('"ok":0'), F.lit(False))
        crc = lambda c: F.sum(F.crc32(c))
        return {
            "compact": lambda: _fingerprint(
                compact(df), _count(), F.sum("sequence").alias("sequence_sum"),
                crc("value").alias("value_crc_sum")),
            "table_view": lambda: _fingerprint(
                table_view(df), _count(), crc(F.col("key").cast("binary")).alias("key_crc_sum"),
                crc("value").alias("value_crc_sum")),
            "dedup_by_sequence": lambda: _fingerprint(
                dedup_by_sequence(df), _count(), F.sum("sequence").alias("sequence_sum"),
                F.sum("sequence_id").alias("sequence_id_sum")),
            "tumbling_time_window": lambda: tumbling_time_window(
                df, length=f"{reference.WINDOW_SECONDS} seconds", group_by=["producer_name"],
                aggs=[_count("n"), F.sum("redelivery_count").cast("long").alias("redeliveries")],
            ).select(F.unix_micros("window_start").alias("window_start_us"), "producer_name",
                     "n", "redeliveries")
             .toPandas().sort_values(["window_start_us", "producer_name"])
             .reset_index(drop=True),
            "route_failures": lambda: self._route(df, failed),
            "subscription_backlog": lambda: sorted(
                tuple(r) for r in subscription_backlog(df, self.cursors)
                .select("subscription", "n_backlog", "oldest_unacked", "newest_unacked").collect()),
        }

    def _route(self, df, failed) -> dict:
        """The three routed streams, fingerprinted in one job."""
        r = route_failures(df, failed, now=F.timestamp_micros(F.lit(ROUTE_NOW_US)))
        tagged = [part.select(F.lit(tag).alias("tag"), "redelivery_count",
                              F.size("properties").alias("props"))
                  for tag, part in (("ok", r.ok), ("retry", r.retry), ("dlq", r.dlq))]
        rows = (tagged[0].unionByName(tagged[1]).unionByName(tagged[2]).groupBy("tag")
                .agg(_count(), F.sum("redelivery_count").alias("rc"), F.sum("props").alias("props"))
                .collect())
        got = {row["tag"]: row for row in rows}
        field = lambda tag, k: (got[tag][k] or 0) if tag in got else 0
        return {"ok_rows": field("ok", "rows"),
                "retry_rows": field("retry", "rows"),
                "retry_redelivery_sum": field("retry", "rc"),
                "retry_props": field("retry", "props"),
                "dlq_rows": field("dlq", "rows"),
                "dlq_props": field("dlq", "props")}

    def one_pass(self, timers: Timers) -> OpResult:
        t0 = time.perf_counter()
        errors, rows_out = [], 0
        df = read_topic(self.spark, self.path)
        for name, op in self._ops(df).items():
            with timers.span(f"operators.{name}_ms"):
                try:
                    got = op()
                except Exception as e:  # a failing op is counted, not fatal
                    errors.append(f"{name}: {type(e).__name__}: {e}")
                    continue
            errors += reference.mismatches(name, self.expected[name], got)
            rows_out += _rows(got)
        timers.count("operators.rows_in", len(self.topic))
        timers.count("operators.rows_out", rows_out)
        return OpResult(latency_ms=(time.perf_counter() - t0) * 1e3,
                        rows=len(self.topic), errors=errors)

    def measure(self, seconds: float, timers: Timers, on_op) -> list[OpResult]:
        results, deadline = [], time.perf_counter() + seconds
        while time.perf_counter() < deadline:
            results.append(self.one_pass(timers))
            on_op()
        return results

    progress: list[dict] = []  # no streaming query

    def check(self, results: list[OpResult]) -> None:
        """Each pass already compared its answers as it went."""

    def throughput_rows_s(self, results: list[OpResult]) -> float:
        return sum(r.rows for r in results) / (sum(r.latency_ms for r in results) / 1e3)

    def layer_ops(self, results: list[OpResult]) -> int:
        return len(results)

    def details(self) -> dict:
        return {}

    def stop(self) -> None:
        pass


def _rows(got) -> int:
    if isinstance(got, dict):
        return sum(v for k, v in got.items() if k.endswith("rows"))
    return len(got)
