"""Unit tests for the Pulsar-semantics operators, mirroring the
reference's test matrices (SURVEY §5: WindowManagerTest,
CompactedTopicImplTest, ClientDeduplicationTest, DeadLetterTopicTest)."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from incubator_pulsar_spark.operators import compaction, dedup, delay, retry, routing, ttl, windows
from incubator_pulsar_spark.operators.tableview import table_view


def _ts(m):
    return dt.datetime(2024, 1, 1, 0, m)


def _kv(spark, rows):
    return spark.createDataFrame(
        rows, "key string, value string, sequence long, event_time timestamp"
    )


class TestCompaction:
    def rows(self):
        return [
            ("a", "v1", 1, _ts(5)),
            ("a", "v2", 2, _ts(1)),   # later publish, earlier event time
            ("b", "w1", 3, _ts(2)),
            ("b", None, 4, _ts(9)),   # tombstone
            (None, "nk", 5, _ts(3)),  # null key
        ]

    def test_publish_order(self, spark):
        out = compaction.compact(_kv(spark, self.rows()))
        got = {r["key"]: r["value"] for r in out.collect()}
        assert got == {"a": "v2"}  # b tombstoned, null key dropped

    def test_event_time_order(self, spark):
        out = compaction.compact(_kv(spark, self.rows()),
                                 mode=compaction.EVENT_TIME_ORDER)
        got = {r["key"]: r["value"] for r in out.collect()}
        # a: max event_time is v1 (00:05); b tombstone wins (00:09)
        assert got == {"a": "v1"}

    def test_retain_tombstones_and_null_key(self, spark):
        out = compaction.compact(_kv(spark, self.rows()), retain_null_key=True,
                                 drop_tombstones=False)
        got = {r["key"]: r["value"] for r in out.collect()}
        assert got == {"a": "v2", "b": None, None: "nk"}

    def test_tableview(self, spark):
        out = table_view(_kv(spark, self.rows()))
        assert out.columns == ["key", "value"]
        got = {r["key"]: r["value"] for r in out.collect()}
        assert got == {"a": "v2"}


class TestDedup:
    def test_sequence_regression_dropped(self, spark):
        df = spark.createDataFrame(
            [
                ("p1", 1, 10), ("p1", 2, 20), ("p1", 3, 15),  # 15 ≤ 20 → dup
                ("p1", 4, 20),                                 # equal → dup
                ("p1", 5, 21), ("p2", 6, 5), ("p2", 7, 5),     # second 5 → dup
            ],
            "producer_name string, sequence long, sequence_id long",
        )
        out = dedup.dedup_by_sequence(df)
        kept = sorted(r["sequence"] for r in out.collect())
        assert kept == [1, 2, 5, 6]

    def test_exact(self, spark):
        df = spark.createDataFrame([("a", 1), ("a", 1), ("a", 2)], "k string, v int")
        assert dedup.dedup_exact(df).count() == 2


class TestRouting:
    def test_round_robin_partitions_in_range(self, spark):
        df = spark.createDataFrame(
            [(str(i % 7), i) for i in range(100)] + [(None, 1000)],
            "key string, sequence long",
        )
        out = routing.route_round_robin(df, 8)
        parts = [r["partition"] for r in out.collect()]
        assert all(0 <= p < 8 for p in parts)
        # same key → same partition (sticky)
        by_key = out.filter(F.col("key") == "3").select("partition").distinct()
        assert by_key.count() == 1

    def test_single_partition(self, spark):
        df = spark.createDataFrame([("a", 1)], "key string, sequence long")
        assert routing.route_single_partition(df, 5).collect()[0]["partition"] == 5

    def test_key_shared_per_key_order(self, spark):
        rows = [(f"k{i % 5}", i) for i in range(50)]
        df = spark.createDataFrame(rows, "key string, sequence long")
        out = routing.key_shared(df, num_tasks=4)

        def check(it):
            seen: dict[str, int] = {}
            for row in it:
                last = seen.get(row.key, -1)
                assert row.sequence > last, f"order violated for {row.key}"
                seen[row.key] = row.sequence
            return iter([])

        out.rdd.mapPartitions(lambda it: check(it)).count()


class TestWindows:
    def events(self, spark):
        rows = [("k1", i, _ts(i)) for i in range(25)]
        return spark.createDataFrame(rows, "key string, sequence long, event_time timestamp")

    def test_tumbling_count(self, spark):
        out = windows.tumbling_count_window(
            self.events(spark), count=10, aggs=[F.sum("sequence").alias("s")]
        )
        got = {r["window_id"]: r["window_size"] for r in out.collect()}
        assert got == {0: 10, 1: 10, 2: 5}

    def test_sliding_count(self, spark):
        out = windows.sliding_count_window(
            self.events(spark), length=10, slide=5, aggs=[F.max("sequence").alias("m")]
        )
        rows = {r["window_end_pos"]: r["window_size"] for r in out.collect()}
        # triggers at 5,10,15,20,25 only (no future panes); full panes = 10
        assert sorted(rows) == [5, 10, 15, 20, 25]
        assert rows[10] == 10 and rows[15] == 10 and rows[25] == 10
        assert rows[5] == 5  # first pane only half-filled

    def test_tumbling_time(self, spark):
        out = windows.tumbling_time_window(
            self.events(spark), length="10 minutes",
            aggs=[F.count(F.lit(1)).alias("n")],
        )
        ns = sorted(r["n"] for r in out.collect())
        assert ns == [5, 10, 10]

    def test_pane_deltas_lifecycle(self, spark):
        """WindowImpl get()/getNew()/getExpired() semantics: length 4,
        slide 2, 7 rows → triggers at 2/4/6 with the exact pane views."""
        rows = [("k", i) for i in range(1, 8)]
        df = spark.createDataFrame(rows, "key string, sequence long")
        out = windows.pane_deltas(df, length=4, slide=2)
        got = {}
        for r in out.collect():
            got.setdefault((r["window_end_pos"], r["delta"]), []).append(r["sequence"])
        for v in got.values():
            v.sort()
        assert got == {
            (2, "new"): [1, 2],
            (4, "new"): [3, 4], (4, "carried"): [1, 2],
            (6, "new"): [5, 6], (6, "carried"): [3, 4], (6, "expired"): [1, 2],
        }
        # each element is new exactly once and expired at most once
        news = [s for (t, d), v in got.items() if d == "new" for s in v]
        assert sorted(news) == [1, 2, 3, 4, 5, 6]  # 7 hasn't triggered yet

    def test_pane_deltas_tumbling(self, spark):
        """slide == length: every member is new, whole previous pane expires."""
        rows = [("k", i) for i in range(1, 7)]
        df = spark.createDataFrame(rows, "key string, sequence long")
        out = windows.pane_deltas(df, length=2, slide=2)
        got = {}
        for r in out.collect():
            got.setdefault((r["window_end_pos"], r["delta"]), []).append(r["sequence"])
        for v in got.values():
            v.sort()
        assert got == {
            (2, "new"): [1, 2],
            (4, "new"): [3, 4], (4, "expired"): [1, 2],
            (6, "new"): [5, 6], (6, "expired"): [3, 4],
        }

    def test_split_late(self, spark):
        rows = [
            ("k", 1, _ts(10)), ("k", 2, _ts(20)),
            ("k", 3, _ts(5)),   # arrives after wm=20 → late
            ("k", 4, _ts(21)),
        ]
        df = spark.createDataFrame(rows, "key string, sequence long, event_time timestamp")
        on_time, late = windows.split_late(df, max_lag="1 minute")
        assert sorted(r["sequence"] for r in on_time.collect()) == [1, 2, 4]
        assert [r["sequence"] for r in late.collect()] == [3]

    def test_split_late_keyed(self, spark):
        """key_col partitions the running-max window: per-key watermarks
        (a key only sees its own max) and a scale-safe hash-shuffle plan
        instead of a single-partition Exchange."""
        rows = [
            ("k", 1, _ts(10)), ("k", 2, _ts(20)), ("k", 3, _ts(5)),  # late for k
            ("j", 4, _ts(1)), ("j", 5, _ts(2)),   # j's own max is tiny → on time
        ]
        df = spark.createDataFrame(rows, "key string, sequence long, event_time timestamp")
        on_time, late = windows.split_late(df, max_lag="1 minute", key_col="key")
        assert sorted(r["sequence"] for r in on_time.collect()) == [1, 2, 4, 5]
        assert [r["sequence"] for r in late.collect()] == [3]
        # plan lock: keyed form must NOT have a single-partition Exchange
        plan = on_time._jdf.queryExecution().executedPlan().toString()
        assert "SinglePartition" not in plan
        assert "hashpartitioning(key" in plan


class TestDelayRetryTtl:
    def test_due_and_withheld(self, spark):
        rows = [("a", _ts(0), _ts(5)), ("b", _ts(0), _ts(30)), ("c", _ts(0), None)]
        df = spark.createDataFrame(rows, "key string, publish_time timestamp, deliver_at timestamp")
        due = delay.due_messages(df, F.lit(_ts(10)))
        held = delay.withheld_messages(df, F.lit(_ts(10)))
        assert sorted(r["key"] for r in due.collect()) == ["a", "c"]
        assert [r["key"] for r in held.collect()] == ["b"]

    def test_route_failures(self, spark):
        rows = [
            ("t", 1, 0, None, _ts(0), "ok"),
            ("t", 2, 3, None, _ts(0), "fail"),
            ("t", 3, 16, None, _ts(0), "fail"),
        ]
        df = spark.createDataFrame(
            rows,
            "topic string, sequence long, redelivery_count int, "
            "properties map<string,string>, publish_time timestamp, status string",
        )
        routed = retry.route_failures(df, F.col("status") == "fail", subscription="s")
        assert [r["sequence"] for r in routed.ok.collect()] == [1]
        r2 = routed.retry.collect()
        assert [r["sequence"] for r in r2] == [2]
        assert r2[0]["redelivery_count"] == 4
        assert r2[0]["topic"] == "t-s-RETRY"
        d = routed.dlq.collect()
        assert [r["sequence"] for r in d] == [3]
        assert d[0]["topic"] == "t-s-DLQ"

    def test_java_string_hash_bit_exact(self, spark):
        """java_string_hash must equal Java's s.hashCode() & MAX_VALUE
        (JavaStringHash.java) so partition picks match a Java client."""
        from incubator_pulsar_spark.operators import routing

        def java_hash(s: str) -> int:
            h = 0
            for ch in s:
                h = (h * 31 + ord(ch)) & 0xFFFFFFFF
            if h >= 2 ** 31:
                h -= 2 ** 32
            return h & 0x7FFFFFFF

        keys = ["", "a", "abc", "hello", "pulsar-key-42",
                "persistent://public/default/t", "ÿüñîçødé", None]
        df = spark.createDataFrame([(k,) for k in keys], "k string")
        got = {r["k"]: r["h"] for r in df.select(
            "k", routing.java_string_hash(F.col("k")).alias("h")).collect()}
        for k in keys:
            expected = java_hash(k or "")
            assert got[k] == expected, (k, got[k], expected)
        assert java_hash("abc") == 96354  # sanity anchor vs real Java

    def test_sticky_ranges(self, spark):
        """Key_Shared STICKY explicit ranges (KeySharedPolicy.java:88-95,
        HashRangeExclusiveStickyKeyConsumerSelector): slot → claiming
        consumer; unclaimed slots → NULL; overlaps rejected."""
        from incubator_pulsar_spark.operators import routing

        ranges = [routing.StickyRange(0, 32767, "c1"),
                  routing.StickyRange(32768, 49151, "c2")]
        df = spark.createDataFrame(
            [(f"k{i}",) for i in range(200)], "key string")
        out = routing.assign_sticky(df, ranges).withColumn(
            "slot", routing.key_hash_slot(F.col("key")))
        for r in out.collect():
            if r["slot"] <= 32767:
                assert r["consumer"] == "c1"
            elif r["slot"] <= 49151:
                assert r["consumer"] == "c2"
            else:
                assert r["consumer"] is None  # unclaimed → withheld
        with pytest.raises(ValueError, match="overlap"):
            routing.validate_sticky_ranges(
                [routing.StickyRange(0, 100, "a"),
                 routing.StickyRange(100, 200, "b")])
        with pytest.raises(ValueError, match="outside"):
            routing.validate_sticky_ranges([routing.StickyRange(0, 65536, "a")])

    def test_route_failures_multi_hop_naming(self, spark):
        """Second hop must NOT accumulate suffixes: retry/DLQ names derive
        from REAL_TOPIC (the original topic), and provenance properties
        are putIfAbsent (ConsumerImpl.java:799, RetryMessageUtil)."""
        rows = [("t", 7, 0, None, _ts(0), "fail")]
        df = spark.createDataFrame(
            rows,
            "topic string, sequence long, redelivery_count int, "
            "properties map<string,string>, publish_time timestamp, status string",
        )
        hop1 = retry.route_failures(df, F.col("status") == "fail",
                                    subscription="s").retry
        r1 = hop1.collect()[0]
        assert r1["topic"] == "t-s-RETRY"
        assert r1["properties"]["REAL_TOPIC"] == "t"
        assert r1["properties"]["ORIGIN_MESSAGE_ID"] == "7"
        # feed the retry output straight back through the router
        hop2 = retry.route_failures(hop1.withColumn("status", F.lit("fail")),
                                    F.col("status") == "fail",
                                    subscription="s").retry
        r2 = hop2.collect()[0]
        assert r2["topic"] == "t-s-RETRY"            # same topic, not t-s-RETRY-s-RETRY
        assert r2["properties"]["REAL_TOPIC"] == "t"  # provenance preserved
        assert r2["properties"]["RECONSUMETIMES"] == "2"
        # exhaust the counter → DLQ named from the ORIGINAL topic
        exhausted = hop1.withColumn("status", F.lit("fail")) \
                        .withColumn("redelivery_count", F.lit(16))
        d = retry.route_failures(exhausted, F.col("status") == "fail",
                                 subscription="s").dlq.collect()[0]
        assert d["topic"] == "t-s-DLQ"
        assert d["properties"]["REAL_TOPIC"] == "t"

    def test_ttl_and_seek(self, spark):
        rows = [(i, _ts(i)) for i in range(10)]
        df = spark.createDataFrame(rows, "sequence long, publish_time timestamp")
        kept = ttl.expire_ttl(df, ttl_seconds=300, now=F.lit(_ts(9)))
        assert kept.count() == 6  # minutes 4..9
        assert ttl.seek_sequence(df, 7).count() == 3
        assert ttl.reader_range(df, start_sequence=2, end_sequence=5).count() == 3


def test_salted_agg_equals_direct(spark, sf_dir):
    from incubator_pulsar_spark.operators.routing import salted_two_phase_agg
    from incubator_pulsar_spark.session import read_table
    from pyspark.sql import functions as F

    ev = read_table(spark, sf_dir, "events")
    direct = {r.event_type: (r.n, round(r.s, 4)) for r in ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("s")).collect()}
    salted = salted_two_phase_agg(
        ev, key_cols=["event_type"],
        partial_aggs=[F.count(F.lit(1)).alias("_n"),
                      F.sum(F.col("value").cast("decimal(18,4)")).alias("_s")],
        final_aggs=[F.sum("_n").alias("n"), F.sum("_s").cast("double").alias("s")],
        salt_buckets=8)
    got = {r.event_type: (r.n, round(r.s, 4)) for r in salted.collect()}
    assert got == direct


def test_retention_policy(spark):
    from incubator_pulsar_spark.operators.ttl import apply_retention
    from pyspark.sql import Row
    from pyspark.sql import functions as F
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)
    rows = [Row(partition=p, sequence=i, value=b"x" * 10,
                publish_time=t0 + dt.timedelta(hours=i))
            for p in (0, 1) for i in range(10)]
    df = spark.createDataFrame(rows)

    # size budget 35 bytes/partition → newest 3 rows (30B; 4th would hit 40)
    kept = apply_retention(df, size_bytes=35)
    per_part = {r.partition: sorted(x.sequence for x in kept.filter(
        F.col("partition") == r.partition).collect())
        for r in kept.select("partition").distinct().collect()}
    assert per_part == {0: [7, 8, 9], 1: [7, 8, 9]}  # newest survive

    # time limit: keep last 5 hours from t0+9h → seqs 5..9
    kept_t = apply_retention(df, time_seconds=5 * 3600,
                             now=t0 + dt.timedelta(hours=9))
    assert sorted(set(r.sequence for r in kept_t.collect())) == [4, 5, 6, 7, 8, 9]


def test_stream_seek(spark, tmp_path):
    from incubator_pulsar_spark.envelope import (build_envelope,
                                                 read_topic_stream, write_topic)
    from pyspark.sql import Row
    from pyspark.sql import functions as F

    src = spark.createDataFrame([Row(k=str(i), v=f"m{i}", i=i) for i in range(20)])
    env = build_envelope(src, topic="t", key="k", value=F.col("v"), sequence="i")
    path = str(tmp_path / "topic")
    write_topic(env, path)
    stream = read_topic_stream(spark, path, starting_sequence=15)
    q = (stream.writeStream.format("parquet")
         .option("path", str(tmp_path / "out"))
         .option("checkpointLocation", str(tmp_path / "ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = sorted(r.sequence for r in spark.read.parquet(str(tmp_path / "out")).collect())
    assert got == [15, 16, 17, 18, 19]


def test_stream_late_data_route(spark, tmp_path):
    """Late-data side output across two stream runs: the high-water mark
    persisted by run 1 must flag an old-timestamp arrival in run 2 as
    late (WindowFunctionExecutor.java:296-308 lateDataTopic route)."""
    import datetime as dt

    from incubator_pulsar_spark.streaming.late import route_late_stream

    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    src_dir = tmp_path / "src"
    src_dir.mkdir()
    paths = dict(
        on_time_path=str(tmp_path / "on_time"),
        late_path=str(tmp_path / "late"),
        checkpoint_path=str(tmp_path / "ck"),
        state_path=str(tmp_path / "wm_state"),
    )
    schema = "event_id long, event_time timestamp"

    def run_once():
        stream = spark.readStream.schema(schema).parquet(str(src_dir))
        q = route_late_stream(stream, ts_col="event_time",
                              max_lag="10 minutes", available_now=True, **paths)
        q.awaitTermination(120)

    # run 1: events up to 12:00 → watermark will be 11:50 afterwards
    spark.createDataFrame(
        [(1, base - dt.timedelta(hours=1)), (2, base)], schema
    ).coalesce(1).write.mode("append").parquet(str(src_dir))
    run_once()

    # run 2: one fresh event and one 30-min-old event (≤ 11:50 → late)
    spark.createDataFrame(
        [(3, base + dt.timedelta(minutes=5)), (4, base - dt.timedelta(minutes=30))],
        schema,
    ).coalesce(1).write.mode("append").parquet(str(src_dir))
    run_once()

    on_time = {r.event_id for r in spark.read.parquet(paths["on_time_path"]).collect()}
    late = {r.event_id for r in spark.read.parquet(paths["late_path"]).collect()}
    assert late == {4}
    assert on_time == {1, 2, 3}


def test_stream_windowed_agg_with_late_capture(spark, tmp_path):
    """Composition: the late router feeds a watermarked tumbling window —
    on-time rows aggregate, late arrivals land in the side topic AND
    never corrupt the already-emitted panes (the lateDataTopic contract
    of WindowFunctionExecutor wired end-to-end)."""
    import datetime as dt

    from incubator_pulsar_spark.streaming.late import route_late_stream
    from incubator_pulsar_spark.streaming.windows import tumbling_stream
    from pyspark.sql import functions as F

    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    src_dir = tmp_path / "src"
    src_dir.mkdir()
    paths = dict(
        on_time_path=str(tmp_path / "on_time"),
        late_path=str(tmp_path / "late"),
        checkpoint_path=str(tmp_path / "ck_route"),
        state_path=str(tmp_path / "wm"),
    )
    schema = "event_id long, event_time timestamp, value double"

    def route_once():
        stream = spark.readStream.schema(schema).parquet(str(src_dir))
        q = route_late_stream(stream, ts_col="event_time",
                              max_lag="10 minutes", available_now=True, **paths)
        q.awaitTermination(120)

    spark.createDataFrame(
        [(1, base, 1.0), (2, base + dt.timedelta(minutes=30), 2.0)], schema
    ).coalesce(1).write.mode("append").parquet(str(src_dir))
    route_once()
    # a 2h-old straggler plus one fresh event
    spark.createDataFrame(
        [(3, base - dt.timedelta(hours=2), 100.0),
         (4, base + dt.timedelta(minutes=40), 4.0)], schema
    ).coalesce(1).write.mode("append").parquet(str(src_dir))
    route_once()

    on_stream = spark.readStream.schema(schema).parquet(paths["on_time_path"])
    windowed = tumbling_stream(
        on_stream, ts_col="event_time", length="1 hour",
        watermark_delay="10 minutes",
        aggs=[F.sum("value").alias("total"), F.count(F.lit(1)).alias("n")])
    q = (windowed.writeStream.format("memory").queryName("panes")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    # append-mode panes that the watermark has closed
    closed = {(r.window_start.isoformat(), r.total, r.n)
              for r in spark.sql("SELECT * FROM panes").collect()}
    late = [r.event_id for r in spark.read.parquet(paths["late_path"]).collect()]
    assert late == [3], "the 2h straggler must route to the side topic"
    # the noon pane contains only on-time rows — never the straggler's 100.0
    assert ("2024-01-01T12:00:00", 7.0, 3) in closed or closed == set(), (
        f"unexpected panes: {closed}")
    on_ids = {r.event_id for r in spark.read.parquet(paths["on_time_path"]).collect()}
    assert on_ids == {1, 2, 4}


def test_write_topic_compression_codecs(spark, tmp_path):
    """CompressionType names map to parquet codecs (CompressionType.java:
    31-43); each codec round-trips the same rows."""
    import glob

    from incubator_pulsar_spark.envelope import build_envelope, write_topic
    from pyspark.sql import Row
    from pyspark.sql import functions as F

    src = spark.createDataFrame([Row(k=str(i), v=f"m{i}", i=i) for i in range(10)])
    env = build_envelope(src, topic="t", key="k", value=F.col("v"), sequence="i")
    for codec, ext in [("ZSTD", "zstd"), ("SNAPPY", "snappy"), ("NONE", None)]:
        path = str(tmp_path / f"topic_{codec}")
        write_topic(env, path, compression=codec)
        assert spark.read.parquet(path).count() == 10
        files = glob.glob(f"{path}/partition=*/*.parquet")
        assert files
        if ext:
            assert all(f".{ext}." in f for f in files), (codec, files)


def test_write_topic_partition_by_date_prunes(spark, tmp_path):
    """Date-partitioned topic: a publish_time range filter must prune
    directories (PartitionFilters on publish_date), the storage-level
    seek-by-timestamp at scale."""
    import datetime as dt

    from incubator_pulsar_spark.envelope import build_envelope, write_topic
    from pyspark.sql import Row
    from pyspark.sql import functions as F

    t0 = dt.datetime(2024, 1, 1)
    rows = [Row(k=str(i), v=f"m{i}", i=i,
                pt=t0 + dt.timedelta(days=i // 4)) for i in range(12)]
    env = build_envelope(spark.createDataFrame(rows), topic="t", key="k",
                         value=F.col("v"), sequence="i", publish_time="pt")
    path = str(tmp_path / "topic")
    write_topic(env, path, partition_by_date=True)

    from incubator_pulsar_spark.operators.subscriptions import seek_timestamp

    read = seek_timestamp(spark.read.parquet(path), t0 + dt.timedelta(days=2))
    assert sorted(r.sequence for r in read.collect()) == list(range(8, 12))
    plan = read._jdf.queryExecution().executedPlan().toString()
    import re

    pf = re.search(r"PartitionFilters: \[([^\]]*)\]", plan).group(1)
    assert "publish_date" in pf, f"no directory pruning: {pf!r}"


def test_trim_topic_by_date(spark, tmp_path):
    """Retention as directory delete on a date-partitioned topic: days
    before the cutoff vanish without reading any data."""
    import datetime as dt

    from incubator_pulsar_spark.envelope import build_envelope, write_topic
    from incubator_pulsar_spark.operators.ttl import trim_topic_by_date
    from pyspark.sql import Row
    from pyspark.sql import functions as F

    t0 = dt.datetime(2024, 1, 1)
    rows = [Row(k=str(i), v=f"m{i}", i=i,
                pt=t0 + dt.timedelta(days=i // 3)) for i in range(9)]
    env = build_envelope(spark.createDataFrame(rows), topic="t", key="k",
                         value=F.col("v"), sequence="i", publish_time="pt")
    path = str(tmp_path / "topic")
    write_topic(env, path, partition_by_date=True)

    preview = trim_topic_by_date(path, dt.date(2024, 1, 2), dry_run=True)
    assert preview == ["publish_date=2024-01-01"]
    assert spark.read.parquet(path).count() == 9  # dry run touched nothing

    removed = trim_topic_by_date(path, dt.date(2024, 1, 2))
    assert removed == ["publish_date=2024-01-01"]
    left = spark.read.parquet(path)
    assert sorted(r.sequence for r in left.collect()) == list(range(3, 9))


def test_trim_topic_skips_unparseable_partitions(tmp_path):
    """One NULL publish_time writes publish_date=__HIVE_DEFAULT_PARTITION__;
    retention must skip that directory (age unknowable), not abort."""
    import datetime as dt
    import os

    from incubator_pulsar_spark.operators.ttl import trim_topic_by_date

    path = str(tmp_path / "topic")
    for d in ("publish_date=2024-01-01", "publish_date=__HIVE_DEFAULT_PARTITION__"):
        os.makedirs(os.path.join(path, d))
    removed = trim_topic_by_date(path, dt.date(2024, 6, 1))
    assert removed == ["publish_date=2024-01-01"]
    assert os.path.isdir(os.path.join(path, "publish_date=__HIVE_DEFAULT_PARTITION__"))


def test_tiered_offload_moves_days_and_read_spans_tiers(spark, tmp_path):
    """Tiered-storage offload: old day directories MOVE to the cold
    tier, the tiered read returns the identical topic, a recent-window
    seek prunes to hot-side partitions only, and re-running the offload
    is a no-op."""
    import datetime as dt
    import os
    import re

    from incubator_pulsar_spark.envelope import build_envelope, write_topic
    from incubator_pulsar_spark.operators.offload import (
        offload_topic_by_date, read_topic_tiered)
    from incubator_pulsar_spark.operators.subscriptions import seek_timestamp
    from pyspark.sql import Row
    from pyspark.sql import functions as F

    t0 = dt.datetime(2024, 1, 1)
    rows = [Row(k=str(i), v=f"m{i}", i=i,
                pt=t0 + dt.timedelta(days=i // 4)) for i in range(16)]
    env = build_envelope(spark.createDataFrame(rows), topic="t", key="k",
                         value=F.col("v"), sequence="i", publish_time="pt")
    hot = str(tmp_path / "hot")
    cold = str(tmp_path / "cold")
    write_topic(env, hot, partition_by_date=True)
    before = {r.sequence for r in spark.read.parquet(hot).collect()}

    moved = offload_topic_by_date(hot, cold, t0.date() + dt.timedelta(days=2))
    assert moved == ["publish_date=2024-01-01", "publish_date=2024-01-02"]
    assert sorted(n for n in os.listdir(hot)
                  if n.startswith("publish_date=")) == [
        "publish_date=2024-01-03", "publish_date=2024-01-04"]

    tiered = read_topic_tiered(spark, hot, cold)
    assert {r.sequence for r in tiered.collect()} == before

    # recent-window seek: partition pruning must keep it hot-only
    recent = seek_timestamp(tiered, t0 + dt.timedelta(days=3))
    assert sorted(r.sequence for r in recent.collect()) == list(range(12, 16))
    plan = recent._jdf.queryExecution().executedPlan().toString()
    pf = re.findall(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert any("publish_date" in f for f in pf), "seek lost partition pruning"

    # idempotent re-run: nothing left to move
    assert offload_topic_by_date(hot, cold,
                                 t0.date() + dt.timedelta(days=2)) == []
