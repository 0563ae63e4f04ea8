"""Structured-Streaming operator tests.

Pattern: write envelope rows to a parquet dir → file-source stream →
operator → memory/parquet sink with trigger(availableNow) → assert
against the batch operator's answer on the same data (stream/batch
parity), plus multi-batch incremental runs for statefulness.
"""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from incubator_pulsar_spark.streaming import dedup as sdedup
from incubator_pulsar_spark.streaming import delay as sdelay
from incubator_pulsar_spark.streaming import retry as sretry
from incubator_pulsar_spark.streaming import tableview as stv
from incubator_pulsar_spark.streaming import windows as swin

TS0 = dt.datetime(2024, 1, 1, 0, 0, 0)


def _msg_rows():
    # key A: v1(seq1) v2(seq3); key B: v1(seq2) tombstone(seq4); key C: v9(seq5)
    return [
        Row(key="A", value="a1", sequence=1, producer_name="p0", sequence_id=10,
            publish_time=TS0, event_time=TS0),
        Row(key="B", value="b1", sequence=2, producer_name="p0", sequence_id=11,
            publish_time=TS0 + dt.timedelta(minutes=1),
            event_time=TS0 + dt.timedelta(minutes=1)),
        Row(key="A", value="a2", sequence=3, producer_name="p1", sequence_id=5,
            publish_time=TS0 + dt.timedelta(minutes=2),
            event_time=TS0 + dt.timedelta(minutes=2)),
        Row(key="B", value=None, sequence=4, producer_name="p0", sequence_id=12,
            publish_time=TS0 + dt.timedelta(minutes=3),
            event_time=TS0 + dt.timedelta(minutes=3)),
        Row(key="C", value="c1", sequence=5, producer_name="p1", sequence_id=4,
            publish_time=TS0 + dt.timedelta(minutes=4),
            event_time=TS0 + dt.timedelta(minutes=4)),
    ]


@pytest.fixture
def topic_dir(spark, tmp_path):
    path = str(tmp_path / "topic")
    spark.createDataFrame(_msg_rows()).write.parquet(path)
    return path


def _stream(spark, path):
    schema = spark.read.parquet(path).schema
    return spark.readStream.schema(schema).parquet(path)


def _run_to_memory(df, name, checkpoint, output_mode="append"):
    q = (
        df.writeStream.queryName(name).format("memory")
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return q


def _run_to_parquet(df, out_path, checkpoint):
    # parquet sink supports checkpoint recovery (memory sink does not),
    # so stateful continuation tests reuse one checkpoint across runs
    q = (
        df.writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return q


def test_table_view_stream(spark, tmp_path, topic_dir):
    q = stv.start_table_view(
        _stream(spark, topic_dir), name="tv_test",
        checkpoint=str(tmp_path / "ckpt"), trigger_available_now=True,
    )
    q.awaitTermination(120)
    got = {r.key: (r.value, r.sequence)
           for r in spark.sql("SELECT * FROM tv_test").collect()}
    # B's latest is a tombstone → dropped from the view
    assert got == {"A": ("a2", 3), "C": ("c1", 5)}


def test_dedup_stream_matches_batch_and_is_stateful(spark, tmp_path, topic_dir):
    from incubator_pulsar_spark.operators.dedup import dedup_by_sequence

    out_path = str(tmp_path / "out")
    out = sdedup.dedup_stream(_stream(spark, topic_dir))
    _run_to_parquet(out, out_path, str(tmp_path / "c1"))
    got = sorted(r.sequence for r in spark.read.parquet(out_path).collect())
    want = sorted(
        r.sequence
        for r in dedup_by_sequence(spark.read.parquet(topic_dir)).collect()
    )
    assert got == want  # p1: seq_id 5 then 4 → the 4 is dropped

    # statefulness: append a second file with a regressed + a fresh id;
    # resume from the SAME checkpoint → high-water marks persisted
    more = [
        Row(key="D", value="d1", sequence=6, producer_name="p0", sequence_id=11,
            publish_time=TS0 + dt.timedelta(minutes=5),
            event_time=TS0 + dt.timedelta(minutes=5)),  # 11 ≤ 12 → drop
        Row(key="D", value="d2", sequence=7, producer_name="p0", sequence_id=13,
            publish_time=TS0 + dt.timedelta(minutes=6),
            event_time=TS0 + dt.timedelta(minutes=6)),  # fresh → keep
    ]
    spark.createDataFrame(more).write.mode("append").parquet(topic_dir)
    out2 = sdedup.dedup_stream(_stream(spark, topic_dir))
    _run_to_parquet(out2, out_path, str(tmp_path / "c1"))
    got2 = sorted(r.sequence for r in spark.read.parquet(out_path).collect())
    # cumulative output: first batch's survivors + only seq 7 from batch 2
    assert got2 == want + [7]


def test_dedup_keeps_null_sequence_id_in_batch_and_stream(spark, tmp_path):
    """A row with no sequence id cannot be judged a duplicate: one
    producer's ids 1, NULL, 2 keep all three rows in both forms."""
    from incubator_pulsar_spark.operators.dedup import dedup_by_sequence

    path = str(tmp_path / "t")
    spark.createDataFrame(
        [Row(producer_name="p", sequence=s, sequence_id=i)
         for s, i in ((1, 1), (2, None), (3, 2))],
        "producer_name STRING, sequence LONG, sequence_id LONG",
    ).coalesce(1).write.parquet(path)
    batch = dedup_by_sequence(spark.read.parquet(path))
    sink = str(tmp_path / "out")
    _run_to_parquet(sdedup.dedup_stream(_stream(spark, path)), sink,
                    str(tmp_path / "ck"))
    assert sorted(r.sequence for r in batch.collect()) == [1, 2, 3]
    assert sorted(r.sequence for r in spark.read.parquet(sink).collect()) == [1, 2, 3]


def test_count_window_stream_emits_full_panes_across_batches(spark, tmp_path):
    path = str(tmp_path / "t")
    rows1 = [Row(key="u", value=float(i), sequence=i,
                 publish_time=TS0 + dt.timedelta(seconds=i)) for i in range(1, 6)]
    spark.createDataFrame(rows1).write.parquet(path)

    out_path = str(tmp_path / "out")
    out = swin.count_window_stream(_stream(spark, path), key_col="key",
                                   order_col="sequence", value_col="value", count=3)
    _run_to_parquet(out, out_path, str(tmp_path / "c"))
    p1 = spark.read.parquet(out_path).collect()
    # 5 rows → one full pane (1,2,3), partial (4,5) buffered
    assert [(r.window_id, r.window_size, r.sum_value) for r in p1] == [(0, 3, 6.0)]

    rows2 = [Row(key="u", value=float(i), sequence=i,
                 publish_time=TS0 + dt.timedelta(seconds=i)) for i in range(6, 8)]
    spark.createDataFrame(rows2).write.mode("append").parquet(path)
    out2 = swin.count_window_stream(_stream(spark, path), key_col="key",
                                    order_col="sequence", value_col="value", count=3)
    _run_to_parquet(out2, out_path, str(tmp_path / "c"))
    p2 = sorted(spark.read.parquet(out_path).collect(), key=lambda r: r.window_id)
    # buffered 4,5 + new 6 complete window 1; 7 stays buffered
    assert [(r.window_id, r.window_size, r.sum_value) for r in p2] == [
        (0, 3, 6.0), (1, 3, 15.0)]


def test_stream_order_spans_arrow_chunks(spark, tmp_path):
    """``applyInPandasWithState`` hands a group's rows over in chunks
    of ``spark.sql.execution.arrow.maxRecordsPerBatch``: an operator
    that orders each chunk on its own, not the whole batch, diverges
    from its batch twin. One key arriving as 3, 4, 1, 2 in two-row
    chunks must still dedup, fire panes and track evictions in
    sequence order."""
    from incubator_pulsar_spark.operators.dedup import dedup_by_sequence
    from incubator_pulsar_spark.operators.windows import (
        pane_deltas, sliding_count_window)

    path = str(tmp_path / "t")
    ids = {1: 1, 2: 3, 3: 1, 4: 2}  # 3 and 4 regress below 2's id
    spark.createDataFrame(
        [Row(key="u", producer_name="p", sequence=s, sequence_id=ids[s],
             value=float(s)) for s in (3, 4, 1, 2)]
    ).coalesce(1).write.parquet(path)
    batch = spark.read.parquet(path)

    def run(out, tag):
        sink = str(tmp_path / f"out_{tag}")
        _run_to_parquet(out, sink, str(tmp_path / f"ck_{tag}"))
        return spark.read.parquet(sink).collect()

    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(conf)
    spark.conf.set(conf, "2")
    try:
        kept = run(sdedup.dedup_stream(_stream(spark, path)), "dedup")
        panes = run(swin.count_window_stream(_stream(spark, path),
                                             count=2), "count")
        sliding = run(swin.sliding_count_window_stream(
            _stream(spark, path), length=2, slide=1), "sliding")
        deltas = run(swin.pane_deltas_stream(
            _stream(spark, path), length=2, slide=1), "deltas")
    finally:
        spark.conf.set(conf, prev)

    assert sorted(r.sequence for r in kept) == sorted(
        r.sequence for r in dedup_by_sequence(batch).collect()) == [1, 2]
    assert sorted((r.window_id, r.min_seq, r.max_seq) for r in panes) == [
        (0, 1, 2), (1, 3, 4)]
    want = sliding_count_window(batch, length=2, slide=1,
                                aggs=[F.sum("value").alias("sum_value")])
    assert sorted((r.window_end_pos, r.window_size, r.sum_value)
                  for r in sliding) == sorted(
        (r.window_end_pos, r.window_size, r.sum_value)
        for r in want.collect())
    assert sorted((r.window_end_pos, r.sequence, r.delta)
                  for r in deltas) == sorted(
        (r.window_end_pos, r.sequence, r.delta)
        for r in pane_deltas(batch, length=2, slide=1).collect())


def test_tumbling_stream_watermark(spark, tmp_path, topic_dir):
    out = swin.tumbling_stream(
        _stream(spark, topic_dir), ts_col="event_time", length="2 minutes",
        watermark_delay="0 seconds",
        aggs=[F.count(F.lit(1)).alias("n")],
    )
    _run_to_memory(out, "tw", str(tmp_path / "c"), output_mode="append") \
        .awaitTermination(60)
    got = {(r.window_start.minute, r.n)
           for r in spark.sql("SELECT * FROM tw").collect()}
    # events at minutes 0,1,2,3,4 → windows [0,2)=2 [2,4)=2; [4,6) unclosed
    # (watermark = max event time, window end == wm is not < wm → held back)
    assert got == {(0, 2), (2, 2)}


def test_delayed_delivery_stream(spark, tmp_path):
    path = str(tmp_path / "t")
    now = dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)
    rows = [
        Row(key="k", sequence=1, deliver_at=now - dt.timedelta(seconds=5)),  # due
        Row(key="k", sequence=2, deliver_at=now + dt.timedelta(hours=2)),    # future
        Row(key="j", sequence=3, deliver_at=now - dt.timedelta(hours=1)),    # due
    ]
    spark.createDataFrame(rows).write.parquet(path)
    out = sdelay.delayed_delivery_stream(_stream(spark, path))
    _run_to_memory(out, "dd", str(tmp_path / "c")).awaitTermination(60)
    released = sorted(r.sequence for r in spark.sql("SELECT * FROM dd").collect())
    assert released == [1, 3]  # seq 2 withheld in state


def test_delayed_delivery_large_withheld_volume_rocksdb(spark, tmp_path):
    """The bucketed/persistent-tracker claim (MutableBucket spills the
    delayed index to a ledger, `pulsar-broker/.../delayed/bucket/
    MutableBucket.java`): 20k withheld rows across 500 keys ride the
    ROCKSDB state store provider — state genuinely leaves the JVM heap
    for local SST/snapshot files — survive a checkpoint restart, and
    release exactly once with nothing lost or duplicated.

    Design notes (semantics pinned by experiment): processing-time
    timers re-arm from the VIRTUAL clock delta, so deliver_at sits 5-15
    virtual seconds out = 5-15 real seconds of re-check cadence. Pass 1
    pins the clock at t0 (timers churn, nothing ever due — the withhold
    path is exercised repeatedly while state stays put); pass 2
    restarts from the checkpoint with the clock 10h ahead and POLLS the
    file-sink's committed view until every row releases — no reliance
    on Trigger.AvailableNow termination, which never terminates while
    keys re-arm timers (measured: unbounded timer-only batches).

    REPLAY PURITY (r10, after a live full-suite failure): the virtual
    clock is a pure function of the BATCH TIMESTAMP, switching to
    t0+10h only for batch timestamps newer than pass 1's real end time.
    pass 1's stop() can land between the file sink's commit of its
    last batch and the checkpoint's commit record — pass 2 then
    REPLAYS that batch, and Spark re-runs it with the ORIGINAL batch
    timestamp from the offset log. Under the old zero-arg clock the
    replayed batch evaluated with the pass-2 clock, released all 20k
    rows inside a batch the sink had already committed (and therefore
    SKIPPED), removed the state, and the stream idled at 0/20000
    forever. With the ts-pure clock the replayed batch re-emits its
    original (empty) output and the releases land in genuinely new
    batches — the delay.py module-header discipline.

    RESTART LIVENESS (r11, the residual 2-of-6 stall the clock fix did
    NOT close): when pass 1's stop() instead landed CLEANLY (offsets/
    == commits/), the restarted query had lastExecution == null and no
    new source data, so MicroBatchExecution NEVER CONSTRUCTED another
    batch — expired timers sat in the state store with nothing to fire
    them (batchId frozen, 'Waiting for next trigger', 0/20000 forever;
    deterministic repro for both shutdown shapes:
    tools/delay_stall_probe.py). Structural fix in delay.py: a
    1-row/sec rate-source keepalive unioned into the keyed stream
    (dropped inside the state fn via the NULL-sequence rule) —
    every trigger has data, so a batch is always constructed and the
    stall is impossible regardless of where the stop landed."""
    import glob
    import time

    path = str(tmp_path / "t")
    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    n, n_keys = 20_000, 500
    rows = spark.range(n).select(
        (F.col("id") % n_keys).cast("string").alias("key"),
        F.col("id").alias("sequence"),
        # due 5-15 VIRTUAL seconds after t0 → strictly future at pass-1
        (F.lit(t0) + F.make_dt_interval(
            F.lit(0), F.lit(0), F.lit(0),
            (F.lit(5) + F.col("id") % 10).cast("double")))
        .alias("deliver_at"))
    rows.write.parquet(path)

    ck = str(tmp_path / "c")
    rel_dir = str(tmp_path / "rel")
    old = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider")

    def released():
        if not glob.glob(f"{rel_dir}/*.parquet"):
            return 0
        # the file-sink metadata log filters to COMMITTED files only,
        # so this is the exactly-once view a downstream reader gets
        return spark.read.parquet(rel_dir).count()

    try:
        def start(now_fn):
            out = sdelay.delayed_delivery_stream(
                _stream(spark, path), now_fn=now_fn)
            return (out.writeStream.format("parquet")
                    .option("path", rel_dir)
                    .option("checkpointLocation", ck)
                    .trigger(processingTime="1 second").start())

        # pass 1: clock pinned at t0 → every key withholds its 40 rows
        # and re-arms; each micro-batch commits a RocksDB version (real
        # spill traffic). Stop at a committed checkpoint.
        q = start(lambda ts: t0)
        deadline = time.time() + 60
        while time.time() < deadline:
            p = q.lastProgress
            if p and p["batchId"] >= 2:  # data batch + ≥1 timer batch
                break
            time.sleep(1)
        q.stop()
        q.awaitTermination(120)
        assert released() == 0
        # RocksDB actually engaged: SST/changelog/snapshot files under
        # the checkpoint's state dir (the spill artifact itself)
        sst = glob.glob(f"{ck}/state/**/*.zip", recursive=True) + \
            glob.glob(f"{ck}/state/**/*.sst", recursive=True) + \
            glob.glob(f"{ck}/state/**/*.changelog", recursive=True)
        assert sst, "RocksDB state files not found under checkpoint"

        # pass 2: restart from the checkpoint, clock far in the future.
        # Restored timers fire (5-15s re-arm cadence), every pending
        # row releases. Liveness-based wait (r7 verdict #1): a fixed
        # wall deadline conflates "slow under a loaded machine" with
        # "stalled" — this test failed 0/20000-in-300s in a full-suite
        # run yet passes in 32s alone. Fail only when nothing advances.
        # Calibration (r8, measured): lastProgress/batchId only move
        # when a batch COMPLETES, and the single 20k-row release batch
        # ran past 2 minutes at the END of a full-suite session (one
        # shared SparkSession, ~7k accumulated stages, GC pressure) —
        # so the "both frozen" budget must exceed the worst honest
        # single-batch time. Budgets: batchId AND committed releases
        # both frozen ~5 min → stall; batches completing but zero new
        # releases ~15 min → stall (timers firing into a void). Any
        # release progress resets both. Released count must also be
        # MONOTONIC — the exactly-once committed view can only grow.
        # ts-pure virtual clock: a batch REPLAYED from pass 1 keeps its
        # original (pre-cut) timestamp and re-evaluates at t0 — same
        # empty output the sink already committed; only genuinely new
        # batches see the advanced clock (docstring: REPLAY PURITY)
        cut_ms = int(time.time() * 1000)
        far = t0 + dt.timedelta(hours=10)
        q2 = start(lambda ts: t0 if ts <= cut_ms else far)
        hard_stall = release_stall = 0
        last_batch, last_rel = -1, 0
        while True:
            if q2.exception() is not None:  # died — say WHY, not "0 rows"
                raise AssertionError(f"pass-2 query died: {q2.exception()}")
            rel = released()
            assert rel >= last_rel, (
                f"committed release count went BACKWARDS: {last_rel}->{rel}")
            if rel >= n:
                break
            p = q2.lastProgress
            batch = p["batchId"] if p else -1
            if rel > last_rel:
                hard_stall = release_stall = 0
            elif batch > last_batch:
                hard_stall = 0
                release_stall += 1
            else:
                hard_stall += 1
                release_stall += 1
            if hard_stall >= 150:
                raise AssertionError(
                    f"pass-2 STALLED: batchId frozen at {batch} and "
                    f"released frozen at {rel}/{n} for ~5 min; "
                    f"status={q2.status}")
            if release_stall >= 450:
                raise AssertionError(
                    f"pass-2 STALLED: batches completing (batchId={batch}) "
                    f"but released frozen at {rel}/{n} for ~15 min; "
                    f"status={q2.status}")
            last_batch, last_rel = batch, rel
            time.sleep(2)
        q2.stop()
        q2.awaitTermination(120)
        got = spark.read.parquet(rel_dir)
        assert got.count() == n
        assert got.select("sequence").distinct().count() == n
    finally:
        if old is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", old)


def test_nack_redelivery_stream(spark, tmp_path):
    """NegativeAcksTracker semantics: nacked rows come back after their
    exponential backoff, counter bumped, per-key arrival order kept;
    acked rows pass straight through."""
    from incubator_pulsar_spark.streaming import nack as snack

    path = str(tmp_path / "t")
    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        Row(key="k", sequence=1, redelivery_count=0, status="ok"),
        Row(key="k", sequence=2, redelivery_count=0, status="nack"),  # backoff 1s
        Row(key="k", sequence=3, redelivery_count=1, status="nack"),  # backoff 2s
        Row(key="j", sequence=4, redelivery_count=0, status="nack"),
    ]
    spark.createDataFrame(rows).write.parquet(path)
    delivered, redelivered = snack.nack_redelivery_stream(
        _stream(spark, path), F.col("status") == "nack",
        now=F.lit(t0),                       # nack time, deterministic
        now_fn=lambda: t0 + dt.timedelta(seconds=10),  # release clock: all due
    )
    _run_to_memory(redelivered, "nack_out", str(tmp_path / "c1")) \
        .awaitTermination(60)
    got = spark.sql("SELECT * FROM nack_out").collect()
    # all three nacked rows redelivered once backoff elapsed
    assert sorted(r.sequence for r in got) == [2, 3, 4]
    # per-key release order = deliver_at order (the tracker's priority
    # queue: earliest backoff expiry redelivered first)
    k_rows = [r.sequence for r in got if r.key == "k"]
    assert k_rows == [2, 3]
    # deliver_at reflects the per-row exponential backoff (1s, 2s)
    ats = {r.sequence: r.deliver_at for r in got}
    assert ats[2] == t0 + dt.timedelta(seconds=1)
    assert ats[3] == t0 + dt.timedelta(seconds=2)
    # delivered branch: only the acked row
    assert [r.sequence for r in delivered.sparkSession.createDataFrame(
        rows).filter(F.col("status") != "nack").collect()] == [1]


def test_nack_backoff_withholds_until_due(spark, tmp_path):
    """A nacked row whose backoff has NOT elapsed stays in state."""
    from incubator_pulsar_spark.streaming import nack as snack

    path = str(tmp_path / "t")
    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        Row(key="k", sequence=1, redelivery_count=0, status="nack"),   # 1s backoff
        Row(key="k", sequence=2, redelivery_count=9, status="nack"),   # 512s backoff
    ]
    spark.createDataFrame(rows).write.parquet(path)
    _, redelivered = snack.nack_redelivery_stream(
        _stream(spark, path), F.col("status") == "nack",
        now=F.lit(t0), now_fn=lambda: t0 + dt.timedelta(seconds=5),
    )
    _run_to_memory(redelivered, "nack_held", str(tmp_path / "c")) \
        .awaitTermination(60)
    got = [r.sequence for r in spark.sql("SELECT * FROM nack_held").collect()]
    assert got == [1]  # seq 2 withheld (due at t0+512s)


def test_retry_router_stream(spark, tmp_path, topic_dir):
    enveloped = (
        spark.read.parquet(topic_dir)
        .withColumn("topic", F.lit("persistent://public/default/t"))
        .withColumn("redelivery_count",
                    F.when(F.col("sequence") == 4, 20).otherwise(0))
        .withColumn("properties", F.lit(None).cast("map<string,string>"))
    )
    env_path = str(tmp_path / "env")
    enveloped.write.parquet(env_path)

    q = sretry.start_retry_router(
        _stream(spark, env_path), F.col("value").isNull(),
        base_path=str(tmp_path / "routed"), checkpoint=str(tmp_path / "c"),
        trigger_available_now=True,
    )
    q.awaitTermination(120)
    ok = spark.read.parquet(str(tmp_path / "routed/ok"))
    dlq = spark.read.parquet(str(tmp_path / "routed/dlq"))
    assert ok.count() == 4
    # seq 4 (null value, redelivery 20 ≥ 16) → DLQ with -DLQ topic name
    d = dlq.collect()
    assert [r.sequence for r in d] == [4]
    assert d[0].topic.endswith("-sub-DLQ")


def test_geo_replicate(spark, tmp_path, topic_dir):
    queries = sretry.geo_replicate(
        _stream(spark, topic_dir),
        cluster_paths={"west": str(tmp_path / "west"), "east": str(tmp_path / "east")},
        checkpoint_root=str(tmp_path / "ck"),
        trigger_available_now=True,
    )
    for q in queries.values():
        q.awaitTermination(120)
    n = spark.read.parquet(topic_dir).count()
    assert spark.read.parquet(str(tmp_path / "west")).count() == n
    assert spark.read.parquet(str(tmp_path / "east")).count() == n


def test_function_pipeline_end_to_end(spark, tmp_path):
    """FunctionConfig deployment: two input topics → transform → output,
    failures → DLQ, idempotent per-batch sinks."""
    from incubator_pulsar_spark.envelope import build_envelope
    from incubator_pulsar_spark.streaming.pipeline import (
        FunctionConfig, read_output_topic, run_function)

    t1, t2 = str(tmp_path / "in1"), str(tmp_path / "in2")
    src = spark.createDataFrame(
        [Row(k=str(i), v=f"m{i}", i=i) for i in range(10)])
    env = build_envelope(src, topic="persistent://public/default/in", key="k",
                         value=F.col("v"), sequence="i")
    env.filter(F.col("sequence") < 5).write.parquet(t1)
    env.filter(F.col("sequence") >= 5).write.parquet(t2)

    cfg = FunctionConfig(
        inputs=[t1, t2],
        output=str(tmp_path / "out"),
        transform=lambda df: df.withColumn(
            "value", F.upper(F.col("value").cast("string")).cast("binary")),
        dead_letter_topic=str(tmp_path / "dlq"),
        failed=F.col("sequence") % 4 == 0,  # 0,4,8 fail
        checkpoint=str(tmp_path / "ck"),
    )
    q = run_function(spark, cfg, trigger_available_now=True)
    q.awaitTermination(120)

    out = read_output_topic(spark, str(tmp_path / "out"))
    dlq = read_output_topic(spark, str(tmp_path / "dlq"))
    assert out.count() == 7 and dlq.count() == 3
    vals = {bytes(r.value).decode() for r in out.collect()}
    assert "M1" in vals and "M0" not in vals  # transformed; failures routed


def test_function_pipeline_retain_ordering(spark, tmp_path):
    """retainOrdering: batch rows arrive key-clustered in publish order
    (Key_Shared contract inside the function)."""
    from incubator_pulsar_spark.envelope import build_envelope
    from incubator_pulsar_spark.streaming.pipeline import (
        FunctionConfig, run_function)

    t = str(tmp_path / "in")
    src = spark.createDataFrame(
        [Row(k=str(i % 3), v=f"m{i}", i=i) for i in range(30)])
    build_envelope(src, topic="t", key="k", value=F.col("v"),
                   sequence="i").write.parquet(t)

    seen: dict[str, list[int]] = {}

    def check_order(df):
        # executor-side per-partition scan happens inside the plan; here
        # we verify the driver-visible contract after the shuffle+sort
        import pandas as pd

        def verify(pdfs):
            for pdf in pdfs:
                for key, grp in pdf.groupby("key"):
                    assert list(grp["sequence"]) == sorted(grp["sequence"]), key
                yield pdf[["key", "sequence"]]
        from pyspark.sql import types as T
        schema = T.StructType([T.StructField("key", T.StringType()),
                               T.StructField("sequence", T.LongType())])
        return df.mapInPandas(verify, schema)

    cfg = FunctionConfig(
        inputs=[t], output=str(tmp_path / "out"), transform=check_order,
        retain_ordering=True, checkpoint=str(tmp_path / "ck"),
    )
    q = run_function(spark, cfg, trigger_available_now=True)
    q.awaitTermination(120)
    from incubator_pulsar_spark.streaming.pipeline import read_output_topic
    assert read_output_topic(spark, str(tmp_path / "out")).count() == 30


def test_sliding_and_session_streams(spark, tmp_path, topic_dir):
    out = swin.sliding_stream(
        _stream(spark, topic_dir), ts_col="event_time", length="2 minutes",
        slide="1 minute", watermark_delay="0 seconds",
        aggs=[F.count(F.lit(1)).alias("n")],
    )
    _run_to_memory(out, "sw", str(tmp_path / "c1")).awaitTermination(60)
    got = {(r.window_start.minute, r.n) for r in spark.sql("SELECT * FROM sw").collect()}
    # events at minutes 0..4; closed panes below watermark(=minute 4):
    # [-1,1)=1 [0,2)=2 [1,3)=2 [2,4)=2 ([3,5) and [4,6) still open)
    assert (0, 2) in got and (2, 2) in got and len(got) >= 3

    out2 = swin.session_stream(
        _stream(spark, topic_dir), ts_col="event_time", gap="90 seconds",
        watermark_delay="0 seconds", group_by=["key"],
        aggs=[F.count(F.lit(1)).alias("n")],
    )
    _run_to_memory(out2, "ssw", str(tmp_path / "c2")).awaitTermination(60)
    rows = spark.sql("SELECT * FROM ssw").collect()
    # events are 2 min apart > 90s gap → every event its own session.
    # Sessions CLOSED below the final watermark (minute 4): A@0 (ends
    # 1:30), B@1 (2:30), A@2 (3:30); B@3 and C@4 still open → withheld.
    got2 = sorted((r.key, r.n) for r in rows)
    assert got2 == [("A", 1), ("A", 1), ("B", 1)]


def test_sliding_count_window_stream_matches_batch(spark, tmp_path):
    """Streaming sliding count window == batch operator over the same log,
    including panes whose rows span micro-batches."""
    from incubator_pulsar_spark.operators.windows import sliding_count_window

    path = str(tmp_path / "t")
    rows1 = [Row(key="u", value=float(i), sequence=i,
                 publish_time=TS0 + dt.timedelta(seconds=i)) for i in range(1, 8)]
    spark.createDataFrame(rows1).write.parquet(path)

    out_path = str(tmp_path / "out")
    out = swin.sliding_count_window_stream(
        _stream(spark, path), key_col="key", order_col="sequence",
        value_col="value", length=4, slide=2)
    _run_to_parquet(out, out_path, str(tmp_path / "c"))

    # second batch completes the next trigger (position 8)
    rows2 = [Row(key="u", value=8.0, sequence=8, publish_time=TS0)]
    spark.createDataFrame(rows2).write.mode("append").parquet(path)
    out2 = swin.sliding_count_window_stream(
        _stream(spark, path), key_col="key", order_col="sequence",
        value_col="value", length=4, slide=2)
    _run_to_parquet(out2, out_path, str(tmp_path / "c"))

    got = {(r.window_end_pos, r.window_size, r.sum_value)
           for r in spark.read.parquet(out_path).collect()}
    batch = sliding_count_window(
        spark.read.parquet(path), key_col="key", order_col="sequence",
        length=4, slide=2, aggs=[F.sum("value").alias("sum_value")])
    want = {(r.window_end_pos, r.window_size, r.sum_value)
            for r in batch.collect()}
    assert got == want
    assert (8, 4, 5.0 + 6 + 7 + 8) in got  # cross-batch pane


def test_redelivery_loop_to_dlq(spark, tmp_path):
    """Full reconsumeLater loop: failures hop through the -RETRY topic
    with bumped redelivery_count until max_redeliver_count sends them to
    the -DLQ (RetryMessageUtil semantics end-to-end)."""
    enveloped = (
        spark.createDataFrame([Row(sequence=i) for i in range(4)])
        .withColumn("topic", F.lit("t"))
        .withColumn("value", F.lit(b"payload"))
        .withColumn("redelivery_count", F.lit(0))
        .withColumn("publish_time", F.lit(TS0).cast("timestamp"))
        .withColumn("properties", F.lit(None).cast("map<string,string>"))
    )
    src = str(tmp_path / "in0")
    enveloped.write.parquet(src)

    always_fail = F.lit(True)
    hop_counts = []
    for hop in range(3):
        base = str(tmp_path / f"routed{hop}")
        q = sretry.start_retry_router(
            _stream(spark, src), always_fail, base_path=base,
            checkpoint=str(tmp_path / f"ck{hop}"),
            max_redeliver_count=2, trigger_available_now=True)
        q.awaitTermination(120)
        retry_dir = str(tmp_path / f"routed{hop}/retry")
        import os as _os
        retry_rows = (spark.read.parquet(retry_dir).collect()
                      if _os.path.exists(retry_dir) else [])
        hop_counts.append(sorted(r.redelivery_count for r in retry_rows))
        if not retry_rows:
            break
        src = retry_dir  # feed the retry topic back through the consumer

    # hop 0: rc 0→1; hop 1: rc 1→2; hop 2: rc 2 ≥ max → all to DLQ
    assert hop_counts[0] == [1, 1, 1, 1]
    assert hop_counts[1] == [2, 2, 2, 2]
    dlq = spark.read.parquet(str(tmp_path / "routed2/dlq"))
    assert dlq.count() == 4
    assert all(r.topic.endswith("-sub-DLQ") for r in dlq.collect())
    # provenance survives the hops
    assert all(r.properties.get("REAL_TOPIC") for r in dlq.collect())


def test_table_view_listener(spark, tmp_path, topic_dir):
    """TableView.listen: per-changed-key callbacks, tombstone delivered
    as value=None (removal notification)."""
    heard = []
    q = stv.start_table_view_listener(
        _stream(spark, topic_dir), lambda k, v: heard.append((k, v)),
        checkpoint=str(tmp_path / "c"), trigger_available_now=True)
    q.awaitTermination(120)
    latest = dict(heard)  # last callback per key wins within the run
    # key A latest=a2 (seq3), key B tombstoned (seq4 null), key C c1
    assert latest["A"] == "a2"
    assert latest["B"] is None
    assert latest["C"] == "c1"


def test_table_view_listener_partitions_mode(spark, tmp_path, topic_dir):
    """mode='partitions': callbacks run on the EXECUTORS via
    foreachPartition — no driver materialization. The listener side-
    effects through shared storage (a spool dir); the union of spooled
    callbacks equals driver-mode delivery, and the worker PIDs prove
    the callbacks did not run in the driver process."""
    import glob
    import json
    import os
    import uuid

    spool = str(tmp_path / "spool")
    os.makedirs(spool)

    def listener(k, v):
        p = os.path.join(spool, f"{os.getpid()}-{uuid.uuid4().hex}.json")
        with open(p, "w") as f:
            json.dump({"pid": os.getpid(), "k": k, "v": v}, f)

    q = stv.start_table_view_listener(
        _stream(spark, topic_dir), listener,
        checkpoint=str(tmp_path / "c"), trigger_available_now=True,
        mode="partitions")
    q.awaitTermination(120)

    heard = [json.load(open(p)) for p in glob.glob(f"{spool}/*.json")]
    pairs = {(h["k"], h["v"]) for h in heard}
    # the final winners were all delivered (earlier-batch intermediates
    # may additionally appear if the run split into multiple triggers)
    assert {("A", "a2"), ("B", None), ("C", "c1")} <= pairs
    assert {h["k"] for h in heard} == {"A", "B", "C"}
    assert all(h["pid"] != os.getpid() for h in heard)  # executor-side

    import pytest as _pytest
    with _pytest.raises(ValueError):
        stv.start_table_view_listener(
            _stream(spark, topic_dir), listener,
            checkpoint=str(tmp_path / "c2"), mode="bogus")


def test_nack_then_retry_escalation(spark, tmp_path):
    """Full failure-handling composition (ConsumerImpl lifecycle):
    nacked rows redeliver after backoff; rows that keep failing escalate
    through reconsumeLater routing — under the cap to '<orig>-<sub>-RETRY',
    over it to '<orig>-<sub>-DLQ' — with provenance preserved."""
    from incubator_pulsar_spark.operators import retry as oretry
    from incubator_pulsar_spark.streaming import nack as snack

    path = str(tmp_path / "t")
    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        Row(key="k", sequence=1, redelivery_count=0, status="ok"),
        Row(key="k", sequence=2, redelivery_count=0, status="bad"),   # transient
        Row(key="k", sequence=3, redelivery_count=15, status="bad"),  # one hop left
    ]
    spark.createDataFrame(rows).write.parquet(path)
    _, redelivered = snack.nack_redelivery_stream(
        _stream(spark, path), F.col("status") == "bad",
        now=F.lit(t0), now_fn=lambda: t0 + dt.timedelta(hours=1))
    _run_to_memory(redelivered, "esc", str(tmp_path / "c")).awaitTermination(60)
    redeliv = spark.sql("SELECT * FROM esc")
    assert sorted(r.sequence for r in redeliv.collect()) == [2, 3]

    # the redelivered rows fail AGAIN → reconsumeLater routing; rebuild the
    # envelope columns the router needs (the delay op returns the slim form;
    # redelivery_count reflects the nack loop's bump: seq2→1, seq3→16)
    enveloped = redeliv.withColumn("topic", F.lit("t")) \
        .withColumn("redelivery_count",
                    F.when(F.col("sequence") == 2, 1).otherwise(16)) \
        .withColumn("properties", F.lit(None).cast("map<string,string>")) \
        .withColumn("status", F.lit("bad"))
    routed = oretry.route_failures(
        enveloped, F.col("status") == "bad", subscription="s",
        max_redeliver_count=16, now=F.lit(t0))
    r = routed.retry.collect()
    d = routed.dlq.collect()
    assert [x.sequence for x in r] == [2] and r[0].topic == "t-s-RETRY"
    assert [x.sequence for x in d] == [3] and d[0].topic == "t-s-DLQ"
    assert d[0].properties["REAL_TOPIC"] == "t"
    assert d[0].properties["ORIGIN_MESSAGE_ID"] == "3"


def test_failover_consumer_takeover(spark, tmp_path, topic_dir):
    """Failover subscription (SubscriptionType.java:53): the standby
    consumer resumes from the failed consumer's cursor, not from the
    beginning — in Spark, a new query on the SAME checkpoint continues
    exactly where the old one stopped (no reprocessing, no gaps)."""
    out_path = str(tmp_path / "out")
    ck = str(tmp_path / "ck")

    q1 = _run_to_parquet(_stream(spark, topic_dir).select("key", "sequence"),
                         out_path, ck)     # consumer A processes 1..5, "dies"
    first = sorted(r.sequence for r in spark.read.parquet(out_path).collect())
    assert first == [1, 2, 3, 4, 5]

    more = [Row(key="Z", value="z", sequence=6, producer_name="p9",
                sequence_id=1, publish_time=TS0, event_time=TS0)]
    spark.createDataFrame(more).write.mode("append").parquet(topic_dir)

    # consumer B: NEW query object, same subscription cursor (checkpoint)
    q2 = _run_to_parquet(_stream(spark, topic_dir).select("key", "sequence"),
                         out_path, ck)
    got = sorted(r.sequence for r in spark.read.parquet(out_path).collect())
    assert got == [1, 2, 3, 4, 5, 6]  # 6 appended once — no replay of 1..5


def test_pane_deltas_stream_matches_batch_and_resumes(spark, tmp_path):
    """Streaming pane lifecycle == batch pane_deltas on the same data,
    including across a checkpoint restart mid-stream (the pane deque
    survives in state)."""
    from incubator_pulsar_spark.operators.windows import pane_deltas

    path = str(tmp_path / "t")
    out_path = str(tmp_path / "out")
    ck = str(tmp_path / "ck")
    rows1 = [Row(key="k", sequence=i) for i in range(1, 6)]   # 1..5
    spark.createDataFrame(rows1).write.parquet(path)
    out = swin.pane_deltas_stream(_stream(spark, path), length=4, slide=2)
    _run_to_parquet(out, out_path, ck)

    rows2 = [Row(key="k", sequence=i) for i in range(6, 8)]   # 6..7
    spark.createDataFrame(rows2).write.mode("append").parquet(path)
    out2 = swin.pane_deltas_stream(_stream(spark, path), length=4, slide=2)
    _run_to_parquet(out2, out_path, ck)

    got = {(r.window_end_pos, r.sequence, r.delta)
           for r in spark.read.parquet(out_path).collect()}
    batch = spark.createDataFrame(rows1 + rows2)
    want = {(r.window_end_pos, r.sequence, r.delta)
            for r in pane_deltas(batch, length=4, slide=2).collect()}
    assert got == want
    # spot anchors: trigger 6 carries 3,4 / news 5,6 / expires 1,2
    assert (6, 5, "new") in got and (6, 3, "carried") in got \
        and (6, 1, "expired") in got


def test_asof_enrich_stream(spark, tmp_path):
    """Streaming as-of enrichment: events joined to the latest state row
    at or before each event's ts; batch replay overwrites by batch_id;
    a second run after MORE state is published sees the new state only
    for new events (TableView-style visibility)."""
    from incubator_pulsar_spark.streaming import asof as sasof

    left_dir = str(tmp_path / "left")
    right_dir = str(tmp_path / "right")
    out_dir = str(tmp_path / "out")

    spark.createDataFrame(
        [Row(k="a", ts=10, price=1.0), Row(k="a", ts=20, price=2.0),
         Row(k="b", ts=15, price=9.0)],
        "k STRING, ts LONG, price DOUBLE").write.parquet(right_dir)
    spark.createDataFrame(
        [Row(eid=1, k="a", ts=12), Row(eid=2, k="a", ts=25),
         Row(eid=3, k="b", ts=5)],
        "eid LONG, k STRING, ts LONG").write.parquet(left_dir)

    schema = spark.read.parquet(left_dir).schema
    q = sasof.start_asof_enrich(
        spark.readStream.schema(schema).parquet(left_dir),
        right_topic_path=right_dir, out_path=out_dir,
        checkpoint_path=str(tmp_path / "ckpt"),
        on="k", left_ts="ts", right_ts="ts", available_now=True)
    q.awaitTermination(120)

    got = {r.eid: (r.ts_right, r.price)
           for r in spark.read.parquet(out_dir).collect()}
    assert got == {1: (10, 1.0), 2: (20, 2.0), 3: (None, None)}

    # new state + new events: the continuation batch sees the grown topic
    spark.createDataFrame([Row(k="b", ts=8, price=7.0)],
                          "k STRING, ts LONG, price DOUBLE") \
        .write.mode("append").parquet(right_dir)
    spark.createDataFrame([Row(eid=4, k="b", ts=9)],
                          "eid LONG, k STRING, ts LONG") \
        .write.mode("append").parquet(left_dir)
    q = sasof.start_asof_enrich(
        spark.readStream.schema(schema).parquet(left_dir),
        right_topic_path=right_dir, out_path=out_dir,
        checkpoint_path=str(tmp_path / "ckpt"),
        on="k", left_ts="ts", right_ts="ts", available_now=True)
    q.awaitTermination(120)
    got = {r.eid: (r.ts_right, r.price)
           for r in spark.read.parquet(out_dir).collect()}
    assert got[4] == (8, 7.0) and len(got) == 4


def test_asof_enrich_requires_right_topic(spark, tmp_path):
    from incubator_pulsar_spark.streaming.asof import enrich_batch

    batch = spark.createDataFrame([Row(eid=1, k="a", ts=1)],
                                  "eid LONG, k STRING, ts LONG")
    with pytest.raises(ValueError, match="must exist"):
        enrich_batch(batch, 0, right_topic_path=str(tmp_path / "missing"),
                     out_path=str(tmp_path / "out"),
                     on="k", left_ts="ts", right_ts="ts")


def test_hash_sample_on_stream_matches_batch(spark, tmp_path, sf_dir):
    """The md5-uniform sampler is stateless, so it runs unchanged on a
    stream and keeps EXACTLY the rows the batch path keeps — the
    reproducibility property that makes re-running an ingest pipeline
    (or replaying a failed micro-batch) emit identical samples."""
    from incubator_pulsar_spark.functions import sampling

    src = str(tmp_path / "docs_topic")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    docs.write.parquet(src)

    stream = spark.readStream.schema(docs.schema).parquet(src)
    sampled = sampling.stratified_sample(
        stream, {"src0": 1.0, "src1": 0.0}, strata_col="source",
        id_col="doc_id", default_rate=0.3).select("doc_id")
    _run_to_memory(sampled, "sampled_stream", str(tmp_path / "c")) \
        .awaitTermination(60)
    got = sorted(r.doc_id for r in spark.sql("SELECT * FROM sampled_stream").collect())

    want = sorted(r.doc_id for r in sampling.stratified_sample(
        docs, {"src0": 1.0, "src1": 0.0}, strata_col="source",
        id_col="doc_id", default_rate=0.3).select("doc_id").collect())
    assert got == want and got


def test_kmv_stream_converges_to_batch_sketch(spark, tmp_path, sf_dir):
    """Incremental min-merge across micro-batches equals the batch
    sketch of the union — run two availableNow passes over a growing
    topic with one checkpoint; the final streaming estimate must EQUAL
    functions.sketches.kmv_distinct on the full data."""
    from pyspark.sql import functions as F

    from incubator_pulsar_spark.functions.sketches import kmv_distinct
    from incubator_pulsar_spark.streaming.sketches import kmv_distinct_stream

    src = str(tmp_path / "events_topic")
    ev = spark.read.parquet(f"{sf_dir}/events.parquet") \
        .select("event_type", "user_id")
    first = ev.filter(F.col("user_id") % 2 == 0)
    second = ev.filter(F.col("user_id") % 2 == 1)
    first.write.parquet(src)

    sink = str(tmp_path / "kmv_out")

    def run_pass(batch_tag):
        stream = spark.readStream.schema(first.schema).parquet(src)
        out = kmv_distinct_stream(stream, ["event_type"], "user_id", k=64)

        def write(df, batch_id):
            df.withColumn("pass_tag", F.lit(batch_tag)) \
                .write.mode("append").parquet(sink)

        (out.writeStream.foreachBatch(write)
         .outputMode("update")
         .option("checkpointLocation", str(tmp_path / "c"))
         .trigger(availableNow=True).start().awaitTermination(120))

    run_pass(0)
    second.write.mode("append").parquet(src)
    run_pass(1)

    # latest update per group (second pass wins)
    got = {}
    for r in spark.read.parquet(sink).orderBy("pass_tag").collect():
        got[r.event_type] = (r.n_kept, r.kmv_estimate)

    want = {r.event_type: (r.n_kept, r.kmv_estimate)
            for r in kmv_distinct(ev, ["event_type"], "user_id", k=64).collect()}
    for g in want:
        assert got[g] == want[g], (g, got[g], want[g])


def test_gapfill_stream_matches_batch_across_passes(spark, tmp_path):
    """Two availableNow passes over a growing topic emit, in total,
    exactly the batch gapfill_locf grid of the union (single key, so
    the batch global bounds equal the key's observed range). Values are
    binary-exact halves so float mean order cannot blur the compare."""
    from incubator_pulsar_spark.operators.gapfill import gapfill_locf
    from incubator_pulsar_spark.streaming.gapfill import gapfill_stream

    rows1 = [Row(k="a", ts="2024-01-01 00:01:00", v=10.0),
             Row(k="a", ts="2024-01-01 00:05:00", v=20.0),
             # 00:15 and 00:30 slots empty
             Row(k="a", ts="2024-01-01 00:47:00", v=40.0)]
    rows2 = [Row(k="a", ts="2024-01-01 01:02:00", v=8.0),
             # 01:15 empty
             Row(k="a", ts="2024-01-01 01:31:00", v=6.0)]

    def mk(rows):
        return spark.createDataFrame(rows, "k STRING, ts STRING, v DOUBLE") \
            .select("k", F.to_timestamp("ts").alias("ts"), "v")

    src = str(tmp_path / "topic")
    sink = str(tmp_path / "out")
    mk(rows1).write.parquet(src)

    def run():
        stream = spark.readStream.schema(mk(rows1).schema).parquet(src)
        out = gapfill_stream(stream, key_cols=["k"], ts_col="ts",
                             value_col="v", slot_seconds=900)
        (out.writeStream.format("parquet").option("path", sink)
         .option("checkpointLocation", str(tmp_path / "ck"))
         .outputMode("append").trigger(availableNow=True)
         .start().awaitTermination(120))

    run()
    mk(rows2).write.mode("append").parquet(src)
    run()

    got = {r["slot"]: (r["n_events"], r["value_locf"], r["filled"])
           for r in spark.read.parquet(sink).collect()}
    want = {r["slot"]: (r["n_events"], r["value_locf"], r["filled"])
            for r in gapfill_locf(mk(rows1 + rows2), key_cols=["k"],
                                  ts_col="ts", value_col="v",
                                  slot_seconds=900).collect()}
    assert got == want and len(got) >= 7
    # third pass over the unchanged checkpoint emits nothing new
    n_before = spark.read.parquet(sink).count()
    run()
    assert spark.read.parquet(sink).count() == n_before
    # rows in already-final slots emit nothing and never move the
    # finality mark back (else the 00:50 pass re-emits 00:30-00:45)
    for ts in ("2024-01-01 00:20:00", "2024-01-01 00:50:00"):
        mk([Row(k="a", ts=ts, v=1.0)]).write.mode("append").parquet(src)
        run()
    assert spark.read.parquet(sink).count() == n_before


def test_mg_stream_guarantee_and_exactness(spark, tmp_path, sf_dir):
    """Streaming Misra-Gries across two availableNow passes: (a) with a
    small k, every key whose TOTAL count exceeds total/(k+1) appears in
    the final candidate emission (the MG guarantee survives
    micro-batching); (b) with k ≥ distinct keys, emitted counts are
    EXACT (no decrement ever fires) and equal the batch groupBy."""
    from incubator_pulsar_spark.streaming.sketches import misra_gries_stream

    src = str(tmp_path / "ev_topic")
    ev = spark.read.parquet(f"{sf_dir}/events.parquet") \
        .select("event_type", "event_id")
    first = ev.filter(F.col("event_id") % 2 == 0)
    second = ev.filter(F.col("event_id") % 2 == 1)
    first.write.parquet(src)

    def run(tag, k, sink, ckpt):
        stream = spark.readStream.schema(first.schema).parquet(src)
        out = misra_gries_stream(stream, "event_type", k=k, n_shards=2)

        def write(df, batch_id):
            df.withColumn("pass_tag", F.lit(tag)) \
                .write.mode("append").parquet(sink)

        (out.writeStream.foreachBatch(write)
         .outputMode("update")
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start().awaitTermination(120))

    # (a) k=1: only the per-shard plurality key is guaranteed
    sink_a = str(tmp_path / "mg_a")
    run(0, 1, sink_a, str(tmp_path / "ca"))
    second.write.mode("append").parquet(src)
    run(1, 1, sink_a, str(tmp_path / "ca"))
    latest = {}
    for r in spark.read.parquet(sink_a).orderBy("pass_tag").collect():
        latest[(r.shard, r.event_type)] = r.mg_count
    exact = {r.event_type: r.c for r in
             ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("c")).collect()}
    total = sum(exact.values())
    surviving = {t for (_, t) in latest}
    for t, c in exact.items():
        if c > total / 2:  # k=1 ⇒ guarantee threshold total/(k+1)
            assert t in surviving
    # (b) k=64 ≥ 5 distinct event types ⇒ exact counts
    sink_b = str(tmp_path / "mg_b")
    run(0, 64, sink_b, str(tmp_path / "cb"))
    got = {r.event_type: r.mg_count
           for r in spark.read.parquet(sink_b).collect()}
    assert got == exact


def test_sample_quantile_stream_converges_to_batch_sketch(spark, tmp_path, sf_dir):
    """Streaming bottom-k quantile sample across two availableNow passes
    over a growing topic equals functions.sketches.sample_quantiles on
    the union — the min-merge replay-safety argument, proven end-to-end
    through a checkpoint restart."""
    from pyspark.sql import functions as F

    from incubator_pulsar_spark.functions.sketches import sample_quantiles
    from incubator_pulsar_spark.streaming.sketches import (
        sample_quantiles_stream)

    src = str(tmp_path / "events_topic")
    ev = spark.read.parquet(f"{sf_dir}/events.parquet") \
        .select("event_type", "event_id", "value")
    first = ev.filter(F.col("event_id") % 2 == 0)
    second = ev.filter(F.col("event_id") % 2 == 1)
    first.write.parquet(src)

    sink = str(tmp_path / "qsk_out")

    def run_pass(tag):
        stream = spark.readStream.schema(first.schema).parquet(src)
        out = sample_quantiles_stream(stream, ["event_type"], "value",
                                      "event_id", k=64)

        def write(df, batch_id):
            df.withColumn("pass_tag", F.lit(tag)) \
                .write.mode("append").parquet(sink)

        (out.writeStream.foreachBatch(write)
         .outputMode("update")
         .option("checkpointLocation", str(tmp_path / "c"))
         .trigger(availableNow=True).start().awaitTermination(120))

    run_pass(0)
    second.write.mode("append").parquet(src)
    run_pass(1)

    got = {}
    for r in spark.read.parquet(sink).orderBy("pass_tag").collect():
        got[r.event_type] = (r.sample_n, r.est_q50, r.est_q90, r.est_q99)
    want = {r.event_type: (r.sample_n, r.est_q50, r.est_q90, r.est_q99)
            for r in sample_quantiles(ev, ["event_type"], "value",
                                      "event_id", k=64).collect()}
    assert set(want) <= set(got)
    for g in want:
        assert got[g] == want[g], (g, got[g], want[g])


def test_stream_stream_attribution_matches_batch_join(spark, tmp_path, sf_dir):
    """Watermarked stream-stream interval join over two availableNow
    passes equals the batch join on the union — views are 'view'
    events, clicks are 'click' events by the same user within 1 hour."""
    from pyspark.sql import functions as F

    from incubator_pulsar_spark.streaming.joins import attribute_stream

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    # watermarks demand TIMESTAMP (not NTZ); session tz is UTC so the
    # cast is a pure reinterpretation
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", F.col("ts").cast("timestamp").alias("view_ts"),
        F.col("event_id").alias("view_id"))
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").cast("timestamp").alias("click_ts"),
        F.col("event_id").alias("click_id"))
    vsrc, csrc = str(tmp_path / "views"), str(tmp_path / "clicks")
    # split passes by TIME (streams arrive roughly in event-time order;
    # an id split would make pass-2 matches "late" beyond the watermark
    # and correctly dropped — not what this parity test is about)
    bounds = ev.agg(F.min("ts").alias("lo"), F.max("ts").alias("hi")).first()
    t_mid = bounds["lo"] + (bounds["hi"] - bounds["lo"]) / 2
    views.filter(F.col("view_ts") <= t_mid).write.parquet(vsrc)
    clicks.filter(F.col("click_ts") <= t_mid).write.parquet(csrc)

    sink = str(tmp_path / "attr_out")

    def run_pass():
        vs = spark.readStream.schema(views.schema).parquet(vsrc)
        cs = spark.readStream.schema(clicks.schema).parquet(csrc)
        out = attribute_stream(vs, cs, key_col="user_id",
                               trigger_ts="view_ts", response_ts="click_ts",
                               max_delay_seconds=3600)
        (out.writeStream.format("parquet")
         .option("path", sink)
         .option("checkpointLocation", str(tmp_path / "c"))
         .trigger(availableNow=True).start().awaitTermination(180))

    run_pass()
    views.filter(F.col("view_ts") > t_mid).write.mode("append").parquet(vsrc)
    clicks.filter(F.col("click_ts") > t_mid).write.mode("append").parquet(csrc)
    run_pass()

    got = {(r["view_id"], r["click_id"])
           for r in spark.read.parquet(sink).collect()}
    want = {(r["view_id"], r["click_id"]) for r in views.alias("v").join(
        clicks.alias("c"),
        (F.col("v.user_id") == F.col("c.user_id"))
        & (F.col("c.click_ts") > F.col("v.view_ts"))
        & (F.col("c.click_ts") <= F.col("v.view_ts")
           + F.expr("INTERVAL 3600 SECONDS"))).collect()}
    # watermark after pass 1 sits 2h behind t_mid while the join range
    # is 1h, so no pending cross-pass match is ever evicted early —
    # exact equality with the batch join is the expected outcome
    assert got == want, (len(got), len(want))


def test_stream_stream_attribution_left_outer_emits_unmatched(spark, tmp_path):
    """leftOuter mode: a view with no click inside max_delay is emitted
    with null click columns — but only after the watermark passes its
    join window (needs a later batch to advance the watermark)."""
    import datetime as dt

    from pyspark.sql import functions as F

    from incubator_pulsar_spark.streaming.joins import attribute_stream

    t0 = dt.datetime(2001, 3, 5, 12, 0, 0)
    views = spark.createDataFrame(
        [(1, t0, 100),                                   # click follows
         (2, t0, 101)],                                  # never clicked
        "user_id long, view_ts timestamp, view_id long")
    clicks = spark.createDataFrame(
        [(1, t0 + dt.timedelta(minutes=10), 200)],
        "user_id long, click_ts timestamp, click_id long")
    late = spark.createDataFrame(
        [(7, t0 + dt.timedelta(hours=9), 300, 9)],
        "user_id long, view_ts timestamp, view_id long, _pad long") \
        .drop("_pad")
    vsrc, csrc = str(tmp_path / "v"), str(tmp_path / "c")
    views.write.parquet(vsrc)
    clicks.write.parquet(csrc)

    sink = str(tmp_path / "out")

    def run_pass():
        vs = spark.readStream.schema(views.schema).parquet(vsrc)
        cs = spark.readStream.schema(clicks.schema).parquet(csrc)
        out = attribute_stream(vs, cs, key_col="user_id",
                               trigger_ts="view_ts", response_ts="click_ts",
                               max_delay_seconds=3600, watermark="1 hour",
                               how="leftOuter")
        (out.writeStream.format("parquet").option("path", sink)
         .option("checkpointLocation", str(tmp_path / "ck"))
         .trigger(availableNow=True).start().awaitTermination(120))

    run_pass()
    # the GLOBAL watermark is the MIN across both streams (default
    # multipleWatermarkPolicy): "no click ever arrived" is only
    # decidable once the CLICK stream's own time moves past the join
    # window — advance BOTH sides, then run one more batch (outer
    # nulls emit in the batch after the watermark advances)
    late.write.mode("append").parquet(vsrc)
    spark.createDataFrame(
        [(7, t0 + dt.timedelta(hours=9), 299)],
        "user_id long, click_ts timestamp, click_id long") \
        .write.mode("append").parquet(csrc)
    run_pass()
    spark.createDataFrame(
        [(8, dt.datetime(2001, 3, 5, 22, 0, 0), 301)],
        "user_id long, view_ts timestamp, view_id long") \
        .write.mode("append").parquet(vsrc)
    spark.createDataFrame(
        [(8, dt.datetime(2001, 3, 5, 22, 30, 0), 302)],
        "user_id long, click_ts timestamp, click_id long") \
        .write.mode("append").parquet(csrc)
    run_pass()

    rows = {(r["view_id"], r["click_id"])
            for r in spark.read.parquet(sink).collect()}
    assert (100, 200) in rows          # matched pair
    assert (101, None) in rows         # unmatched view, null-padded


def test_cms_stream_counters_equal_batch_sketch(spark, tmp_path, sf_dir):
    """Streaming CMS across two availableNow passes: the latest counter
    snapshot equals the batch sketch of the union (sum-merge, via the
    built-in streaming agg — no custom state)."""
    from pyspark.sql import functions as F

    from incubator_pulsar_spark.functions.sketches import cms_table
    from incubator_pulsar_spark.streaming.sketches import cms_stream

    src = str(tmp_path / "ev")
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        F.col("user_id").cast("string").alias("k"), "event_id")
    ev.filter(F.col("event_id") % 2 == 0).write.parquet(src)

    sink = str(tmp_path / "cms_out")

    def run_pass(tag):
        stream = spark.readStream.schema(ev.schema).parquet(src)
        out = cms_stream(stream.select("k"), "k", d=3, w=64)

        def write(df, batch_id):
            df.withColumn("pass_tag", F.lit(tag)) \
                .write.mode("append").parquet(sink)

        (out.writeStream.foreachBatch(write).outputMode("complete")
         .option("checkpointLocation", str(tmp_path / "c"))
         .trigger(availableNow=True).start().awaitTermination(120))

    run_pass(0)
    ev.filter(F.col("event_id") % 2 == 1).write.mode("append").parquet(src)
    run_pass(1)

    snap = {}
    for r in spark.read.parquet(sink).orderBy("pass_tag").collect():
        snap[(r["row_i"], r["bucket"])] = r["cnt"]
    want = {(r["row_i"], r["bucket"]): r["cnt"]
            for r in cms_table(ev.select("k"), "k", d=3, w=64).collect()}
    assert snap == want


def test_stream_stream_attribution_right_outer_emits_orphan_clicks(
        spark, tmp_path):
    """rightOuter: a click with no prior view inside the window emits
    null-padded once both watermarks pass (broken-tracking detector)."""
    import datetime as dt

    from pyspark.sql import functions as F

    from incubator_pulsar_spark.streaming.joins import attribute_stream

    t0 = dt.datetime(2001, 3, 5, 12, 0, 0)
    views = spark.createDataFrame(
        [(1, t0, 100)], "user_id long, view_ts timestamp, view_id long")
    clicks = spark.createDataFrame(
        [(1, t0 + dt.timedelta(minutes=10), 200),   # attributed
         (2, t0 + dt.timedelta(minutes=20), 201)],  # orphan
        "user_id long, click_ts timestamp, click_id long")
    vsrc, csrc = str(tmp_path / "v"), str(tmp_path / "c")
    views.write.parquet(vsrc)
    clicks.write.parquet(csrc)
    sink = str(tmp_path / "out")

    def run_pass():
        vs = spark.readStream.schema(views.schema).parquet(vsrc)
        cs = spark.readStream.schema(clicks.schema).parquet(csrc)
        out = attribute_stream(vs, cs, key_col="user_id",
                               trigger_ts="view_ts", response_ts="click_ts",
                               max_delay_seconds=3600, watermark="1 hour",
                               how="rightOuter")
        (out.writeStream.format("parquet").option("path", sink)
         .option("checkpointLocation", str(tmp_path / "ck"))
         .trigger(availableNow=True).start().awaitTermination(120))

    run_pass()
    for df, src in (
        (spark.createDataFrame([(7, t0 + dt.timedelta(hours=9), 300)],
                               "user_id long, view_ts timestamp, view_id long"),
         vsrc),
        (spark.createDataFrame([(7, t0 + dt.timedelta(hours=9), 299)],
                               "user_id long, click_ts timestamp, click_id long"),
         csrc)):
        df.write.mode("append").parquet(src)
    run_pass()
    for df, src in (
        (spark.createDataFrame([(8, t0 + dt.timedelta(hours=10), 301)],
                               "user_id long, view_ts timestamp, view_id long"),
         vsrc),
        (spark.createDataFrame([(8, t0 + dt.timedelta(hours=10, minutes=30), 302)],
                               "user_id long, click_ts timestamp, click_id long"),
         csrc)):
        df.write.mode("append").parquet(src)
    run_pass()

    rows = {(r["view_id"], r["click_id"], r["user_id"])
            for r in spark.read.parquet(sink).collect()}
    assert (100, 200, 1) in rows
    assert (None, 201, 2) in rows      # orphan keeps ITS user_id


def test_stream_stream_attribution_full_outer_matrix(spark, tmp_path):
    """fullOuter: one run covers all three row kinds — matched pair,
    never-clicked view (null click side), orphan click (null view
    side) — with the single coalesced key column present on every row."""
    import datetime as dt

    from pyspark.sql import functions as F

    from incubator_pulsar_spark.streaming.joins import attribute_stream

    t0 = dt.datetime(2001, 3, 5, 12, 0, 0)
    views = spark.createDataFrame(
        [(1, t0, 100),                                  # click follows
         (2, t0, 101)],                                 # never clicked
        "user_id long, view_ts timestamp, view_id long")
    clicks = spark.createDataFrame(
        [(1, t0 + dt.timedelta(minutes=10), 200),       # attributed
         (3, t0 + dt.timedelta(minutes=20), 201)],      # orphan
        "user_id long, click_ts timestamp, click_id long")
    vsrc, csrc = str(tmp_path / "v"), str(tmp_path / "c")
    views.write.parquet(vsrc)
    clicks.write.parquet(csrc)
    sink = str(tmp_path / "out")

    def run_pass():
        vs = spark.readStream.schema(views.schema).parquet(vsrc)
        cs = spark.readStream.schema(clicks.schema).parquet(csrc)
        out = attribute_stream(vs, cs, key_col="user_id",
                               trigger_ts="view_ts", response_ts="click_ts",
                               max_delay_seconds=3600, watermark="1 hour",
                               how="fullOuter")
        assert "user_id" in out.columns and out.columns.count("user_id") == 1
        (out.writeStream.format("parquet").option("path", sink)
         .option("checkpointLocation", str(tmp_path / "ck"))
         .trigger(availableNow=True).start().awaitTermination(120))

    run_pass()
    # advance BOTH watermarks past the join windows, then once more so
    # the outer nulls (finalized at the min watermark) land in the sink
    for h in (9, 10):
        spark.createDataFrame(
            [(7, t0 + dt.timedelta(hours=h), 300 + h)],
            "user_id long, view_ts timestamp, view_id long") \
            .write.mode("append").parquet(vsrc)
        spark.createDataFrame(
            [(7, t0 + dt.timedelta(hours=h), 400 + h)],
            "user_id long, click_ts timestamp, click_id long") \
            .write.mode("append").parquet(csrc)
        run_pass()

    rows = {(r["view_id"], r["click_id"], r["user_id"])
            for r in spark.read.parquet(sink).collect()}
    assert (100, 200, 1) in rows       # matched
    assert (101, None, 2) in rows      # unmatched view, key from views
    assert (None, 201, 3) in rows      # orphan click, key from clicks


def test_stream_stream_attribution_late_arrival_edges(spark, tmp_path):
    """Watermark-late edge cases (leftOuter): (a) an in-window click
    arriving BEFORE the global watermark passes its view still matches
    across passes; (b) a click arriving AFTER its view was finalized as
    unmatched is evicted — the view's null-padded row stands and no
    duplicate matched row appears."""
    import datetime as dt

    from pyspark.sql import functions as F

    from incubator_pulsar_spark.streaming.joins import attribute_stream

    t0 = dt.datetime(2001, 3, 5, 12, 0, 0)
    views = spark.createDataFrame(
        [(1, t0, 100),         # click arrives next pass, slightly late but
                               # inside watermark -> must still match
         (2, t0, 101)],        # click arrives only after finalization
        "user_id long, view_ts timestamp, view_id long")
    clicks_schema = "user_id long, click_ts timestamp, click_id long"
    vsrc, csrc = str(tmp_path / "v"), str(tmp_path / "c")
    views.write.parquet(vsrc)
    # pass 1: empty click side (schema-only directory via 0-row write)
    spark.createDataFrame([], clicks_schema).write.parquet(csrc)
    sink = str(tmp_path / "out")

    def run_pass():
        vs = spark.readStream.schema(views.schema).parquet(vsrc)
        cs = spark.readStream.schema(clicks_schema).parquet(csrc)
        out = attribute_stream(vs, cs, key_col="user_id",
                               trigger_ts="view_ts", response_ts="click_ts",
                               max_delay_seconds=3600, watermark="1 hour",
                               how="leftOuter")
        (out.writeStream.format("parquet").option("path", sink)
         .option("checkpointLocation", str(tmp_path / "ck"))
         .trigger(availableNow=True).start().awaitTermination(120))

    run_pass()
    # pass 2: user 1's click (event time inside the window; watermark has
    # not advanced yet, so state still holds the view) + both streams'
    # time advances far enough to finalize user 2's view as unmatched
    spark.createDataFrame(
        [(1, t0 + dt.timedelta(minutes=30), 200),
         (9, t0 + dt.timedelta(hours=9), 900)], clicks_schema) \
        .write.mode("append").parquet(csrc)
    spark.createDataFrame(
        [(9, t0 + dt.timedelta(hours=9), 901)],
        "user_id long, view_ts timestamp, view_id long") \
        .write.mode("append").parquet(vsrc)
    run_pass()
    # pass 3: user 2's click finally arrives — hours beyond watermark +
    # max_delay, after view 101 was finalized null-padded: it must be
    # EVICTED, not matched (no (101, 202) row ever)
    spark.createDataFrame(
        [(2, t0 + dt.timedelta(minutes=20), 202)], clicks_schema) \
        .write.mode("append").parquet(csrc)
    spark.createDataFrame(
        [(9, t0 + dt.timedelta(hours=11), 902)],
        "user_id long, view_ts timestamp, view_id long") \
        .write.mode("append").parquet(vsrc)
    spark.createDataFrame(
        [(9, t0 + dt.timedelta(hours=11), 903)], clicks_schema) \
        .write.mode("append").parquet(csrc)
    run_pass()

    rows = {(r["view_id"], r["click_id"])
            for r in spark.read.parquet(sink).collect()}
    assert (100, 200) in rows          # cross-pass in-watermark match
    assert (101, None) in rows         # finalized unmatched
    assert (101, 202) not in rows      # late click evicted, not revived
