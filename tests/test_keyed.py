"""The keyed-state fold (``streaming/keyed.py``) and its twelve steps.

The step tests are Spark-free: each step is a pure per-key function,
so carries, late-row accounting and NULL runs are checked by calling
it batch by batch with the state it returned. The parity test runs
every step through ``keyed_fold`` at three bucket counts against a
pure-Python per-key fold of the same batches.
"""

from __future__ import annotations

from decimal import Decimal
from functools import partial

import pandas as pd
import pytest

from pyspark.sql import functions as F
from pyspark.sql import types as T

from incubator_pulsar_spark.streaming import (behavior, dedup, gapfill,
                                              interval, scd2, windows)
from incubator_pulsar_spark.streaming.keyed import FoldContext, keyed_fold

NO_WM = FoldContext(None)


def _rows(**cols):
    return pd.DataFrame(cols)


def _replay(step, key, batches, ctx=NO_WM):
    """Fold ``batches`` (frames) through ``step`` the way keyed_fold
    does: state is written only on a reported change."""
    st, outs = None, []
    for rows in batches:
        new, out, changed, _ = step(key, st, rows, ctx)
        if changed and new is not None:
            st = new
        outs.append(out)
    return st, outs


class TestMarkovStep:
    def test_carry_across_batches(self):
        st, (o1, o2) = _replay(behavior.markov_step, "u", [
            _rows(order=[20, 10], state=["b", "a"]),
            _rows(order=[30], state=["a"])])
        assert o1 == [("a", "b", 1, 0)]
        assert o2 == [("b", "a", 1, 0)]  # straddles the boundary
        assert st == ("a", 30, 0)

    def test_late_row_dropped_counted_with_marker(self):
        st, (_, o2) = _replay(behavior.markov_step, "u", [
            _rows(order=[100, 200], state=["a", "b"]),
            _rows(order=[150], state=["zzz"])])
        assert o2 == [(None, None, 0, 1)]  # the batch only dropped
        assert st == ("b", 200, 1)

    def test_null_run_across_batches_matches_one_batch(self):
        orders, states = [1, 2, 3, 4], ["a", None, None, "b"]
        _, split = _replay(behavior.markov_step, "u", [
            _rows(order=orders[:2], state=states[:2]),
            _rows(order=orders[2:], state=states[2:])])
        _, (whole,) = _replay(behavior.markov_step, "u", [
            _rows(order=orders, state=states)])
        assert sorted(split[0] + split[1], key=repr) == sorted(whole,
                                                               key=repr)


class TestRetentionStep:
    step = staticmethod(partial(behavior.retention_step, anchor=0,
                                period=10))

    def test_carry_across_batches(self):
        st, (o1, o2) = _replay(self.step, "u", [
            _rows(order=[0, 5]), _rows(order=[12, 31])])
        assert o1 == [(0, 0, 1, 0)]
        assert o2 == [(0, 1, 1, 0), (0, 3, 1, 0)]
        assert st == (0, [0, 1, 3], 0)

    def test_cohort_rewrite_dropped_and_counted(self):
        st, (_, o2, o3) = _replay(self.step, "u", [
            _rows(order=[20]), _rows(order=[3]), _rows(order=[35])])
        assert o2 == []  # no marker row: the count rides later rows
        assert st[2] == 1 and o3 == [(2, 1, 1, 1)]


class TestTwapStep:
    def test_carry_across_batches(self):
        st, (o1, o2) = _replay(behavior.twap_step, "a", [
            _rows(order=[1000, 2000], value=[20000, 30000]),
            _rows(order=[4000], value=[50000])])
        assert o1 == [("a", 1, 1000, Decimal("2000.0000"), 0)]
        assert o2 == [("a", 1, 2000, Decimal("6000.0000"), 0)]
        assert st == (4000, 50000, 0)

    def test_late_row_dropped_counted_with_marker(self):
        st, (_, o2) = _replay(behavior.twap_step, "a", [
            _rows(order=[1000, 2000], value=[1, 2]),
            _rows(order=[1500], value=[9])])
        assert o2 == [("a", 0, 0, Decimal(0), 1)]
        assert st == (2000, 2, 1)


class TestEntropyStep:
    def test_carry_across_batches(self):
        st, (o1, o2) = _replay(behavior.entropy_step, "u", [
            _rows(state=["x", "y"]), _rows(state=["x", None])])
        assert o1 == [("u", 1, ["x", "y"], [1, 1])]
        assert o2 == [("u", 2, [None, "x", "y"], [1, 2, 1])]
        assert st == ([None, "x", "y"], [1, 2, 1], 2)

    def test_no_rows_changes_nothing(self):
        st = (["x"], [1], 1)
        assert behavior.entropy_step("u", st, _rows(state=[]), NO_WM) == (
            st, [], False, False)


class TestIntervalStep:
    def test_open_interval_carries_across_batches(self):
        st, (o1, o2) = _replay(interval.interval_step, "g", [
            _rows(start=[0], end=[100]), _rows(start=[50], end=[60])])
        assert o1 == [("g", 1, 100, 100, 1, 0)]
        assert o2 == [("g", 1, 10, 0, 2, 0)]  # inside the union
        assert st == (50, 100, [60, 100], 2, 0)

    def test_late_start_dropped_counted_with_marker(self):
        st, (_, o2) = _replay(interval.interval_step, "h", [
            _rows(start=[10], end=[14]), _rows(start=[2], end=[3])])
        assert o2 == [("h", 0, 0, 0, 1, 1)]
        assert st[4] == 1


class TestScd2Step:
    def test_carry_closes_run_in_later_batch(self):
        st, (o1, o2) = _replay(scd2.scd2_step, "k", [
            _rows(value=["a", "a"], order=[1, 2]),
            _rows(value=["b"], order=[3])])
        assert o1 == [("k", "a", 1, None, 1, 0)]
        assert o2 == [("k", "a", 1, 3, 1, 0), ("k", "b", 3, None, 2, 0)]
        assert st == ("b", 3, 2, 0)

    def test_late_row_dropped_and_counted(self):
        st, (_, o2) = _replay(scd2.scd2_step, "k", [
            _rows(value=["a", "b"], order=[100, 200]),
            _rows(value=["zzz", "c"], order=[150, 300])])
        assert o2 == [("k", "b", 200, 300, 2, 1), ("k", "c", 300, None, 3, 1)]
        assert st == ("c", 300, 3, 1)

    def test_null_run_across_batches(self):
        # NULL-after-NULL across the boundary is no change: the NULL
        # run opened in batch 1 is closed by 'b' in batch 2
        st, (o1, o2) = _replay(scd2.scd2_step, "k", [
            _rows(value=["a", None], order=[1, 2]),
            _rows(value=[None, "b"], order=[3, 4])])
        assert o1 == [("k", "a", 1, 2, 1, 0), ("k", None, 2, None, 2, 0)]
        assert o2 == [("k", None, 2, 4, 2, 0), ("k", "b", 4, None, 3, 0)]
        assert st == ("b", 4, 3, 0)


class TestScd2EventTimeStep:
    """Orders are event-time micros; the watermark is in ms."""

    step = staticmethod(scd2.scd2_event_time_step)

    def test_buffer_carries_until_watermark_passes(self):
        st, out, changed, rearm = self.step(
            "k", None, _rows(value=["b", "a"], order=[40_000, 10_000]),
            FoldContext(0))
        assert (out, changed, rearm) == ([], True, True)
        assert st == (None, None, 0, 0, [10_000, 40_000], ["a", "b"])
        # a timer whose watermark moved nothing only re-arms
        empty = _rows(value=[], order=[])
        assert self.step("k", st, empty, FoldContext(5)) == (
            st, [], False, True)
        st, out, changed, rearm = self.step("k", st, empty, FoldContext(50))
        assert out == [("k", "a", 10_000, 40_000, 1, 0)]
        assert (changed, rearm) == (True, False)
        assert st == ("b", 40_000, 2, 0, [], [])

    def test_row_below_frontier_dropped_and_counted(self):
        st, out, changed, rearm = self.step(
            "k", ("b", 40_000, 2, 0, [], []),
            _rows(value=["z", "c"], order=[11_000, 80_000]),
            FoldContext(100))
        assert out == [("k", "b", 40_000, 80_000, 2, 1)]
        assert st == ("c", 80_000, 3, 1, [], [])
        assert changed and not rearm

    def test_null_run_across_batches(self):
        st, *_ = self.step(
            "k", None, _rows(value=["a", None], order=[1_000, 2_000]),
            FoldContext(3))
        assert st == (None, 2_000, 2, 0, [], [])  # the open run is NULL
        st, out, *_ = self.step(
            "k", st, _rows(value=[None, "b"], order=[3_000, 4_000]),
            FoldContext(5))
        assert out == [("k", None, 2_000, 4_000, 2, 0)]
        assert st == ("b", 4_000, 3, 0, [], [])


class TestCountWindowStep:
    step = staticmethod(partial(windows.count_window_step, count=3))

    def test_pane_carries_across_batches(self):
        st, (o1, o2) = _replay(self.step, "u", [
            _rows(order=[4, 2, 1, 3], value=[4.0, 2.0, 1.0, 3.0]),
            _rows(order=[6, 5], value=[6.0, 5.0])])
        assert o1 == [("u", 0, 3, 6.0, 1, 3)]
        assert o2 == [("u", 1, 3, 15.0, 4, 6)]
        assert st == (2, 0, 0.0, None, None)

    def test_null_key(self):
        _, (out,) = _replay(self.step, None, [
            _rows(order=[1, 2, 3], value=[0.0, 0.0, 1.0])])
        assert out == [(None, 0, 3, 1.0, 1, 3)]


class TestSlidingCountStep:
    step = staticmethod(partial(windows.sliding_count_step, length=3,
                                slide=2))

    def test_pane_carries_across_batches(self):
        st, (o1, o2) = _replay(self.step, "u", [
            _rows(order=[3, 1, 2], value=[3.0, 1.0, 2.0]),
            _rows(order=[4], value=[4.0])])
        assert o1 == [("u", 2, 2, 3.0, 1, 2)]
        assert o2 == [("u", 4, 3, 9.0, 2, 4)]
        assert st == (4, [2, 3, 4], [2.0, 3.0, 4.0])

    def test_null_key(self):
        _, (out,) = _replay(self.step, None, [
            _rows(order=[1, 2], value=[1.0, 1.0])])
        assert out == [(None, 2, 2, 2.0, 1, 2)]


class TestPaneDeltasStep:
    step = staticmethod(partial(windows.pane_deltas_step, length=2,
                                slide=2))

    def test_eviction_carries_across_batches(self):
        st, (o1, o2) = _replay(self.step, "k", [
            _rows(order=[3, 2, 1]), _rows(order=[4])])
        assert o1 == [("k", 2, 1, "new"), ("k", 2, 2, "new")]
        # 1 (evicted in batch 1) and 2 expire at the batch-2 trigger
        assert o2 == [("k", 4, 3, "new"), ("k", 4, 4, "new"),
                      ("k", 4, 1, "expired"), ("k", 4, 2, "expired")]
        assert st == (4, [3, 4], [])

    def test_null_key(self):
        _, (out,) = _replay(self.step, None, [_rows(order=[1, 2])])
        assert out == [(None, 2, 1, "new"), (None, 2, 2, "new")]


class TestDedupStep:
    step = staticmethod(partial(dedup.dedup_step, carried=["_c0"]))

    def test_high_water_mark_carries_across_batches(self):
        st, (o1, o2) = _replay(self.step, "p", [
            _rows(arrival=[2, 1], seq_id=[5, 7], _c0=["b", "a"]),
            _rows(arrival=[3, 4], seq_id=[7, 8], _c0=["c", "d"])])
        assert o1 == [("a",)]  # arrival 2 (id 5) regressed below 7
        assert o2 == [("d",)]
        assert st == (8,)

    def test_null_key_and_null_id(self):
        st, out, changed, _ = self.step(
            None, None, _rows(arrival=[1, 2], seq_id=[None, None],
                              _c0=["a", "b"]), NO_WM)
        assert out == [("a",), ("b",)]  # NULL ids always pass
        assert st == (None,) and not changed


class TestGapfillStep:
    step = staticmethod(partial(gapfill.gapfill_step, key_cols=["_k0"]))

    def test_carry_and_final_slots(self):
        st, (o1, o2) = _replay(self.step, '{"k":"a"}', [
            _rows(_k0=["a", "a", "a"], slot=[3, 1, 1],
                  _v=[9.0, 2.0, None]),
            # slots 2 and 3 are at or before last_slot: dropped
            _rows(_k0=["a", "a", "a"], slot=[2, 3, 5], _v=[7.0, 7.0, None])])
        assert o1 == [("a", 1, 2, 2.0, False), ("a", 2, 0, 2.0, True),
                      ("a", 3, 1, 9.0, False)]
        assert o2 == [("a", 4, 0, 9.0, True), ("a", 5, 1, 9.0, False)]
        assert st == (5, 9.0, True)

    def test_only_final_slots_change_nothing(self):
        st = (5, 1.0, True)
        assert self.step("k", st, _rows(_k0=["a"], slot=[4], _v=[3.0]),
                         NO_WM) == (st, [], False, False)

    def test_null_key_value(self):
        _, (out,) = _replay(self.step, "{}", [
            _rows(_k0=[None], slot=[7], _v=[float("nan")])])
        assert out == [(None, 7, 1, None, False)]


# ---------------------------------------------------------------- parity

_SRC = "key string, order long, value string"


def _cases():
    """name -> (prep(source) -> keyed, step, state schema, out schema,
    timeout); built lazily because Columns need a live session."""
    def counted(df):
        return df.select("key", "order",
                         (F.col("order") % 7).cast("double").alias("value"))

    def et(df):
        ts = F.timestamp_micros(F.col("order") * 1_000_000)
        return (df.withColumn("ts", ts).withWatermark("ts", "10 seconds")
                .select("key", "value", "ts",
                        F.unix_micros("ts").alias("order")))

    return {
        "markov": (lambda df: df.select(
            "key", "order", F.col("value").alias("state")),
            behavior.markov_step, behavior.MARKOV_STATE_SCHEMA,
            behavior.MARKOV_OUT_SCHEMA, "NoTimeout"),
        "retention": (lambda df: df.select("key", "order"),
                      partial(behavior.retention_step, anchor=0,
                              period=10),
                      behavior.RETENTION_STATE_SCHEMA,
                      behavior.RETENTION_OUT_SCHEMA, "NoTimeout"),
        "twap": (lambda df: df.select(
            "key", "order", (F.col("order") * 7 % 13).alias("value")),
            behavior.twap_step, behavior.TWAP_STATE_SCHEMA,
            behavior.TWAP_OUT_SCHEMA, "NoTimeout"),
        "entropy": (lambda df: df.select(
            "key", F.col("value").alias("state")),
            behavior.entropy_step, behavior.ENTROPY_STATE_SCHEMA,
            behavior.ENTROPY_OUT_SCHEMA, "NoTimeout"),
        "interval": (lambda df: df.select(
            "key", F.col("order").alias("start"),
            (F.col("order") + 5).alias("end")),
            interval.interval_step, interval.INTERVAL_STATE_SCHEMA,
            interval.INTERVAL_OUT_SCHEMA, "NoTimeout"),
        "scd2": (lambda df: df, scd2.scd2_step, scd2.SCD2_STATE_SCHEMA,
                 scd2.SCD2_OUT_SCHEMA, "NoTimeout"),
        "scd2_event_time": (et, scd2.scd2_event_time_step,
                            scd2.SCD2_ET_STATE_SCHEMA,
                            scd2.SCD2_OUT_SCHEMA, "EventTimeTimeout"),
        "count_window": (counted, partial(windows.count_window_step,
                                          count=3),
                         windows.COUNT_WINDOW_STATE_SCHEMA,
                         windows.COUNT_WINDOW_OUT_SCHEMA, "NoTimeout"),
        "sliding_count": (counted, partial(windows.sliding_count_step,
                                           length=3, slide=2),
                          windows.SLIDING_COUNT_STATE_SCHEMA,
                          windows.SLIDING_COUNT_OUT_SCHEMA, "NoTimeout"),
        "pane_deltas": (lambda df: df.select("key", "order"),
                        partial(windows.pane_deltas_step, length=3,
                                slide=2),
                        windows.PANE_DELTAS_STATE_SCHEMA,
                        windows.PANE_DELTAS_OUT_SCHEMA, "NoTimeout"),
        # the ids regress (order 10 -> id 5 after order 40 -> id 2, ...)
        "dedup": (lambda df: df.select(
            "key", (F.col("order") * 7 % 13).alias("seq_id"),
            F.col("order").alias("arrival"),
            *[F.col(c).alias(f"_c{i}") for i, c in enumerate(df.columns)]),
            partial(dedup.dedup_step, carried=["_c0", "_c1", "_c2"]),
            dedup.DEDUP_STATE_SCHEMA, T.DataType.fromDDL(_SRC),
            "NoTimeout"),
        # slot = order // 10: k0's late 5 and k1's 30 land in final slots
        "gapfill": (lambda df: df.select(
            F.to_json(F.struct("key")).alias("key"),
            F.col("key").alias("_k0"),
            (F.col("order") / 10).cast("long").alias("slot"),
            F.ascii("value").cast("double").alias("_v")),
            partial(gapfill.gapfill_step, key_cols=["_k0"]),
            gapfill.GAPFILL_STATE_SCHEMA,
            T.StructType([T.StructField("key", T.StringType()),
                          *gapfill.GAPFILL_OUT_SCHEMA.fields]),
            "NoTimeout"),
    }


_DELAY_MS = 10_000  # the event-time case's watermark delay


def _fixture():
    """Two disordered batches over six keys and a NULL key: a NULL
    value run straddling the boundary, a late row for k0 in batch 2,
    a NULL key held only by batch 1 (its event-time timer fires in
    batch 2) and an in-band sentinel that lets the event-time form
    flush."""
    b1 = ([(f"k{i}", 40 + i, "b") for i in range(6)]
          + [(f"k{i}", 10 + i, "a") for i in range(6)]
          + [("k1", 25, None), (None, 12, "a"), (None, 50, "b")])
    b2 = ([(f"k{i}", 80 + i, "c") for i in range(6)]
          + [("k1", 30, None), ("k0", 5, "z"), ("\x00flush", 600, "x")])
    return b1, b2


def _norm(row):
    def norm(v):
        if isinstance(v, list | tuple):
            return tuple(norm(x) for x in v)
        return v.normalize() if isinstance(v, Decimal) else v
    return tuple(norm(v) for v in row)


def _sorted(rows):
    return sorted((_norm(r) for r in rows), key=repr)


def _step_reference(step, batches, event_time):
    """Spark's per-key fold of ``batches`` (pandas frames of the keyed
    columns), written out in pure Python: each batch steps every key
    with rows, then (event-time) every key whose timer is due; state
    is written only on a reported change. Event time: a batch sees
    the watermark of the batches before it (max ``order`` - delay;
    rows below it still reach the step), and a trailing no-data batch
    fires the timers the last watermark move made due."""
    held, due_at, out = {}, {}, []
    empty = batches[0].iloc[:0]
    wm_ms = 0
    for rows in batches + ([empty] if event_time else []):
        todo = {None if pd.isna(k) else k: g for k, g in
                rows.groupby("key", sort=False, dropna=False)}
        if event_time:
            todo.update({k: empty for k, t in due_at.items()
                         if t < wm_ms and k not in todo})
        ctx = FoldContext(wm_ms if event_time else None)
        for k, key_rows in todo.items():
            due_at.pop(k, None)
            new, k_out, changed, rearm = step(k, held.get(k), key_rows,
                                              ctx)
            out += k_out
            if changed and new is not None:
                held[k] = new
            if rearm:
                due_at[k] = wm_ms + 1000
        if event_time and len(rows):
            wm_ms = max(wm_ms, rows["order"].max() // 1000 - _DELAY_MS)
    return out


class TestBucketParity:
    """``keyed_fold`` at B = 1, 2 and ``STATE_BUCKETS`` gives the rows
    of each step's per-key fold in pure Python (``_step_reference``)
    on the same two-batch fixture."""

    @staticmethod
    def _source(spark, tmp_path):
        import time

        src = str(tmp_path / "src")
        for rows in _fixture():
            spark.createDataFrame(rows, _SRC).coalesce(1) \
                .write.mode("append").parquet(src)
            time.sleep(0.05)  # distinct mtimes -> deterministic order
        return src

    @staticmethod
    def _run(spark, src, tmp_path, case, tag):
        from incubator_pulsar_spark.plans import queries

        prep, step, state_schema, out_schema, timeout = case
        stream = (spark.readStream.schema(_SRC)
                  .option("maxFilesPerTrigger", "1").parquet(src))
        sink = str(tmp_path / f"sink_{tag}")
        queries._run_stream_gate(
            spark, keyed_fold(prep(stream), step, state_schema, out_schema,
                              timeout=timeout),
            sink, str(tmp_path / f"ck_{tag}"),
            int(spark.conf.get("spark.sql.shuffle.partitions")))
        return _sorted(spark.read.parquet(sink).collect())

    @pytest.mark.parametrize("name", [
        "markov", "retention", "twap", "entropy", "interval", "scd2",
        "scd2_event_time", "count_window", "sliding_count", "pane_deltas",
        "dedup", "gapfill"])
    def test_buckets_match_per_key(self, spark, tmp_path, monkeypatch,
                                   name):
        from incubator_pulsar_spark.streaming import keyed

        case = _cases()[name]
        prep, step, _, out_schema, timeout = case
        batches = [prep(spark.createDataFrame(b, _SRC)).toPandas()
                   for b in _fixture()]
        want = _sorted(_step_reference(step, batches,
                                       timeout == "EventTimeTimeout"))
        assert want  # non-trivial fixture
        fields = out_schema.fieldNames()
        # k0's late row is counted by the step; in the event-time form
        # it lands before k0 finalized anything and opens its history
        if "n_dropped_late" in fields and name != "scd2_event_time":
            late = fields.index("n_dropped_late")
            assert any(r[late] for r in want)
        src = self._source(spark, tmp_path)
        for b in (keyed.STATE_BUCKETS, 1, 2):
            monkeypatch.setattr(keyed, "STATE_BUCKETS", b)
            assert self._run(spark, src, tmp_path, case, f"b{b}") == want, b


def test_restart_at_another_shuffle_width_keeps_state(spark, tmp_path):
    """A key's bucket does not follow the shuffle width: a one-key
    ``markov_stream`` checkpointed at 2 shuffle partitions and
    restarted at 3 carries its last state into the new batch."""
    src = tmp_path / "src"
    sink = str(tmp_path / "sink")
    prev = spark.conf.get("spark.sql.shuffle.partitions")

    def run(batch, parts):
        spark.createDataFrame(batch, _SRC).coalesce(1) \
            .write.mode("append").parquet(str(src / str(parts)))
        spark.conf.set("spark.sql.shuffle.partitions", str(parts))
        out = behavior.markov_stream(
            spark.readStream.schema(_SRC).parquet(str(src / "*")),
            key_col="key", order_col="order", state_col="value")
        q = (out.writeStream.format("parquet").option("path", sink)
             .option("checkpointLocation", str(tmp_path / "ck"))
             .trigger(availableNow=True).start())
        assert q.awaitTermination(120)

    try:
        run([("k", 1, "a"), ("k", 2, "b")], 2)
        run([("k", 3, "c")], 3)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    got = sorted(tuple(r) for r in spark.read.parquet(sink).collect())
    assert got == [("a", "b", 1, 0), ("b", "c", 1, 0)]


def test_stream_gate_raises_on_drain_timeout(spark, tmp_path, monkeypatch):
    """A gate drain that outlives the timeout must stop its query and
    raise, never hand back a partial sink to read."""
    from incubator_pulsar_spark.plans import queries

    src = str(tmp_path / "src")
    spark.createDataFrame([("k", 1, "a")], _SRC).write.parquet(src)
    out = behavior.markov_stream(
        spark.readStream.schema(_SRC).parquet(src), key_col="key",
        order_col="order", state_col="value")
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    monkeypatch.setattr(queries, "STREAM_GATE_TIMEOUT_S", 0.001)
    with pytest.raises(RuntimeError, match="did not drain"):
        queries._run_stream_gate(spark, out, str(tmp_path / "sink"),
                                 str(tmp_path / "ck"), 2)
    assert not spark.streams.active
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev
