"""Round-13 coverage: the four ADVICE r12 findings (NULL-bearing
oracle parity for the legacy quantile trio, scratch-sibling cleanup,
ols_trend docstring, keepalive ticker-type sniff)."""

from __future__ import annotations

import math
import os
import subprocess

import duckdb
import pytest

from pyspark.sql import functions as F


def _canon(rows, cols):
    def norm(v):
        if isinstance(v, float):
            return "NaN" if math.isnan(v) else repr(v)
        if hasattr(v, "isoformat"):
            return v.isoformat().replace("+00:00", "")
        return str(v)

    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(norm(r[i]) for i in order) for r in rows]
    out.sort()
    return out


@pytest.fixture(scope="module")
def null_sf_dir(spark, tmp_path_factory):
    """An sf-dir clone whose events table carries NULL values: ~10% of
    rows NULL, plus one synthetic all-NULL event_type group — the
    inputs the ADVICE r12 medium finding says the legacy quantile
    oracles silently diverge on."""
    d = tmp_path_factory.mktemp("nullsf")
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    nulled = ev.withColumn(
        "value",
        F.when(F.col("event_id") % 10 == 0,
               F.lit(None).cast("double")).otherwise(F.col("value")))
    extra = spark.range(7).select(
        (F.col("id") + 1_000_000).alias("event_id"),
        F.lit("2024-01-01 00:00:00").cast("timestamp").alias("ts"),
        F.col("id").alias("user_id"),
        F.lit("allnull").alias("event_type"),
        F.lit(None).cast("double").alias("value"),
        F.lit("{}").alias("props"))
    nulled.unionByName(extra).write.parquet(str(d / "events.parquet"))
    return str(d)


class TestNullBearingOracleParity:
    """ADVICE r12 (medium): QUANTILES/MAD/WINSORIZE oracles must agree
    with the Spark implementations on NULL-bearing data, not only on
    the NULL-free fixtures."""

    @pytest.mark.parametrize("qname", ["value_quantiles_events",
                                       "mad_outliers_events",
                                       "winsorize_events"])
    def test_spark_matches_duckdb_with_nulls(self, spark, null_sf_dir,
                                             qname):
        from incubator_pulsar_spark.plans.queries import ALL_QUERIES

        q = ALL_QUERIES[qname]
        sdf = q.build(spark, null_sf_dir)
        s_rows, s_cols = sdf.collect(), sdf.columns

        con = duckdb.connect()
        con.execute("SET TimeZone='UTC'")
        con.execute(
            "CREATE VIEW events AS SELECT * FROM "
            f"read_parquet('{null_sf_dir}/events.parquet/*.parquet')")
        cur = con.execute(q.oracle)
        o_cols = [c[0] for c in cur.description]
        o_rows = cur.fetchall()

        assert sorted(s_cols) == sorted(o_cols)
        assert len(s_rows) == len(o_rows)
        assert _canon(s_rows, s_cols) == _canon(o_rows, o_cols)

    def test_winsorize_null_passthrough_and_allnull_group(
            self, spark, null_sf_dir):
        """The NULL pass-through contract itself: NULL values stay NULL
        (never clamped to the band edge) and the all-NULL group
        survives with n_clamped 0 and sum_w NULL."""
        from incubator_pulsar_spark.plans.queries import ALL_QUERIES

        out = {r.event_type: r for r in ALL_QUERIES["winsorize_events"]
               .build(spark, null_sf_dir).collect()}
        assert "allnull" in out
        r = out["allnull"]
        assert r.n == 7 and r.n_clamped == 0 and r.sum_w is None

    def test_quantiles_n_excludes_nulls(self, spark, null_sf_dir):
        from incubator_pulsar_spark.plans.queries import ALL_QUERIES

        got = ALL_QUERIES["value_quantiles_events"].build(
            spark, null_sf_dir)
        ev = spark.read.parquet(f"{null_sf_dir}/events.parquet")
        want = {r.event_type: r.n for r in
                ev.filter(F.col("value").isNotNull())
                .groupBy("event_type").agg(F.count("*").alias("n"))
                .collect()}
        for r in got.collect():
            assert r.n == want[r.event_type]
        # the all-NULL group has no non-NULL quantiles: absent entirely
        assert "allnull" not in {r.event_type for r in got.collect()}


class TestScratchSiblingCleanup:
    """ADVICE r12 (low): the rerank/maxsim lifecycle gates derive
    d+'_out' / d+'_rep' paths that must ride the same atexit cleanup
    and dead-PID sweep as the primary scratch dir."""

    def test_scratch_registers_siblings(self):
        from incubator_pulsar_spark.plans import queries as pq

        d = pq._scratch("r13test", "/root/testdata/sf0.001")
        assert d in pq._SCRATCH_DIRS
        assert d + "_out" in pq._SCRATCH_DIRS
        assert d + "_rep" in pq._SCRATCH_DIRS

    def test_sweep_removes_dead_pid_siblings(self):
        from incubator_pulsar_spark.plans import queries as pq

        # a real, just-freed PID: spawn-and-reap so the sweep's
        # os.kill(pid, 0) sees ProcessLookupError
        p = subprocess.Popen(["true"])
        p.wait()
        dead = p.pid
        paths = [f"/tmp/ipq_r13sweep_sf0.001_{dead}",
                 f"/tmp/ipq_r13sweep_sf0.001_{dead}_out",
                 f"/tmp/ipq_r13sweep_sf0.001_{dead}_rep"]
        for pth in paths:
            os.makedirs(pth, exist_ok=True)
        try:
            pq._sweep_stale_scratch()
            for pth in paths:
                assert not os.path.exists(pth), pth
        finally:
            import shutil

            for pth in paths:
                shutil.rmtree(pth, ignore_errors=True)

    def test_sweep_spares_live_pid_dirs(self):
        from incubator_pulsar_spark.plans import queries as pq

        live = os.getpid()
        pth = f"/tmp/ipq_r13live_sf0.001_{live}_out"
        os.makedirs(pth, exist_ok=True)
        try:
            pq._sweep_stale_scratch()
            assert os.path.exists(pth)
        finally:
            os.rmdir(pth)


class TestTickerTypeSniff:
    """ADVICE r12 (low): a rate↔heartbeat keepalive swap passes the
    source-count check yet dies at start() with Spark's opaque
    offset-format error — the helper must sniff the recorded ticker
    type from the offsets log and raise the instructive error."""

    @staticmethod
    def _due_rows(spark, path):
        import datetime as dt

        from pyspark.sql import Row

        now = dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)
        rows = [Row(key="k", sequence=1,
                    deliver_at=now - dt.timedelta(seconds=5)),
                Row(key="k", sequence=2,
                    deliver_at=now + dt.timedelta(hours=2))]
        spark.createDataFrame(rows).write.mode("overwrite").parquet(path)

    @staticmethod
    def _drain(out, path, ck):
        q = (out.writeStream.format("parquet").option("path", path)
             .option("checkpointLocation", ck)
             .trigger(availableNow=True).start())
        assert q.awaitTermination(120)
        assert q.exception() is None

    def _seed(self, spark, tmp_path, name, **kw):
        from incubator_pulsar_spark.streaming import delay as sdelay

        src = str(tmp_path / f"src_{name}")
        self._due_rows(spark, src)
        schema = spark.read.parquet(src).schema
        stream = spark.readStream.schema(schema).parquet(src)
        out = sdelay.delayed_delivery_stream(stream, **kw)
        ck = str(tmp_path / f"ck_{name}")
        self._drain(out, str(tmp_path / f"rel_{name}"), ck)
        return src, ck, schema

    def test_sniffs_rate_and_heartbeat(self, spark, tmp_path):
        from incubator_pulsar_spark.streaming import delay as sdelay

        _, ck_rate, _ = self._seed(spark, tmp_path, "rate")
        assert sdelay.checkpoint_ticker_type(ck_rate) == "rate"
        _, ck_hb, _ = self._seed(spark, tmp_path, "hb",
                                 keepalive_interval=2.0)
        assert sdelay.checkpoint_ticker_type(ck_hb) == "heartbeat"
        assert sdelay.checkpoint_ticker_type(str(tmp_path / "nope")) is None

    def test_cross_restart_raises_instructive(self, spark, tmp_path):
        from incubator_pulsar_spark.streaming import delay as sdelay

        src, ck_rate, schema = self._seed(spark, tmp_path, "ratex")
        stream = spark.readStream.schema(schema).parquet(src)
        with pytest.raises(ValueError, match="'rate' keepalive ticker"):
            sdelay.delayed_delivery_stream(
                stream, keepalive_interval=3.0, checkpoint_location=ck_rate)

        src2, ck_hb, schema2 = self._seed(spark, tmp_path, "hbx",
                                          keepalive_interval=2.0)
        stream2 = spark.readStream.schema(schema2).parquet(src2)
        with pytest.raises(ValueError,
                           match="'heartbeat' keepalive ticker"):
            sdelay.delayed_delivery_stream(
                stream2, keepalive_interval=1.0, checkpoint_location=ck_hb)

    def test_matching_restart_passes(self, spark, tmp_path):
        from incubator_pulsar_spark.streaming import delay as sdelay

        src, ck, schema = self._seed(spark, tmp_path, "hbok",
                                     keepalive_interval=2.0)
        stream = spark.readStream.schema(schema).parquet(src)
        out = sdelay.delayed_delivery_stream(
            stream, keepalive_interval=2.0, checkpoint_location=ck)
        self._drain(out, str(tmp_path / "rel_hbok"), ck)


class TestEventTimeScd2:
    """VERDICT r12 #1: the watermark-closed SCD2 variant must reorder
    genuine CROSS-BATCH disorder (the publish-order form drops it),
    and the publish-order form must COUNT what it drops."""

    @staticmethod
    def _write_batch(spark, src, rows):
        import time

        df = spark.createDataFrame(rows,
                                   "key string, value string, ts timestamp")
        df.coalesce(1).write.mode("append").parquet(src)
        time.sleep(0.05)  # distinct mtimes -> deterministic batch order

    def test_cross_batch_disorder_reorders(self, spark, tmp_path):
        """A row arriving one batch LATE but inside the watermark bound
        must split the run it lands inside — the exact case the
        publish-order contract forbids."""
        import datetime as dt

        from incubator_pulsar_spark.streaming.scd2 import (
            scd2_stream_event_time,
        )

        t0 = dt.datetime(2024, 1, 1)

        def ts(s):
            return t0 + dt.timedelta(seconds=s)

        src = str(tmp_path / "src")
        # batch 1 disordered within itself: b(40) written before a(10)
        self._write_batch(spark, src, [("k", "b", ts(40)),
                                       ("k", "a", ts(10))])
        # batch 2: a row BETWEEN them arrives a whole batch later
        self._write_batch(spark, src, [("k", "c", ts(25))])
        # batch 3: sentinel advances the watermark past everything
        self._write_batch(spark, src, [("\x00flush", "x", ts(600))])

        stream = (spark.readStream
                  .schema("key string, value string, ts timestamp")
                  .option("maxFilesPerTrigger", "1").parquet(src))
        out = scd2_stream_event_time(stream, delay="30 seconds")
        sink, ck = str(tmp_path / "sink"), str(tmp_path / "ck")
        q = (out.writeStream.format("parquet").option("path", sink)
             .option("checkpointLocation", ck)
             .trigger(availableNow=True).start())
        assert q.awaitTermination(120)
        got = sorted(
            (r.key, r.value, r.valid_from, r.valid_to, r.version,
             r.n_dropped_late)
            for r in spark.read.parquet(sink).collect()
            if r.key != "\x00flush")
        us = 1_000_000

        def u(s):
            return int(ts(s).timestamp()) * us

        # closed runs only: a [10,25) v1, c [25,40) v2; b stays open
        assert got == [("k", "a", u(10), u(25), 1, 0),
                       ("k", "c", u(25), u(40), 2, 0)]

    def test_emissions_are_final_no_duplicates(self, spark, tmp_path):
        """Each closed run must appear EXACTLY once across all batches
        (append-mode finality — no upsert contract needed)."""
        import datetime as dt

        from incubator_pulsar_spark.streaming.scd2 import (
            scd2_stream_event_time,
        )

        t0 = dt.datetime(2024, 1, 1)

        def ts(s):
            return t0 + dt.timedelta(seconds=s)

        src = str(tmp_path / "src")
        self._write_batch(spark, src, [("k", "a", ts(0)), ("k", "b", ts(50))])
        self._write_batch(spark, src, [("k", "c", ts(100)),
                                       ("k", "d", ts(150))])
        self._write_batch(spark, src, [("\x00flush", "x", ts(600))])
        stream = (spark.readStream
                  .schema("key string, value string, ts timestamp")
                  .option("maxFilesPerTrigger", "1").parquet(src))
        out = scd2_stream_event_time(stream, delay="10 seconds")
        sink, ck = str(tmp_path / "sink"), str(tmp_path / "ck")
        q = (out.writeStream.format("parquet").option("path", sink)
             .option("checkpointLocation", ck)
             .trigger(availableNow=True).start())
        assert q.awaitTermination(120)
        rows = [r for r in spark.read.parquet(sink).collect()
                if r.key != "\x00flush"]
        keys = [(r.key, r.version) for r in rows]
        assert len(keys) == len(set(keys))  # exactly-once per run
        assert sorted(r.version for r in rows) == [1, 2, 3]  # d open
        assert all(r.valid_to is not None for r in rows)

    def test_publish_order_counts_dropped_late(self, spark, tmp_path):
        """The publish-order form drops out-of-contract rows — now with
        an observable cumulative counter instead of silence."""
        from incubator_pulsar_spark.streaming.scd2 import scd2_stream

        src = str(tmp_path / "src")
        b1 = spark.createDataFrame(
            [("k", "a", 100), ("k", "b", 200)],
            "key string, value string, sequence long")
        b1.coalesce(1).write.mode("append").parquet(src)
        import time

        time.sleep(0.05)
        b2 = spark.createDataFrame(
            [("k", "zzz", 150), ("k", "c", 300)],  # 150 < 200: late
            "key string, value string, sequence long")
        b2.coalesce(1).write.mode("append").parquet(src)

        stream = (spark.readStream.schema(b1.schema)
                  .option("maxFilesPerTrigger", "1").parquet(src))
        out = scd2_stream(stream)
        q = (out.writeStream.format("memory").queryName("scd2_late13")
             .outputMode("append")
             .option("checkpointLocation", str(tmp_path / "ck"))
             .trigger(availableNow=True).start())
        assert q.awaitTermination(120)
        rows = spark.sql("select * from scd2_late13").collect()
        # the late 'zzz' row was dropped (no zzz run) and counted
        assert not any(r.value == "zzz" for r in rows)
        final = max(rows, key=lambda r: (r.version, r.n_dropped_late))
        assert final.n_dropped_late == 1


class TestKcoreConvergence:
    """VERDICT r12 #3: fixed iters was a silent correctness knob —
    survivor-count early stop + unconverged warning/raise."""

    @staticmethod
    def _onion(spark):
        """Triangle core (a,b,c) with a 12-node hanging path: k=2
        peeling removes ONE path node per round -> 12 rounds to the
        fixpoint, far past iters=8."""
        tri = [("a", "b"), ("b", "c"), ("a", "c")]
        tail = [("c", "t1")] + [(f"t{i}", f"t{i+1}") for i in range(1, 12)]
        return spark.createDataFrame(tri + tail, "src string, dst string")

    def test_unconverged_warns_and_underpeels(self, spark):
        from incubator_pulsar_spark.functions import graph

        with pytest.warns(UserWarning, match="exhausted iters=8"):
            out = graph.kcore(self._onion(spark), k=2, iters=8)
            core = {r.node for r in out.collect() if r.in_kcore}
        # 8 rounds peeled t12..t5; t1..t4 not yet peeled
        assert core == {"a", "b", "c", "t1", "t2", "t3", "t4"}

    def test_raised_iters_converges_clean(self, spark):
        import warnings

        from incubator_pulsar_spark.functions import graph

        with warnings.catch_warnings():
            warnings.simplefilter("error")
            out = graph.kcore(self._onion(spark), k=2, iters=20)
            core = {r.node for r in out.collect() if r.in_kcore}
        assert core == {"a", "b", "c"}

    def test_on_unconverged_raise(self, spark):
        from incubator_pulsar_spark.functions import graph

        with pytest.raises(ValueError, match="exhausted iters=3"):
            graph.kcore(self._onion(spark), k=2, iters=3,
                        on_unconverged="raise")

    def test_early_stop_runs_fewer_rounds(self, spark):
        """A graph already at its core must stop after one no-change
        round, not burn all iters (plan count proxy: wall time is
        flaky; instead assert correctness under a huge iters, which
        only terminates quickly if early-stop works)."""
        from incubator_pulsar_spark.functions import graph

        tri = spark.createDataFrame(
            [("a", "b"), ("b", "c"), ("a", "c")], "src string, dst string")
        out = graph.kcore(tri, k=2, iters=500)
        assert {r.node for r in out.collect() if r.in_kcore} == \
            {"a", "b", "c"}


class TestRankTieGuards:
    """VERDICT r12 #6: tiebreak_col=None meeting duplicate values must
    fail loudly, not emit partition-order-dependent results."""

    def test_spearman_ties_raise_without_tiebreak(self, spark):
        from incubator_pulsar_spark.functions.quantiles import spearman

        df = spark.createDataFrame(
            [("g", 1.0, 10.0, 1), ("g", 1.0, 20.0, 2), ("g", 2.0, 30.0, 3)],
            "grp string, x double, y double, id int")
        with pytest.raises(Exception, match="tiebreak_col"):
            spearman(df, ["grp"], "x", "y").collect()

    def test_spearman_ties_ok_with_tiebreak(self, spark):
        from incubator_pulsar_spark.functions.quantiles import spearman

        df = spark.createDataFrame(
            [("g", 1.0, 10.0, 1), ("g", 1.0, 20.0, 2), ("g", 2.0, 30.0, 3)],
            "grp string, x double, y double, id int")
        r = spearman(df, ["grp"], "x", "y", tiebreak_col="id").collect()[0]
        assert r.n == 3

    def test_spearman_distinct_values_ok_without_tiebreak(self, spark):
        from incubator_pulsar_spark.functions.quantiles import spearman

        df = spark.createDataFrame(
            [("g", 1.0, 10.0), ("g", 2.0, 20.0), ("g", 3.0, 30.0)],
            "grp string, x double, y double")
        r = spearman(df, ["grp"], "x", "y").collect()[0]
        assert r.rho == 1.0

    def test_ntile_straddling_tie_raises(self, spark):
        from incubator_pulsar_spark.functions.quantiles import (
            ntile_histogram,
        )

        # 4 rows, 2 buckets: the tied 5.0 run straddles the boundary
        df = spark.createDataFrame(
            [("g", 1.0), ("g", 5.0), ("g", 5.0), ("g", 5.0)],
            "grp string, v double")
        with pytest.raises(Exception, match="tiebreak_col"):
            ntile_histogram(df, ["grp"], "v", buckets=2).collect()

    def test_ntile_interior_tie_allowed(self, spark):
        from incubator_pulsar_spark.functions.quantiles import (
            ntile_histogram,
        )

        # ties fully inside bucket 1 — deterministic output, no raise
        df = spark.createDataFrame(
            [("g", 1.0), ("g", 1.0), ("g", 5.0), ("g", 9.0)],
            "grp string, v double")
        rows = ntile_histogram(df, ["grp"], "v", buckets=2).collect()
        assert sorted((r.bucket, r.n_rows, r.lo, r.hi) for r in rows) == \
            [(1, 2, 1.0, 1.0), (2, 2, 5.0, 9.0)]

    def test_ntile_straddling_tie_ok_with_tiebreak(self, spark):
        from incubator_pulsar_spark.functions.quantiles import (
            ntile_histogram,
        )

        df = spark.createDataFrame(
            [("g", 1.0, 1), ("g", 5.0, 2), ("g", 5.0, 3), ("g", 5.0, 4)],
            "grp string, v double, id int")
        rows = ntile_histogram(df, ["grp"], "v", buckets=2,
                               tiebreak_col="id").collect()
        assert sorted((r.bucket, r.n_rows) for r in rows) == \
            [(1, 2), (2, 2)]


class TestSemdedupVerdicts:
    """semantic_dedup's single kernel at the threshold boundary."""

    def test_threshold_pair_points_at_smallest_id(self, spark):
        # exact duplicates plus a pair whose cosine rounds to exactly
        # the threshold (0.8): every dup points at the SMALLEST
        # triggering id, and an at-threshold pair counts as a dup
        rows = [(1, [1.0, 0.0]), (2, [1.0, 0.0]), (3, [1.0, 0.0]),
                (4, [0.6, 0.8]), (5, [0.0, 1.0])]
        from incubator_pulsar_spark.functions import similarity

        emb = spark.createDataFrame(
            rows, "vec_id long, embedding array<double>")
        out = {r.vec_id: (r.is_kept, r.dup_of)
               for r in similarity.semantic_dedup(
                   emb, threshold=0.8, n_cells=1).collect()}
        assert out == {1: (1, -1), 2: (0, 1), 3: (0, 1), 4: (1, -1),
                       5: (0, 4)}


class TestBehaviorOperators:
    """Round-13 behavioral analytics family (functions/behavior.py):
    hand-computable fixtures beside the oracle gates."""

    def test_cohort_retention_small(self, spark):
        import datetime as dt

        from incubator_pulsar_spark.functions import behavior

        t0 = dt.datetime(2024, 1, 1)

        def ts(days):
            return t0 + dt.timedelta(days=days)

        rows = [  # u1 first week 0, returns week 1; u2 first week 1
            (1, ts(0)), (1, ts(2)), (1, ts(8)),
            (2, ts(9)), (2, ts(10))]
        df = spark.createDataFrame(rows, "user_id long, ts timestamp")
        got = {(r.cohort, r.offset): r.n_users
               for r in behavior.cohort_retention(df).collect()}
        assert got == {(0, 0): 1, (0, 1): 1, (1, 0): 1}

    def test_markov_transitions_small(self, spark):
        import datetime as dt

        from incubator_pulsar_spark.functions import behavior

        t0 = dt.datetime(2024, 1, 1)
        rows = [(1, t0 + dt.timedelta(minutes=i), s)
                for i, s in enumerate(["a", "b", "a", "b"])]
        rows += [(2, t0 + dt.timedelta(minutes=i), s)
                 for i, s in enumerate(["a", "a"])]
        df = spark.createDataFrame(
            rows, "user_id long, ts timestamp, event_type string")
        got = {(r.state, r.next_state): (r.n, r.prob_micro)
               for r in behavior.markov_transitions(df).collect()}
        # from 'a': b,a,b -> a->b twice, a->a once
        assert got[("a", "b")] == (2, 666666)
        assert got[("a", "a")] == (1, 333333)
        assert got[("b", "a")] == (1, 1000000)

    def test_state_entropy_uniform_and_point(self, spark):
        import math

        from incubator_pulsar_spark.functions import behavior

        rows = [(1, "a"), (1, "b"), (1, "c"), (1, "d"),
                (2, "x"), (2, "x"), (2, "x")]
        df = spark.createDataFrame(rows, "user_id long, event_type string")
        got = {r.key: r for r in behavior.state_entropy(df).collect()}
        assert abs(got[1].entropy - math.log(4)) < 1e-6
        assert got[2].entropy == 0.0
        assert got[1].n_states == 4 and got[2].n_events == 3

    def test_twap_step_function(self, spark):
        import datetime as dt

        from incubator_pulsar_spark.functions import behavior

        t0 = dt.datetime(2024, 1, 1)
        # value 10 holds 1s, value 20 holds 3s, last obs carries none
        rows = [("g", t0, 10.0),
                ("g", t0 + dt.timedelta(seconds=1), 20.0),
                ("g", t0 + dt.timedelta(seconds=4), 99.0)]
        df = spark.createDataFrame(rows,
                                   "grp string, ts timestamp, value double")
        r = behavior.twap(df, ["grp"]).collect()[0]
        assert r.n_intervals == 2 and r.total_ms == 4000
        assert abs(r.twap - 17.5) < 1e-9  # (10*1 + 20*3)/4

    def test_cusum_flags_level_shift(self, spark):
        import datetime as dt

        from incubator_pulsar_spark.functions import behavior

        t0 = dt.datetime(2024, 1, 1)
        rows = [("g", t0 + dt.timedelta(seconds=i), i,
                 0.0 if i < 10 else 100.0) for i in range(20)]
        df = spark.createDataFrame(
            rows, "grp string, ts timestamp, event_id long, value double")
        r = behavior.cusum_max(df, ["grp"],
                               tiebreak_col="event_id").collect()[0]
        # max |N*S_k - k*S_N| at the change point k=10:
        # |20*0 - 10*1000| = 10000, in 1e-4 units
        assert r.argmax_k == 10 and r.max_stat4 == 10000 * 10000

    def test_cusum_stable_series_small_stat(self, spark):
        import datetime as dt

        from incubator_pulsar_spark.functions import behavior

        t0 = dt.datetime(2024, 1, 1)
        rows = [("g", t0 + dt.timedelta(seconds=i), i, 5.0)
                for i in range(20)]
        df = spark.createDataFrame(
            rows, "grp string, ts timestamp, event_id long, value double")
        r = behavior.cusum_max(df, ["grp"],
                               tiebreak_col="event_id").collect()[0]
        assert r.max_stat4 == 0  # constant series: no shift

    def test_cusum_group_past_row_envelope_raises(self, spark,
                                                  monkeypatch):
        import datetime as dt

        from incubator_pulsar_spark.functions import behavior

        monkeypatch.setattr(behavior, "CUSUM_MAX_ROWS", 4)
        t0 = dt.datetime(2024, 1, 1)
        rows = [("g", t0 + dt.timedelta(seconds=i), i, float(i))
                for i in range(5)]
        df = spark.createDataFrame(
            rows, "grp string, ts timestamp, event_id long, value double")
        with pytest.raises(Exception, match="more than 4 rows"):
            behavior.cusum_max(df, ["grp"],
                               tiebreak_col="event_id").collect()


class TestBfsHops:
    def test_path_distances_and_unreached(self, spark):
        from incubator_pulsar_spark.functions import graph

        edges = spark.createDataFrame(
            [("a", "b"), ("b", "c"), ("c", "d"), ("x", "y")],
            "src string, dst string")
        got = {r.node: r.hops
               for r in graph.bfs_hops(edges, ["a"], iters=5).collect()}
        assert got == {"a": 0, "b": 1, "c": 2, "d": 3, "x": -1, "y": -1}

    def test_multi_source_min(self, spark):
        from incubator_pulsar_spark.functions import graph

        edges = spark.createDataFrame(
            [("a", "b"), ("b", "c"), ("d", "c")], "src string, dst string")
        got = {r.node: r.hops
               for r in graph.bfs_hops(edges, ["a", "d"], iters=5).collect()}
        assert got == {"a": 0, "b": 1, "c": 1, "d": 0}

    def test_undirected_mode(self, spark):
        from incubator_pulsar_spark.functions import graph

        edges = spark.createDataFrame(
            [("b", "a"), ("c", "b")], "src string, dst string")
        got = {r.node: r.hops
               for r in graph.bfs_hops(edges, ["a"], iters=5,
                                       directed=False).collect()}
        assert got == {"a": 0, "b": 1, "c": 2}

    def test_unconverged_warns(self, spark):
        from incubator_pulsar_spark.functions import graph

        chain = [(f"n{i}", f"n{i+1}") for i in range(6)]
        edges = spark.createDataFrame(chain, "src string, dst string")
        with pytest.warns(UserWarning, match="exhausted iters=2"):
            got = {r.node: r.hops for r in
                   graph.bfs_hops(edges, ["n0"], iters=2).collect()}
        assert got["n2"] == 2 and got["n6"] == -1


class TestMarkovStream:
    """Streaming Markov deltas: batch==stream parity with transitions
    straddling batch boundaries, and the dropped-late counter."""

    def test_stream_matches_batch_across_batches(self, spark, tmp_path):
        import time

        from incubator_pulsar_spark.functions import behavior
        from incubator_pulsar_spark.streaming.behavior import markov_stream

        src = str(tmp_path / "src")
        b1 = spark.createDataFrame(
            [(1, 10, "a"), (1, 20, "b"), (2, 10, "x")],
            "user_id long, sequence long, event_type string")
        b1.coalesce(1).write.mode("append").parquet(src)
        time.sleep(0.05)
        # u1's b->a transition STRADDLES the batch boundary
        b2 = spark.createDataFrame(
            [(1, 30, "a"), (2, 20, "x"), (2, 30, "y")],
            "user_id long, sequence long, event_type string")
        b2.coalesce(1).write.mode("append").parquet(src)

        stream = (spark.readStream.schema(b1.schema)
                  .option("maxFilesPerTrigger", "1").parquet(src))
        out = markov_stream(stream, key_col="user_id")
        sink, ck = str(tmp_path / "sink"), str(tmp_path / "ck")
        q = (out.writeStream.format("parquet").option("path", sink)
             .option("checkpointLocation", ck)
             .trigger(availableNow=True).start())
        assert q.awaitTermination(120)
        from pyspark.sql import functions as SF

        got = {(r.state, r.next_state): r.n for r in
               spark.read.parquet(sink).filter(SF.col("state").isNotNull())
               .groupBy("state", "next_state")
               .agg(SF.sum("n_delta").alias("n")).collect()}
        import datetime as dt

        t0 = dt.datetime(2024, 1, 1)
        batch_rows = [(1, t0 + dt.timedelta(seconds=10), "a"),
                      (1, t0 + dt.timedelta(seconds=20), "b"),
                      (1, t0 + dt.timedelta(seconds=30), "a"),
                      (2, t0 + dt.timedelta(seconds=10), "x"),
                      (2, t0 + dt.timedelta(seconds=20), "x"),
                      (2, t0 + dt.timedelta(seconds=30), "y")]
        bdf = spark.createDataFrame(
            batch_rows, "user_id long, ts timestamp, event_type string")
        want = {(r.state, r.next_state): r.n
                for r in behavior.markov_transitions(bdf).collect()}
        assert got == want
        assert got[("b", "a")] == 1  # the straddling transition

    def test_late_rows_dropped_and_counted(self, spark, tmp_path):
        import time

        from incubator_pulsar_spark.streaming.behavior import markov_stream

        src = str(tmp_path / "src")
        b1 = spark.createDataFrame(
            [(1, 100, "a"), (1, 200, "b")],
            "user_id long, sequence long, event_type string")
        b1.coalesce(1).write.mode("append").parquet(src)
        time.sleep(0.05)
        b2 = spark.createDataFrame(
            [(1, 150, "zzz")],  # older than the held last_order: late
            "user_id long, sequence long, event_type string")
        b2.coalesce(1).write.mode("append").parquet(src)
        stream = (spark.readStream.schema(b1.schema)
                  .option("maxFilesPerTrigger", "1").parquet(src))
        out = markov_stream(stream, key_col="user_id")
        sink, ck = str(tmp_path / "sink"), str(tmp_path / "ck")
        q = (out.writeStream.format("parquet").option("path", sink)
             .option("checkpointLocation", ck)
             .trigger(availableNow=True).start())
        assert q.awaitTermination(120)
        rows = spark.read.parquet(sink).collect()
        assert not any(r.state == "zzz" or r.next_state == "zzz"
                       for r in rows)
        assert max(r.n_dropped_late for r in rows) == 1


class TestShortestPaths:
    def test_cheap_two_hop_beats_expensive_direct(self, spark):
        from incubator_pulsar_spark.functions import graph

        edges = spark.createDataFrame(
            [("s", "t", 10), ("s", "m", 2), ("m", "t", 3)],
            "src string, dst string, w int")
        got = {r.node: r.dist for r in
               graph.shortest_paths(edges, ["s"], iters=5).collect()}
        assert got == {"s": 0, "m": 2, "t": 5}

    def test_unreached_and_multi_source(self, spark):
        from incubator_pulsar_spark.functions import graph

        edges = spark.createDataFrame(
            [("a", "b", 1), ("c", "b", 7), ("x", "y", 1)],
            "src string, dst string, w int")
        got = {r.node: r.dist for r in
               graph.shortest_paths(edges, ["a", "c"], iters=5).collect()}
        assert got == {"a": 0, "c": 0, "b": 1, "x": -1, "y": -1}

    def test_fractional_weights_rejected(self, spark):
        from incubator_pulsar_spark.functions import graph

        edges = spark.createDataFrame(
            [("a", "b", 0.5)], "src string, dst string, w double")
        with pytest.raises(ValueError, match="INTEGER weights"):
            graph.shortest_paths(edges, ["a"])

    def test_unconverged_warns(self, spark):
        from incubator_pulsar_spark.functions import graph

        chain = [(f"n{i}", f"n{i+1}", 1) for i in range(5)]
        edges = spark.createDataFrame(chain, "src string, dst string, w int")
        with pytest.warns(UserWarning, match="exhausted iters=2"):
            got = {r.node: r.dist for r in
                   graph.shortest_paths(edges, ["n0"], iters=2).collect()}
        assert got["n2"] == 2 and got["n5"] == -1


class TestRetentionStream:
    def test_cross_batch_crediting_matches_batch(self, spark, tmp_path):
        import time

        from incubator_pulsar_spark.functions import behavior
        from incubator_pulsar_spark.streaming.behavior import (
            retention_stream,
        )

        wk = 7 * 86_400_000
        # u1 cohort week0, returns week1+week2; u2 cohort week1
        src = str(tmp_path / "src")
        b1 = spark.createDataFrame(
            [(1, 0), (1, 1000)], "user_id long, sequence long")
        b1.coalesce(1).write.mode("append").parquet(src)
        time.sleep(0.05)
        b2 = spark.createDataFrame(
            [(1, wk + 5), (2, wk + 9)], "user_id long, sequence long")
        b2.coalesce(1).write.mode("append").parquet(src)
        time.sleep(0.05)
        b3 = spark.createDataFrame(
            [(1, 2 * wk + 1), (2, wk + 10)],
            "user_id long, sequence long")
        b3.coalesce(1).write.mode("append").parquet(src)

        stream = (spark.readStream.schema(b1.schema)
                  .option("maxFilesPerTrigger", "1").parquet(src))
        out = retention_stream(stream, anchor=0)
        sink, ck = str(tmp_path / "sink"), str(tmp_path / "ck")
        q = (out.writeStream.format("parquet").option("path", sink)
             .option("checkpointLocation", ck)
             .trigger(availableNow=True).start())
        assert q.awaitTermination(120)
        from pyspark.sql import functions as SF

        got = {(r.cohort, r.week_offset): r.n for r in
               spark.read.parquet(sink).groupBy("cohort", "week_offset")
               .agg(SF.sum("delta").alias("n")).collect()}
        assert got == {(0, 0): 1, (0, 1): 1, (0, 2): 1, (1, 0): 1}
        # same rows through the batch operator (ts in ms since epoch)
        import datetime as dt

        rows = [(1, 0), (1, 1000), (1, wk + 5), (1, 2 * wk + 1),
                (2, wk + 9), (2, wk + 10)]
        bdf = spark.createDataFrame(
            [(u, dt.datetime.utcfromtimestamp(ms / 1000.0))
             for u, ms in rows], "user_id long, ts timestamp")
        want = {(r.cohort, r.offset): r.n_users
                for r in behavior.cohort_retention(bdf).collect()}
        assert got == want

    def test_cohort_rewrite_dropped_and_counted(self, spark, tmp_path):
        import time

        from incubator_pulsar_spark.streaming.behavior import (
            retention_stream,
        )

        wk = 7 * 86_400_000
        src = str(tmp_path / "src")
        b1 = spark.createDataFrame(
            [(1, 2 * wk)], "user_id long, sequence long")  # cohort wk2
        b1.coalesce(1).write.mode("append").parquet(src)
        time.sleep(0.05)
        b2 = spark.createDataFrame(
            [(1, 0), (1, 3 * wk)],  # week0 would REWRITE the cohort
            "user_id long, sequence long")
        b2.coalesce(1).write.mode("append").parquet(src)
        stream = (spark.readStream.schema(b1.schema)
                  .option("maxFilesPerTrigger", "1").parquet(src))
        out = retention_stream(stream, anchor=0)
        sink, ck = str(tmp_path / "sink"), str(tmp_path / "ck")
        q = (out.writeStream.format("parquet").option("path", sink)
             .option("checkpointLocation", ck)
             .trigger(availableNow=True).start())
        assert q.awaitTermination(120)
        rows = spark.read.parquet(sink).collect()
        assert sorted((r.cohort, r.week_offset) for r in rows) == \
            [(2, 0), (2, 1)]
        assert max(r.n_dropped_late for r in rows) == 1
