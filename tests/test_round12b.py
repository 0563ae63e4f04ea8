"""Round-12 second batch: OLS trend, PSI drift, connected-components
gate, streaming SCD2, bucketed co-located join."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F


class TestOlsTrend:
    def test_known_slope(self, spark):
        from incubator_pulsar_spark.functions.quantiles import ols_trend
        import datetime as dt

        t0 = dt.datetime(2024, 1, 1)
        # y = 2*t_seconds + 5 exactly -> slope 2 units/s = 2e6 micro/s
        rows = [("g", t0 + dt.timedelta(seconds=i), 2.0 * i + 5.0)
                for i in range(20)]
        df = spark.createDataFrame(rows, "grp string, ts timestamp, v double")
        r = ols_trend(df, ["grp"], "ts", "v").collect()[0]
        assert r.n == 20
        assert r.slope_micro_per_s == 2_000_000.0
        assert r.intercept_micro == 5_000_000.0

    def test_degenerate_single_instant(self, spark):
        from incubator_pulsar_spark.functions.quantiles import ols_trend
        import datetime as dt

        t0 = dt.datetime(2024, 1, 1)
        df = spark.createDataFrame([("g", t0, 1.0), ("g", t0, 3.0)],
                                   "grp string, ts timestamp, v double")
        r = ols_trend(df, ["grp"], "ts", "v").collect()[0]
        assert r.slope_micro_per_s is None and r.intercept_micro is None

    def test_long_span_no_overflow(self, spark):
        from incubator_pulsar_spark.functions.quantiles import ols_trend
        import datetime as dt

        # 10 years of daily points — the magnitude that overflowed the
        # microsecond formulation at sf0.01
        t0 = dt.datetime(2015, 1, 1)
        rows = [("g", t0 + dt.timedelta(days=i), float(i % 97))
                for i in range(3650)]
        df = spark.createDataFrame(rows, "grp string, ts timestamp, v double")
        r = ols_trend(df, ["grp"], "ts", "v").collect()[0]
        assert r.n == 3650 and r.slope_micro_per_s is not None


class TestPsiDrift:
    def test_no_drift_is_near_zero(self, spark):
        from incubator_pulsar_spark.functions.quantiles import psi_drift
        import datetime as dt

        t0 = dt.datetime(2024, 1, 1)
        # identical value distribution in both halves
        rows = [("g", t0 + dt.timedelta(hours=h), float(h % 50))
                for h in range(1000)]
        df = spark.createDataFrame(rows, "grp string, ts timestamp, v double")
        r = psi_drift(df, ["grp"], "v", "ts").collect()[0]
        assert abs(r.psi) < 0.01

    def test_shifted_distribution_flags(self, spark):
        from incubator_pulsar_spark.functions.quantiles import psi_drift
        import datetime as dt

        t0 = dt.datetime(2024, 1, 1)
        rows = [("g", t0 + dt.timedelta(hours=h), float(h % 50))
                for h in range(500)]
        rows += [("g", t0 + dt.timedelta(hours=500 + h),
                  float(h % 50) + 40.0) for h in range(500)]
        df = spark.createDataFrame(rows, "grp string, ts timestamp, v double")
        r = psi_drift(df, ["grp"], "v", "ts").collect()[0]
        assert r.psi > 0.25, f"drifted distribution must flag: {r.psi}"


class TestStreamingScd2:
    def test_stream_matches_batch(self, spark, tmp_path):
        """availableNow stream over the events fixture == batch
        scd2_history (same key/value/order) — the parity gate."""
        from incubator_pulsar_spark.operators.compaction import scd2_history
        from incubator_pulsar_spark.streaming.scd2 import scd2_stream

        ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet") \
            .select(F.col("user_id").cast("string").alias("key"),
                    F.col("event_type").alias("value"),
                    F.unix_micros(F.col("ts").cast("timestamp"))
                    .alias("sequence"))
        src = str(tmp_path / "src")
        ev.write.parquet(src)
        stream = spark.readStream.schema(ev.schema).parquet(src)
        out = scd2_stream(stream)
        q = (out.writeStream.format("memory").queryName("scd2_par")
             .outputMode("append")
             .option("checkpointLocation", str(tmp_path / "ck"))
             .trigger(availableNow=True).start())
        assert q.awaitTermination(120)
        got = sorted(map(tuple, spark.sql(
            "select key, value, valid_from, valid_to, version "
            "from scd2_par").collect()))
        want = sorted(map(tuple, scd2_history(
            ev, order_col="sequence").collect()))
        assert got == want

    def test_multi_batch_closes_runs(self, spark, tmp_path):
        from incubator_pulsar_spark.streaming.scd2 import scd2_stream

        src = str(tmp_path / "src")
        ck = str(tmp_path / "ck")
        b1 = spark.createDataFrame(
            [("k", "a", 1), ("k", "a", 2)],
            "key string, value string, sequence long")
        b1.write.parquet(src)
        stream = spark.readStream.schema(b1.schema).parquet(src)
        out = scd2_stream(stream)

        rel = str(tmp_path / "rel")

        def drain():
            # parquet sink: memory sink cannot RESTART from a
            # checkpoint; the sink log keeps every update row, so take
            # the LAST emission per (key, version)
            q = (out.writeStream.format("parquet").option("path", rel)
                 .option("checkpointLocation", ck)
                 .trigger(availableNow=True).start())
            assert q.awaitTermination(120)
            rows = spark.read.parquet(rel).collect()
            best = {}
            for r in rows:
                cur = best.get((r.key, r.version))
                # an open run (valid_to NULL) is superseded by its close
                if cur is None or cur[2] is None:
                    best[(r.key, r.version)] = (r.value, r.valid_from,
                                                r.valid_to)
            return best

        got1 = drain()
        assert got1 == {("k", 1): ("a", 1, None)}
        # batch 2 changes the value: run 1 closes at 3, run 2 opens
        spark.createDataFrame([("k", "b", 3)], b1.schema) \
            .write.mode("append").parquet(src)
        got2 = drain()
        assert got2[("k", 1)] == ("a", 1, 3)
        assert got2[("k", 2)] == ("b", 3, None)


class TestBucketedJoin:
    def test_join_has_no_key_exchange(self, spark, tmp_path):
        import re

        from incubator_pulsar_spark.operators.bucketing import (
            bucketed_join,
            write_bucketed,
        )

        sf = "/root/testdata/sf0.001"
        o = spark.read.parquet(f"{sf}/orders.parquet")
        li = spark.read.parquet(f"{sf}/lineitem.parquet") \
            .withColumnRenamed("l_orderkey", "o_orderkey")
        pid = os.getpid()
        write_bucketed(o, f"t_bo_{pid}", bucket_col="o_orderkey",
                       n_buckets=4, path=str(tmp_path / "bo"))
        write_bucketed(li, f"t_bl_{pid}", bucket_col="o_orderkey",
                       n_buckets=4, path=str(tmp_path / "bl"))
        j = bucketed_join(spark, f"t_bo_{pid}", f"t_bl_{pid}",
                          "o_orderkey")
        agg = j.groupBy("o_orderpriority").count()
        plan = agg._jdf.queryExecution().executedPlan().toString()
        # the whole point: NO shuffle on the join key — co-located reads
        assert not re.search(r"Exchange hashpartitioning\(o_orderkey", plan)
        # and the result matches the plain (shuffled) join
        plain = (spark.read.parquet(f"{sf}/orders.parquet")
                 .join(spark.read.parquet(f"{sf}/lineitem.parquet"),
                       F.col("o_orderkey") == F.col("l_orderkey"))
                 .groupBy("o_orderpriority").count())
        assert sorted(map(tuple, agg.collect())) == \
            sorted(map(tuple, plain.collect()))
