"""Round-12 tests: the four ADVICE r11 fixes (HLL NULL values,
winsorize/quantile NULL semantics, id-type-agnostic cosine_topk_gemm,
scratch-dir reclamation) plus the round's new work."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from incubator_pulsar_spark.functions import quantiles, similarity, sketches


class TestHLLNullValues:
    def test_null_values_are_not_counted(self, spark):
        """A NULL value must not register as a phantom distinct element
        (ADVICE r11: concat_ws drops NULLs, so pre-fix NULL hashed as
        md5('hll'))."""
        with_null = spark.createDataFrame(
            [(1,), (2,), (None,)], "v long")
        without = spark.createDataFrame([(1,), (2,)], "v long")
        got = {r.bucket: r.rho for r in
               sketches.hll_register_table(with_null, "v").collect()}
        want = {r.bucket: r.rho for r in
                sketches.hll_register_table(without, "v").collect()}
        assert got == want

    def test_all_null_values_empty_sketch(self, spark):
        df = spark.createDataFrame([(None,), (None,)], "v long")
        est = sketches.hll_distinct(df, "v").collect()
        # empty sketch: all 256 registers zero -> n_zero = 256
        assert len(est) == 1 and est[0].n_zero == 256

    def test_streaming_hll_matches_batch_under_nulls(self, spark, tmp_path):
        from incubator_pulsar_spark.streaming.sketches import (
            hll_distinct_stream,
        )

        rows = [("a", 1), ("a", 2), ("a", None), ("b", None), ("b", 7)]
        src = str(tmp_path / "src")
        spark.createDataFrame(rows, "grp string, v long") \
            .write.mode("overwrite").parquet(src)
        stream = spark.readStream.schema("grp string, v long").parquet(src)
        out = hll_distinct_stream(stream, ["grp"], "v")
        q = (out.writeStream.format("memory").queryName("hll_null_t")
             .outputMode("update")
             .option("checkpointLocation", str(tmp_path / "ck"))
             .trigger(availableNow=True).start())
        q.awaitTermination(120)
        got = {r.grp: r.est_micro
               for r in spark.sql(
                   "select * from hll_null_t").collect()}
        batch = {r.grp: r.est_micro for r in sketches.hll_distinct(
            spark.createDataFrame(rows, "grp string, v long"),
            "v", group_cols=["grp"]).collect()}
        assert got == batch
        # 'b' has exactly one non-null value; its estimate must match a
        # 1-element sketch, not a 2-element one
        one = sketches.hll_distinct(
            spark.createDataFrame([(7,)], "v long"), "v").collect()[0]
        assert got["b"] == one.est_micro


class TestQuantileNulls:
    def test_exact_quantiles_ignore_nulls(self, spark):
        """NULLs sort first under row_number — pre-fix they shifted
        every rank. SQL percentile semantics: skip them."""
        df = spark.createDataFrame(
            [("g", None), ("g", None), ("g", 1.0), ("g", 2.0), ("g", 3.0)],
            "grp string, v double")
        row = quantiles.exact_quantiles(
            df, ["grp"], "v", [(1, 2, "p50")]).collect()[0]
        assert row.n == 3 and row.p50 == 2.0

    def test_winsorize_null_passthrough(self, spark):
        vals = [float(i) for i in range(1, 101)]
        rows = [("g", v) for v in vals] + [("g", None)]
        df = spark.createDataFrame(rows, "grp string, v double")
        out = quantiles.winsorize(df, ["grp"], "v").collect()
        nulls = [r for r in out if r.v is None]
        assert len(nulls) == 1
        # NULL passes through: no fabricated _qlo, flag is false not NULL
        assert nulls[0].v_w is None and nulls[0]._clamped is False
        # non-null rows clamp as before (p1=1.0 -> nothing below; p99=99)
        hi = [r for r in out if r.v == 100.0][0]
        assert hi.v_w == 99.0 and hi._clamped is True

    def test_winsorize_all_null_group_survives(self, spark):
        df = spark.createDataFrame(
            [("g", 1.0), ("g", 2.0), ("h", None)], "grp string, v double")
        out = quantiles.winsorize(df, ["grp"], "v")
        h = [r for r in out.collect() if r.grp == "h"]
        assert len(h) == 1 and h[0].v_w is None and h[0]._clamped is False

    def test_mad_outliers_ignore_nulls(self, spark):
        df = spark.createDataFrame(
            [("g", 1.0), ("g", 1.0), ("g", 1.0), ("g", 100.0), ("g", None)],
            "grp string, v double")
        row = quantiles.mad_outliers(df, ["grp"], "v").collect()[0]
        assert row.n == 4  # non-null count
        assert row.median_value == 1.0 and row.n_outliers == 1


class TestGemmIdTypes:
    def test_string_ids_end_to_end(self, spark):
        """ADVICE r11: gemm hardcoded long ids; every other ranker is
        id-type-agnostic. String / UUID-ish ids must work and rank
        identically to cosine_topk."""
        import random

        rng = random.Random(7)
        emb = spark.createDataFrame(
            [(f"doc-{i:03d}", [rng.uniform(-1, 1) for _ in range(8)])
             for i in range(60)],
            "vec_id string, embedding array<double>")
        qs = spark.createDataFrame(
            [(f"q-{j}", [rng.uniform(-1, 1) for _ in range(8)])
             for j in range(3)],
            "query_id string, query_vec array<double>")
        got = similarity.cosine_topk_gemm(emb, qs, k=5)
        assert dict(got.dtypes)["query_id"] == "string"
        assert dict(got.dtypes)["vec_id"] == "string"
        want = similarity.cosine_topk(emb, qs, k=5)
        g = sorted(map(tuple, got.select(
            "query_id", "vec_id", "rank").collect()))
        w = sorted(map(tuple, want.select(
            "query_id", "vec_id", "rank").collect()))
        assert g == w

    def test_long_ids_unchanged(self, spark):
        import random

        rng = random.Random(11)
        emb = spark.createDataFrame(
            [(i, [rng.uniform(-1, 1) for _ in range(8)])
             for i in range(40)],
            "vec_id long, embedding array<double>")
        qs = spark.createDataFrame(
            [(j, [rng.uniform(-1, 1) for _ in range(8)])
             for j in range(2)],
            "query_id long, query_vec array<double>")
        got = similarity.cosine_topk_gemm(emb, qs, k=4)
        assert dict(got.dtypes)["vec_id"] == "bigint"
        want = similarity.cosine_topk(emb, qs, k=4)
        assert sorted(map(tuple,
                          got.select("query_id", "vec_id", "rank")
                          .collect())) == \
            sorted(map(tuple,
                       want.select("query_id", "vec_id", "rank").collect()))

    def test_empty_query_set_schema(self, spark):
        emb = spark.createDataFrame(
            [("a", [1.0, 0.0])], "vec_id string, embedding array<double>")
        qs = spark.createDataFrame(
            [], "query_id string, query_vec array<double>")
        out = similarity.cosine_topk_gemm(emb, qs, k=3)
        assert out.count() == 0
        assert dict(out.dtypes)["query_id"] == "string"


class TestScratchReclaim:
    def test_dead_pid_scratch_swept(self, tmp_path):
        from incubator_pulsar_spark.plans import queries as Q

        # fabricate a scratch dir owned by a PID that cannot exist
        stale = "/tmp/ipq_testtag_sfX_999999999"
        os.makedirs(stale, exist_ok=True)
        live = Q._scratch("mytag", "/root/testdata/sf0.001")
        assert not os.path.exists(stale), "dead-PID dir must be swept"
        assert live.endswith(str(os.getpid()))
        assert live in Q._SCRATCH_DIRS

    def test_own_dirs_registered_for_atexit(self):
        from incubator_pulsar_spark.plans import queries as Q

        d = Q._scratch("another", "/root/testdata/sf0.001")
        os.makedirs(d, exist_ok=True)
        Q._cleanup_own_scratch()
        assert not os.path.exists(d)


class TestDegreeOrderedTriangles:
    """VERDICT r11 #4: orient wedges low-degree -> high-degree so a hub
    node cannot explode the wedge stage."""

    @staticmethod
    def _hub_graph(spark, half=30, hub=100):
        # one hub with a MID-RANGE id (the value-ordered worst case:
        # the hub sits at the wedge CENTER y in x<y<z) — half the
        # spokes below the hub id, half above; spokes chained pairwise
        # so real triangles exist: (i, i+1, hub) per chain edge
        lo = list(range(1, half + 1))
        hi = list(range(hub + 101, hub + 101 + half))
        rows = [(i, hub) for i in lo] + [(hub, j) for j in hi]
        rows += [(a, b) for a, b in zip(lo, lo[1:])]
        rows += [(a, b) for a, b in zip(hi, hi[1:])]
        return spark.createDataFrame(rows, "src long, dst long")

    def test_hub_wedge_stream_is_linear_not_quadratic(self, spark):
        from incubator_pulsar_spark.functions import graph
        from pyspark.sql import functions as F

        edges = self._hub_graph(spark, half=30)  # hub degree 60
        und = (edges.select(F.least("src", "dst").alias("u"),
                            F.greatest("src", "dst").alias("v"))
               .distinct())
        n_wedges = graph.oriented_wedges(und).count()
        # value-ordered build centers the hub: 30 lower x 30 upper =
        # 900+ wedges through the hub alone. degree-ordered: every
        # spoke has degree <= 3 (hub edge + <=2 chain edges), so each
        # contributes <= C(3,2) = 3 wedges and the hub contributes 0
        naive = (und.alias("a").join(und.alias("b"),
                                     F.col("a.v") == F.col("b.u"))
                 .count())
        assert naive >= 900
        assert n_wedges <= 3 * 61, \
            f"wedge stream not skew-bounded: {n_wedges}"

    def test_hub_graph_counts_match_brute_force(self, spark):
        import itertools

        from incubator_pulsar_spark.functions import graph

        edges = self._hub_graph(spark, half=12)
        es = {tuple(sorted((r.src, r.dst))) for r in edges.collect()}
        nodes = sorted({n for e in es for n in e})
        want = {n: 0 for n in nodes}
        for a, b, c in itertools.combinations(nodes, 3):
            if ((a, b) in es and (b, c) in es and (a, c) in es):
                want[a] += 1
                want[b] += 1
                want[c] += 1
        got = {r.node: r.n_triangles
               for r in graph.triangle_count(edges).collect()}
        assert got == want

    def test_degree_ties_still_exact(self, spark):
        # K4: all degrees equal -> ordering falls back to ids; every
        # node is in C(3,2)=3 triangles
        from incubator_pulsar_spark.functions import graph

        rows = [(a, b) for a in range(4) for b in range(4) if a < b]
        df = spark.createDataFrame(rows, "src long, dst long")
        got = {r.node: r.n_triangles
               for r in graph.triangle_count(df).collect()}
        assert got == {0: 3, 1: 3, 2: 3, 3: 3}


class TestHeartbeatSource:
    """Offset-cadenced liveness ticker (streaming/heartbeat.py): the
    idle-batch-cadence knob for delayed delivery (VERDICT r11 #6)."""

    def test_offset_math_advances_once_per_interval(self):
        from incubator_pulsar_spark.streaming.heartbeat import (
            HeartbeatStreamReader,
        )

        r = HeartbeatStreamReader(5.0)
        start = {"anchor_ms": 1000, "n": 0}
        # 4.9s elapsed: no advance -> same offset object, no batch
        assert r._advance(start, 1000 + 4900) == start
        # 5.0s: one tick
        assert r._advance(start, 1000 + 5000) == {"anchor_ms": 1000, "n": 1}
        # 17s: catches up to 3 ticks in one go
        assert r._advance(start, 1000 + 17000) == {"anchor_ms": 1000, "n": 3}

    def test_replay_rows_are_pure_functions_of_offsets(self):
        from incubator_pulsar_spark.streaming.heartbeat import (
            HeartbeatStreamReader,
        )

        r = HeartbeatStreamReader(2.0)
        a = {"anchor_ms": 0, "n": 1}
        b = {"anchor_ms": 0, "n": 4}
        first = list(r.readBetweenOffsets(a, b))
        second = list(r.readBetweenOffsets(a, b))
        assert first == second == [(2, 4000), (3, 6000), (4, 8000)]

    def test_e2e_cadence(self, spark, tmp_path):
        import time

        from incubator_pulsar_spark.streaming.heartbeat import (
            heartbeat_stream,
        )

        hb = heartbeat_stream(spark, interval_s=2.0)
        q = (hb.writeStream.format("memory").queryName("hb_r12")
             .outputMode("append")
             .option("checkpointLocation", str(tmp_path / "ck"))
             .start())
        time.sleep(9)
        q.stop()
        q.awaitTermination(60)
        ticks = [r.tick for r in
                 spark.sql("select * from hb_r12 order by tick").collect()]
        assert len(ticks) >= 2, f"no ticks emitted: {ticks}"
        assert ticks == list(range(1, len(ticks) + 1))  # gapless


class TestDelayedCheckpointMigration:
    """VERDICT r11 #5: a pre-keepalive checkpoint (1 source) must not
    strand a naive restart — auto-detect or fail with the fix."""

    @staticmethod
    def _due_rows(spark, path):
        import datetime as dt

        from pyspark.sql import Row

        now = dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)
        rows = [
            Row(key="k", sequence=1,
                deliver_at=now - dt.timedelta(seconds=5)),
            Row(key="k", sequence=2, deliver_at=now + dt.timedelta(hours=2)),
        ]
        spark.createDataFrame(rows).write.mode("overwrite").parquet(path)

    @staticmethod
    def _run(spark, out, name, ck):
        q = (out.writeStream.queryName(name).format("memory")
             .outputMode("append").option("checkpointLocation", ck)
             .trigger(availableNow=True).start())
        q.awaitTermination(120)
        return q

    @staticmethod
    def _run_parquet(out, path, ck):
        # parquet sink: the only common sink that supports RESTARTING
        # from a checkpoint (memory sink raises "does not support
        # recovering from checkpoint location")
        q = (out.writeStream.format("parquet").option("path", path)
             .option("checkpointLocation", ck)
             .trigger(availableNow=True).start())
        q.awaitTermination(120)
        return q

    def _prefix_checkpoint(self, spark, tmp_path):
        """Build a checkpoint shaped like a pre-keepalive (r10) stream:
        exactly one source in the offsets log."""
        from incubator_pulsar_spark.streaming import delay as sdelay

        path = str(tmp_path / "t")
        self._due_rows(spark, path)
        ck = str(tmp_path / "ck1src")
        schema = spark.read.parquet(path).schema
        stream = spark.readStream.schema(schema).parquet(path)
        out = sdelay.delayed_delivery_stream(stream, keepalive=False)
        self._run_parquet(out, str(tmp_path / "rel1src"), ck)
        return path, ck

    def test_source_count_reads_the_offsets_log(self, spark, tmp_path):
        from incubator_pulsar_spark.streaming import delay as sdelay

        path, ck = self._prefix_checkpoint(spark, tmp_path)
        assert sdelay.checkpoint_source_count(ck) == 1
        assert sdelay.checkpoint_source_count(str(tmp_path / "nope")) is None

    def test_auto_detect_restarts_one_source_with_warning(
            self, spark, tmp_path):
        from incubator_pulsar_spark.streaming import delay as sdelay

        path, ck = self._prefix_checkpoint(spark, tmp_path)
        schema = spark.read.parquet(path).schema
        stream = spark.readStream.schema(schema).parquet(path)
        with pytest.warns(UserWarning, match="predates the keepalive"):
            out = sdelay.delayed_delivery_stream(
                stream, checkpoint_location=ck)
        # the restart must actually run (pre-fix: Spark source-count
        # assertion error); availableNow replays nothing new -> clean
        q = self._run_parquet(out, str(tmp_path / "rel1src"), ck)
        assert q.exception() is None

    def test_explicit_mismatch_raises_with_instruction(
            self, spark, tmp_path):
        from incubator_pulsar_spark.streaming import delay as sdelay

        path, ck = self._prefix_checkpoint(spark, tmp_path)
        schema = spark.read.parquet(path).schema
        stream = spark.readStream.schema(schema).parquet(path)
        with pytest.raises(ValueError, match="keepalive=False"):
            sdelay.delayed_delivery_stream(
                stream, keepalive=True, checkpoint_location=ck)

    def test_two_source_checkpoint_rejects_keepalive_off(
            self, spark, tmp_path):
        from incubator_pulsar_spark.streaming import delay as sdelay

        path = str(tmp_path / "t2")
        self._due_rows(spark, path)
        ck = str(tmp_path / "ck2src")
        schema = spark.read.parquet(path).schema
        stream = spark.readStream.schema(schema).parquet(path)
        out = sdelay.delayed_delivery_stream(stream)  # keepalive on
        self._run_parquet(out, str(tmp_path / "rel2src"), ck)
        assert sdelay.checkpoint_source_count(ck) == 2
        stream2 = spark.readStream.schema(schema).parquet(path)
        with pytest.raises(ValueError, match="keepalive=True"):
            sdelay.delayed_delivery_stream(
                stream2, keepalive=False, checkpoint_location=ck)
        # and auto mode silently picks keepalive=True (no warning)
        out3 = sdelay.delayed_delivery_stream(
            stream2, checkpoint_location=ck)
        q = self._run_parquet(out3, str(tmp_path / "rel2src"), ck)
        assert q.exception() is None

    def test_heartbeat_keepalive_releases_due_rows(self, spark, tmp_path):
        from incubator_pulsar_spark.streaming import delay as sdelay

        path = str(tmp_path / "t3")
        self._due_rows(spark, path)
        schema = spark.read.parquet(path).schema
        stream = spark.readStream.schema(schema).parquet(path)
        out = sdelay.delayed_delivery_stream(stream, keepalive_interval=2.0)
        q = self._run(spark, out, "dd_hb", str(tmp_path / "ckhb"))
        assert q.exception() is None
        rel = sorted(r.sequence
                     for r in spark.sql("select * from dd_hb").collect())
        assert rel == [1]  # seq 2 withheld


class TestSemdedupVerdicts:
    """semantic_dedup's single kernel (the fold pair join) on a
    hand-built cell: exact duplicates must point at the SMALLEST id."""

    def test_exact_duplicates_point_at_smallest_id(self, spark):
        rows = [
            (1, [1.0, 0.0]), (2, [1.0, 0.0]), (3, [1.0, 0.0]),
            (4, [0.0, 1.0]),
        ]
        emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        out = {r.vec_id: (r.is_kept, r.dup_of)
               for r in similarity.semantic_dedup(
                   emb, threshold=0.99, n_cells=2).collect()}
        assert out == {1: (1, -1), 2: (0, 1), 3: (0, 1), 4: (1, -1)}


class TestScd2History:
    def test_runs_and_versions(self, spark):
        from incubator_pulsar_spark.operators.compaction import scd2_history

        rows = [
            ("k", "a", 1), ("k", "a", 2), ("k", "b", 3), ("k", "a", 4),
            ("j", "x", 1),
        ]
        df = spark.createDataFrame(rows, "key string, value string, seq long")
        out = {(r.key, r.version): (r.value, r.valid_from, r.valid_to)
               for r in scd2_history(df, order_col="seq").collect()}
        # k: run a[1,3) v1, b[3,4) v2, a[4,None) v3 -- consecutive equal
        # values collapse, a RETURNING value starts a NEW run
        assert out[("k", 1)] == ("a", 1, 3)
        assert out[("k", 2)] == ("b", 3, 4)
        assert out[("k", 3)] == ("a", 4, None)
        assert out[("j", 1)] == ("x", 1, None)

    def test_null_values_are_runs(self, spark):
        from incubator_pulsar_spark.operators.compaction import scd2_history

        rows = [("k", "a", 1), ("k", None, 2), ("k", None, 3), ("k", "a", 4)]
        df = spark.createDataFrame(rows, "key string, value string, seq long")
        out = sorted((r.version, r.value, r.valid_from)
                     for r in scd2_history(df, order_col="seq").collect())
        # NULL-after-NULL is NOT a change (eqNullSafe); NULL run is v2
        assert out == [(1, "a", 1), (2, None, 2), (3, "a", 4)]

    def test_matches_compact_latest(self, spark, sf_dir):
        """The OPEN run per key (valid_to NULL) must carry the same
        value topic compaction keeps — SCD2 is compaction + history."""
        from incubator_pulsar_spark.operators.compaction import scd2_history

        ev = spark.read.parquet(f"{sf_dir}/events.parquet")
        hist = scd2_history(ev, key_col="user_id", value_col="event_type",
                            order_col="ts", tiebreak_col="event_id")
        open_runs = {r.user_id: r.event_type
                     for r in hist.filter(F.col("valid_to").isNull())
                     .collect()}
        from pyspark.sql import Window as W

        w = W.partitionBy("user_id").orderBy(F.col("ts").desc(),
                                             F.col("event_id").desc())
        latest = {r.user_id: r.event_type
                  for r in ev.withColumn("_rn", F.row_number().over(w))
                  .filter("_rn = 1").collect()}
        assert open_runs == latest
        # exactly one open run per key
        n_open = hist.filter(F.col("valid_to").isNull()) \
            .groupBy("user_id").count().filter("count > 1").count()
        assert n_open == 0


class TestKCore:
    def test_known_graph(self, spark):
        from incubator_pulsar_spark.functions import graph

        # K4 core (0-3) + a pendant path 4-5 hanging off node 0
        rows = [(a, b) for a in range(4) for b in range(4) if a < b]
        rows += [(0, 4), (4, 5)]
        df = spark.createDataFrame(rows, "src long, dst long")
        out = {r.node: r.in_kcore
               for r in graph.kcore(df, k=3, iters=6).collect()}
        assert out == {0: 1, 1: 1, 2: 1, 3: 1, 4: 0, 5: 0}

    def test_peeling_cascade(self, spark):
        from incubator_pulsar_spark.functions import graph

        # a chain has max degree 2: the ENTIRE graph peels away at k=2
        # only via the cascade (endpoints first, then inward)
        rows = [(i, i + 1) for i in range(6)]
        df = spark.createDataFrame(rows, "src long, dst long")
        out = {r.node: r.in_kcore
               for r in graph.kcore(df, k=2, iters=6).collect()}
        assert set(out.values()) == {0}
        # a cycle survives k=2 entirely (everyone keeps degree 2)
        rows = [(i, (i + 1) % 5) for i in range(5)]
        df = spark.createDataFrame(rows, "src long, dst long")
        out = {r.node: r.in_kcore
               for r in graph.kcore(df, k=2, iters=6).collect()}
        assert set(out.values()) == {1}


class TestHits:
    def test_hub_authority_split(self, spark):
        from incubator_pulsar_spark.functions import graph

        # star: 0 points at 1..4 -> 0 is the max hub (1e6), targets are
        # equal max authorities, no node is both
        rows = [(0, i) for i in range(1, 5)]
        df = spark.createDataFrame(rows, "src long, dst long")
        out = {r.node: (r.hub_micro, r.auth_micro)
               for r in graph.hits(df, iters=3).collect()}
        assert out[0] == (1_000_000, 0)
        for i in range(1, 5):
            assert out[i] == (0, 1_000_000)

    def test_broadcast_knob_is_identical(self, spark, sf_dir):
        from incubator_pulsar_spark.functions import graph

        ev = spark.read.parquet(f"{sf_dir}/events.parquet")
        edges = ev.select((F.col("user_id") % 7).alias("src"),
                          (F.col("event_id") % 7).alias("dst"))
        a = sorted(map(tuple, graph.hits(edges, iters=3).collect()))
        b = sorted(map(tuple, graph.hits(edges, iters=3,
                                         broadcast_scores=True).collect()))
        assert a == b


class TestSpearman:
    def test_perfect_monotone(self, spark):
        from incubator_pulsar_spark.functions.quantiles import spearman

        rows = [("g", float(i), float(i * 2), i) for i in range(10)]
        df = spark.createDataFrame(rows, "grp string, x double, y double, id long")
        r = spearman(df, ["grp"], "x", "y", tiebreak_col="id").collect()[0]
        assert r.rho == 1.0 and r.sum_d2 == 0

    def test_perfect_antimonotone_and_nulls(self, spark):
        from incubator_pulsar_spark.functions.quantiles import spearman

        rows = [("g", float(i), float(-i), i) for i in range(8)]
        rows += [("g", None, 1.0, 99), ("h", 1.0, 1.0, 1)]
        df = spark.createDataFrame(rows, "grp string, x double, y double, id long")
        out = {r.grp: r for r in
               spearman(df, ["grp"], "x", "y", tiebreak_col="id").collect()}
        assert out["g"].rho == -1.0 and out["g"].n == 8  # null row dropped
        assert out["h"].rho is None  # single-row degeneracy

    def test_matches_scipy_formula(self, spark):
        from incubator_pulsar_spark.functions.quantiles import spearman
        import random

        rng = random.Random(5)
        vals = [(("g",) + (rng.random(), rng.random(), i))
                for i in range(50)]
        df = spark.createDataFrame(vals, "grp string, x double, y double, id long")
        r = spearman(df, ["grp"], "x", "y", tiebreak_col="id").collect()[0]
        xs = sorted(range(50), key=lambda i: vals[i][1])
        ys = sorted(range(50), key=lambda i: vals[i][2])
        rx = {i: k + 1 for k, i in enumerate(xs)}
        ry = {i: k + 1 for k, i in enumerate(ys)}
        d2 = sum((rx[i] - ry[i]) ** 2 for i in range(50))
        want = round(1 - 6 * d2 / (50 * (50 * 50 - 1)), 6)
        assert r.sum_d2 == d2 and r.rho == want


class TestNtileHistogram:
    def test_bucket_sizes_and_bounds(self, spark):
        from incubator_pulsar_spark.functions.quantiles import ntile_histogram

        rows = [("g", float(i), i) for i in range(23)]
        df = spark.createDataFrame(rows, "grp string, v double, id long")
        out = {r.bucket: (r.n_rows, r.lo, r.hi)
               for r in ntile_histogram(df, ["grp"], "v", buckets=10,
                                        tiebreak_col="id").collect()}
        # 23 rows / 10 buckets: first 3 buckets 3 rows, rest 2 (ANSI)
        assert [out[b][0] for b in range(1, 11)] == [3, 3, 3] + [2] * 7
        assert out[1] == (3, 0.0, 2.0)
        assert out[10] == (2, 21.0, 22.0)
        # bucket ranges tile the domain in order
        for b in range(1, 10):
            assert out[b][2] <= out[b + 1][1]
