"""Round-13 session-2 additions: the streaming TWAP / entropy twins
(ROADMAP candidate #4 — the last-observation-carry delta fold and the
count-map replace-emit patterns)."""

from __future__ import annotations

import time

import pytest

from pyspark.sql import functions as F


def _run_available_now(out, tmp_path, tag):
    sink, ck = str(tmp_path / f"{tag}_sink"), str(tmp_path / f"{tag}_ck")
    q = (out.writeStream.format("parquet").option("path", sink)
         .option("checkpointLocation", ck)
         .trigger(availableNow=True).start())
    assert q.awaitTermination(120)
    return sink


class TestTwapStream:
    """Last-observation-carry interval deltas: batch==stream parity
    with the carried observation CLOSING across a batch boundary, and
    the dropped-late counter."""

    def test_stream_matches_batch_across_batches(self, spark, tmp_path):
        import datetime as dt

        from incubator_pulsar_spark.functions import behavior
        from incubator_pulsar_spark.streaming.behavior import twap_stream

        src = str(tmp_path / "src")
        # key a's observation at ms=2000 (v=3.0) closes in batch 2 —
        # the cross-batch interval is the parity point
        b1 = spark.createDataFrame(
            [("a", 1000, 20000), ("a", 2000, 30000), ("b", 500, 10000)],
            "event_type string, sequence long, v4 long")
        b1.coalesce(1).write.mode("append").parquet(src)
        time.sleep(0.05)
        b2 = spark.createDataFrame(
            [("a", 4000, 50000), ("b", 1500, 70000)],
            "event_type string, sequence long, v4 long")
        b2.coalesce(1).write.mode("append").parquet(src)
        stream = (spark.readStream.schema(b1.schema)
                  .option("maxFilesPerTrigger", "1").parquet(src))
        sink = _run_available_now(twap_stream(stream), tmp_path, "twap")
        got = {r.key: (r.n, r.dur, round(r.twap, 6)) for r in
               (spark.read.parquet(sink).groupBy("key")
                .agg(F.sum("n_delta").alias("n"),
                     F.sum("dur_delta").alias("dur"),
                     (F.sum("wsum_delta").cast("double")
                      / F.sum("dur_delta").cast("double")).alias("twap"))
                .collect())}

        t0 = dt.datetime(2024, 1, 1)
        bdf = spark.createDataFrame(
            [(k, t0 + dt.timedelta(milliseconds=ms), v4 / 10000)
             for k, ms, v4 in [("a", 1000, 20000), ("a", 2000, 30000),
                               ("a", 4000, 50000), ("b", 500, 10000),
                               ("b", 1500, 70000)]],
            "event_type string, ts timestamp, value double")
        want = {r.event_type: (r.n_intervals, r.total_ms, r.twap)
                for r in behavior.twap(bdf, ["event_type"]).collect()}
        assert got == want
        # the straddling interval: a@2000 (v=3.0) closed by a@4000
        assert got["a"] == (2, 3000, round((2.0 * 1000 + 3.0 * 2000)
                                           / 3000, 6))

    def test_late_rows_dropped_and_counted(self, spark, tmp_path):
        from incubator_pulsar_spark.streaming.behavior import twap_stream

        src = str(tmp_path / "src")
        b1 = spark.createDataFrame(
            [("a", 1000, 10000), ("a", 2000, 20000)],
            "event_type string, sequence long, v4 long")
        b1.coalesce(1).write.mode("append").parquet(src)
        time.sleep(0.05)
        b2 = spark.createDataFrame(
            [("a", 1500, 99999)],  # older than the held observation
            "event_type string, sequence long, v4 long")
        b2.coalesce(1).write.mode("append").parquet(src)
        stream = (spark.readStream.schema(b1.schema)
                  .option("maxFilesPerTrigger", "1").parquet(src))
        sink = _run_available_now(twap_stream(stream), tmp_path, "late")
        rows = spark.read.parquet(sink).collect()
        # the late row contributed NO interval (weight would be wrong)
        assert sum(r.n_delta for r in rows) == 1
        assert max(r.n_dropped_late for r in rows) == 1
        # …and the drop is observable even though batch 2 closed nothing
        marker = [r for r in rows if r.n_delta == 0]
        assert marker and marker[0].n_dropped_late == 1

    def test_zero_duration_interval_matches_batch_tie(self, spark,
                                                      tmp_path):
        """Equal order values chain as a 0-duration interval (the batch
        lead() semantics), not as late rows."""
        from incubator_pulsar_spark.streaming.behavior import twap_stream

        src = str(tmp_path / "src")
        b1 = spark.createDataFrame(
            [("a", 1000, 10000), ("a", 1000, 10000), ("a", 2000, 30000)],
            "event_type string, sequence long, v4 long")
        b1.coalesce(1).write.mode("append").parquet(src)
        stream = (spark.readStream.schema(b1.schema)
                  .option("maxFilesPerTrigger", "1").parquet(src))
        sink = _run_available_now(twap_stream(stream), tmp_path, "tie")
        rows = spark.read.parquet(sink).collect()
        assert sum(r.n_delta for r in rows) == 2       # 0-dur + 1000ms
        assert sum(r.dur_delta for r in rows) == 1000
        assert max(r.n_dropped_late for r in rows) == 0


class TestEntropyStream:
    """Count-map replace emissions: latest-version-per-key equals the
    batch distribution; versions are monotone per key."""

    def test_latest_version_matches_batch(self, spark, tmp_path):
        from incubator_pulsar_spark.functions import behavior
        from incubator_pulsar_spark.functions.behavior import (
            entropy_from_counts,
        )
        from incubator_pulsar_spark.streaming.behavior import entropy_stream

        src = str(tmp_path / "src")
        b1 = spark.createDataFrame(
            [(1, "x"), (1, "y"), (2, "x")],
            "user_id long, event_type string")
        b1.coalesce(1).write.mode("append").parquet(src)
        time.sleep(0.05)
        b2 = spark.createDataFrame(
            [(1, "x"), (2, "x"), (3, "z")],
            "user_id long, event_type string")
        b2.coalesce(1).write.mode("append").parquet(src)
        stream = (spark.readStream.schema(b1.schema)
                  .option("maxFilesPerTrigger", "1").parquet(src))
        sink = _run_available_now(entropy_stream(stream), tmp_path, "ent")
        latest = (spark.read.parquet(sink).groupBy("key")
                  .agg(F.max_by(F.struct("states", "counts"), "version")
                       .alias("m")))
        per = (latest.select(
            F.col("key").cast("long").alias("key"),
            F.explode(F.arrays_zip(F.col("m.states").alias("s"),
                                   F.col("m.counts").alias("c")))
            .alias("z"))
            .select("key", F.col("z.c").alias("_c")))
        got = {r.key: (r.n_events, r.n_states, r.entropy)
               for r in entropy_from_counts(per).collect()}
        want = {r.key: (r.n_events, r.n_states, r.entropy)
                for r in behavior.state_entropy(b1.unionAll(b2)).collect()}
        assert got == want

    def test_replace_emits_are_versioned_and_cumulative(self, spark,
                                                        tmp_path):
        from incubator_pulsar_spark.streaming.behavior import entropy_stream

        src = str(tmp_path / "src")
        for batch in ([(1, "x")], [(1, "x"), (1, "y")], [(2, "q")]):
            spark.createDataFrame(
                batch, "user_id long, event_type string"
            ).coalesce(1).write.mode("append").parquet(src)
            time.sleep(0.05)
        stream = (spark.readStream
                  .schema("user_id long, event_type string")
                  .option("maxFilesPerTrigger", "1").parquet(src))
        sink = _run_available_now(entropy_stream(stream), tmp_path, "ver")
        rows = sorted(((r.key, r.version, list(r.states), list(r.counts))
                       for r in spark.read.parquet(sink).collect()))
        # key 1: v1 after batch 1, v2 after batch 2 (cumulative map);
        # key 2 only appears in batch 3 → single v1 emission
        assert rows == [("1", 1, ["x"], [1]),
                        ("1", 2, ["x", "y"], [2, 1]),
                        ("2", 1, ["q"], [1])]


class TestAssociationRules:
    def test_metrics_exact_on_hand_basket(self, spark):
        from incubator_pulsar_spark.functions.baskets import (
            association_rules,
        )

        rows = [(1, "x"), (1, "y"), (1, "x"),   # dup x collapses
                (2, "x"), (2, "y"),
                (3, "x"), (4, "z")]
        df = spark.createDataFrame(rows, "basket long, item string")
        got = {(r.item_a, r.item_b): r for r in association_rules(
            df, basket_col="basket", item_col="item").collect()}
        assert set(got) == {("x", "y")}
        r = got[("x", "y")]
        # n_x=3, n_y=2, n_xy=2, N=4
        assert (r.n_a, r.n_b, r.n_ab, r.n_baskets) == (3, 2, 2, 4)
        assert r.support_micro == 2 * 1_000_000 // 4
        assert r.conf_ab_micro == 2 * 1_000_000 // 3
        assert r.conf_ba_micro == 2 * 1_000_000 // 2
        assert r.lift_micro == 2 * 4 * 1_000_000 // (3 * 2)

    def test_min_pair_count_filters(self, spark):
        from incubator_pulsar_spark.functions.baskets import (
            association_rules,
        )

        rows = [(1, "a"), (1, "b"), (2, "a"), (2, "b"), (3, "a"),
                (3, "c")]
        df = spark.createDataFrame(rows, "basket long, item string")
        got = association_rules(df, basket_col="basket",
                                item_col="item",
                                min_pair_count=2).collect()
        assert {(r.item_a, r.item_b) for r in got} == {("a", "b")}

    def test_mega_basket_guard_raises(self, spark):
        from incubator_pulsar_spark.functions.baskets import (
            association_rules,
        )

        rows = [(1, f"i{j}") for j in range(5)] + [(2, "i0"), (2, "i1")]
        df = spark.createDataFrame(rows, "basket long, item string")
        with pytest.raises(Exception, match="max_basket_size"):
            association_rules(df, basket_col="basket", item_col="item",
                              max_basket_size=3).collect()


class TestLinkPrediction:
    def test_scores_on_hand_graph(self, spark):
        from decimal import Decimal

        from incubator_pulsar_spark.functions import graph

        # path a-w-b plus w-c: non-adjacent pairs through w
        edges = spark.createDataFrame(
            [("w", "a"), ("w", "b"), ("w", "c"), ("a", "b")],
            "src string, dst string")
        got = {(r.node_a, r.node_b): r
               for r in graph.link_prediction(edges).collect()}
        # (a,b) IS an edge -> excluded; (a,c) and (b,c) share only w
        assert set(got) == {("a", "c"), ("b", "c")}
        r = got[("a", "c")]
        assert r.common_neighbors == 1
        # deg a=2 (w,b), deg c=1 (w) -> jaccard = 1/(2+1-1)
        assert r.jaccard_micro == 1_000_000 // 2
        # deg w = 3 -> AA = half_up(1e18 / round(ln(3)*1e9)) / 1e9
        import math
        m9 = round(math.log(3) * 1e9)
        want = ((2 * 10**18 + m9) // (2 * m9)) / 1e9
        assert got[("a", "c")].adamic_adar == want

    def test_min_common_filters(self, spark):
        from incubator_pulsar_spark.functions import graph

        # a and b share two centers w1, w2; a and c share only w1
        edges = spark.createDataFrame(
            [("w1", "a"), ("w1", "b"), ("w1", "c"),
             ("w2", "a"), ("w2", "b")],
            "src string, dst string")
        got = {(r.node_a, r.node_b)
               for r in graph.link_prediction(
                   edges, min_common=2).collect()}
        assert ("a", "b") in got
        assert all(p == ("a", "b") or "w" in p[0] or "w" in p[1]
                   for p in got)


class TestAcf:
    def test_lag1_hand_series(self, spark):
        from incubator_pulsar_spark.functions import quantiles

        rows = [("g", i, float(v)) for i, v in enumerate([1, 2, 3, 4])]
        df = spark.createDataFrame(rows, "g string, t long, value double")
        got = {r.lag: r for r in quantiles.acf(
            df, ["g"], order_col="t", lags=(1,)).collect()}
        # y=[1,2,3,4]: r1 = 1.25/5 = 0.25
        assert got[1].n == 4 and got[1].n_pairs == 3
        assert got[1].acf == 0.25

    def test_alternating_series_negative_lag1_positive_lag2(self, spark):
        from incubator_pulsar_spark.functions import quantiles

        rows = [("g", i, float(1 if i % 2 == 0 else 2))
                for i in range(8)]
        df = spark.createDataFrame(rows, "g string, t long, value double")
        got = {r.lag: r.acf for r in quantiles.acf(
            df, ["g"], order_col="t", lags=(1, 2)).collect()}
        assert got[1] < 0 < got[2]

    def test_constant_series_null(self, spark):
        from incubator_pulsar_spark.functions import quantiles

        rows = [("g", i, 5.0) for i in range(4)]
        df = spark.createDataFrame(rows, "g string, t long, value double")
        got = quantiles.acf(df, ["g"], order_col="t",
                            lags=(1,)).collect()
        assert got[0].acf is None

    def test_tied_order_raises_without_tiebreak(self, spark):
        from incubator_pulsar_spark.functions import quantiles

        rows = [("g", 1, 1.0), ("g", 1, 2.0), ("g", 2, 3.0)]
        df = spark.createDataFrame(rows, "g string, t long, value double")
        with pytest.raises(Exception, match="tiebreak_col"):
            quantiles.acf(df, ["g"], order_col="t",
                          lags=(1,)).collect()


class TestConcentration:
    def test_gini_equal_and_extreme(self, spark):
        from incubator_pulsar_spark.functions import concentration

        rows = ([("eq", 1.0)] * 4
                + [("ex", 0.0)] * 3 + [("ex", 10.0)])
        df = spark.createDataFrame(rows, "g string, v double")
        got = {r.g: r.gini for r in concentration.gini(
            df, ["g"], "v").collect()}
        assert got["eq"] == 0.0
        assert got["ex"] == 0.75          # (n-1)/n with one holder

    def test_gini_tie_invariance_is_deterministic(self, spark):
        from incubator_pulsar_spark.functions import concentration

        rows = [("g", v) for v in (2.0, 2.0, 2.0, 6.0)]
        df = spark.createDataFrame(rows, "g string, v double")
        # ranks among the tied 2.0s are arbitrary; G is not
        vals = {concentration.gini(df.repartition(p), ["g"], "v")
                .collect()[0].gini for p in (1, 3, 7)}
        assert len(vals) == 1

    def test_hhi_monopoly_and_uniform(self, spark):
        from incubator_pulsar_spark.functions import concentration

        rows = ([("mono", "a", 5.0), ("mono", "a", 3.0)]
                + [("uni", e, 1.0) for e in "abcd"])
        df = spark.createDataFrame(rows, "g string, e string, v double")
        got = {r.g: (r.n_entities, r.hhi) for r in concentration.hhi(
            df, ["g"], "e", "v").collect()}
        assert got["mono"] == (1, 1.0)
        assert got["uni"] == (4, 0.25)


class TestBenford:
    def test_digit_counts_and_exclusions(self, spark):
        from incubator_pulsar_spark.functions.checks import benford_digits

        rows = [(v,) for v in
                (1.5, 12.0, 19.99, 0.5, 250.0, 2.0, None, 900.0)]
        df = spark.createDataFrame(rows, "v double")
        got = {r.digit: r for r in benford_digits(df, "v").collect()}
        assert len(got) == 9                       # full spine
        assert got[1].n == 3                       # 1.5, 12, 19.99
        assert got[2].n == 2                       # 250, 2  (0.5 out)
        assert got[9].n == 1 and got[3].n == 0
        n_total = sum(r.n for r in got.values())
        assert n_total == 6                        # NULL + 0.5 excluded
        assert got[1].p_obs_micro == 3 * 1_000_000 // 6
        import math
        assert got[1].p_benford == round(math.log10(2), 9)


class TestIntervalCoverage:
    def test_union_peak_and_half_open_boundary(self, spark):
        from incubator_pulsar_spark.operators.interval import (
            interval_coverage,
        )

        rows = [
            # g1: [0,10) [5,15) overlap 5; [20,30) disjoint;
            #     [15,20) end-meets-start chain -> NO phantom peak
            ("g1", 0, 10), ("g1", 5, 15), ("g1", 15, 20),
            ("g1", 20, 30),
            # g2: zero-length + inverted dropped; one real interval
            ("g2", 5, 5), ("g2", 9, 3), ("g2", 0, 7),
        ]
        df = spark.createDataFrame(rows, "g string, s long, e long")
        got = {r.g: r for r in interval_coverage(
            df, ["g"], start_col="s", end_col="e").collect()}
        g1 = got["g1"]
        assert g1.n_intervals == 4
        assert g1.total_ms == 10 + 10 + 5 + 10
        assert g1.covered_ms == 30            # [0,30) fully covered
        assert g1.peak_concurrency == 2       # only the [5,10) overlap
        g2 = got["g2"]
        assert (g2.n_intervals, g2.total_ms, g2.covered_ms,
                g2.peak_concurrency) == (1, 7, 7, 1)

    def test_gap_not_counted(self, spark):
        from incubator_pulsar_spark.operators.interval import (
            interval_coverage,
        )

        df = spark.createDataFrame(
            [("g", 0, 10), ("g", 100, 110)], "g string, s long, e long")
        r = interval_coverage(df, ["g"], start_col="s",
                              end_col="e").collect()[0]
        assert r.covered_ms == 20 and r.peak_concurrency == 1


class TestAssortativity:
    def test_star_is_disassortative(self, spark):
        from incubator_pulsar_spark.functions import graph

        # star: hub degree 3 meets leaves degree 1 -> r = -1
        edges = spark.createDataFrame(
            [("h", "a"), ("h", "b"), ("h", "c")],
            "src string, dst string")
        r = graph.assortativity(edges).collect()[0]
        assert r.n_edges == 3
        assert r.assortativity == -1.0

    def test_regular_graph_null(self, spark):
        from incubator_pulsar_spark.functions import graph

        # 4-cycle: every degree 2 -> zero variance -> NULL
        edges = spark.createDataFrame(
            [("a", "b"), ("b", "c"), ("c", "d"), ("d", "a")],
            "src string, dst string")
        r = graph.assortativity(edges).collect()[0]
        assert r.n_edges == 4 and r.assortativity is None

    def test_two_triangles_bridge(self, spark):
        from incubator_pulsar_spark.functions import graph

        # two triangles joined by a bridge: known exact value
        edges = spark.createDataFrame(
            [("a", "b"), ("b", "c"), ("a", "c"),
             ("d", "e"), ("e", "f"), ("d", "f"),
             ("c", "d")],
            "src string, dst string")
        r = graph.assortativity(edges).collect()[0]
        # degrees: a2 b2 c3 d3 e2 f2; both-direction sums:
        # M=14, S=34, Sxy=82, Sxx=86
        assert r.n_edges == 7
        assert r.assortativity == round(
            (14 * 82 - 34 * 34) / (14 * 86 - 34 * 34), 6)


class TestIntervalStream:
    def test_stream_matches_batch_across_batches(self, spark, tmp_path):
        from incubator_pulsar_spark.operators.interval import (
            interval_coverage,
        )
        from incubator_pulsar_spark.streaming.interval import (
            interval_stream,
        )

        rows_b1 = [("g", 0, 10), ("g", 5, 15), ("h", 10, 14)]
        rows_b2 = [("g", 15, 20), ("g", 20, 30), ("h", 2, 3)]  # h late
        src = str(tmp_path / "src")
        for batch in (rows_b1, rows_b2):
            spark.createDataFrame(
                batch, "event_type string, s long, e long"
            ).coalesce(1).write.mode("append").parquet(src)
            time.sleep(0.05)
        stream = (spark.readStream
                  .schema("event_type string, s long, e long")
                  .option("maxFilesPerTrigger", "1").parquet(src))
        sink = _run_available_now(interval_stream(stream), tmp_path, "iv")
        got = {r.key: r for r in
               (spark.read.parquet(sink).groupBy("key")
                .agg(F.sum("n_delta").alias("n"),
                     F.sum("total_delta").alias("total"),
                     F.sum("covered_delta").alias("cov"),
                     F.max("peak").alias("peak"),
                     F.max("n_dropped_late").alias("nd"))
                .collect())}
        # g: all four intervals, start-ordered across batches
        bdf = spark.createDataFrame(
            rows_b1[:2] + rows_b2[:2],
            "event_type string, s long, e long")
        want = interval_coverage(bdf, ["event_type"], start_col="s",
                                 end_col="e").collect()[0]
        g = got["g"]
        assert (g.n, g.total, g.cov, g.peak) == (
            want.n_intervals, want.total_ms, want.covered_ms,
            want.peak_concurrency)
        assert g.nd == 0
        # h's second interval starts BEFORE the high-water mark: late
        h = got["h"]
        assert (h.n, h.nd) == (1, 1)

    def test_open_interval_carries_across_batches(self, spark, tmp_path):
        from incubator_pulsar_spark.streaming.interval import (
            interval_stream,
        )

        # one long interval opened in batch 1 still open in batch 2:
        # the batch-2 interval overlaps it -> peak 2, union merged
        src = str(tmp_path / "src")
        for batch in ([("g", 0, 100)], [("g", 50, 60)]):
            spark.createDataFrame(
                batch, "event_type string, s long, e long"
            ).coalesce(1).write.mode("append").parquet(src)
            time.sleep(0.05)
        stream = (spark.readStream
                  .schema("event_type string, s long, e long")
                  .option("maxFilesPerTrigger", "1").parquet(src))
        sink = _run_available_now(interval_stream(stream), tmp_path,
                                  "carry")
        agg = (spark.read.parquet(sink)
               .agg(F.sum("covered_delta").alias("cov"),
                    F.max("peak").alias("peak")).collect()[0])
        assert agg.cov == 100       # [50,60) adds nothing to the union
        assert agg.peak == 2


class TestKtruss:
    def _k4_plus_tail(self, spark):
        # K4 on a,b,c,d plus a pendant triangle c-d-e
        edges = [("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"),
                 ("b", "d"), ("c", "d"), ("c", "e"), ("d", "e")]
        return spark.createDataFrame(edges, "src string, dst string")

    def test_k4_is_4truss_tail_peels(self, spark):
        from incubator_pulsar_spark.functions import graph

        got = {(r.u, r.v): r.in_ktruss for r in
               graph.ktruss(self._k4_plus_tail(spark), k=4,
                            iters=6).collect()}
        assert len(got) == 8
        k4 = {("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"),
              ("b", "d"), ("c", "d")}
        assert all(got[e] == 1 for e in k4)
        assert got[("c", "e")] == 0 and got[("d", "e")] == 0

    def test_whole_graph_is_3truss(self, spark):
        from incubator_pulsar_spark.functions import graph

        got = {(r.u, r.v): r.in_ktruss for r in
               graph.ktruss(self._k4_plus_tail(spark), k=3,
                            iters=6).collect()}
        assert all(v == 1 for v in got.values())

    def test_k5_empties_everything(self, spark):
        from incubator_pulsar_spark.functions import graph

        got = {(r.u, r.v): r.in_ktruss for r in
               graph.ktruss(self._k4_plus_tail(spark), k=5,
                            iters=6).collect()}
        assert all(v == 0 for v in got.values())

    def test_unconverged_warns(self, spark):
        from incubator_pulsar_spark.functions import graph

        with pytest.warns(UserWarning, match="exhausted iters=1"):
            graph.ktruss(self._k4_plus_tail(spark), k=4,
                         iters=1).collect()

    def test_k_below_3_rejected(self, spark):
        from incubator_pulsar_spark.functions import graph

        with pytest.raises(ValueError, match="k >= 3"):
            graph.ktruss(self._k4_plus_tail(spark), k=2)


class TestClosenessCentrality:
    def test_path_graph_hand_values(self, spark):
        from decimal import Decimal

        from incubator_pulsar_spark.functions import graph

        # path a-b-c: dists from a: b=1, c=2; from b: 1,1
        edges = spark.createDataFrame(
            [("a", "b"), ("b", "c")], "src string, dst string")
        got = {r.node: r for r in
               graph.closeness_centrality(edges, iters=5).collect()}
        assert got["a"].n_reached == 3
        assert got["a"].closeness == round(2 / 3, 6)
        assert got["b"].closeness == 1.0
        # harmonic from a: 1/1 + 1/2
        assert got["a"].harmonic == 1.5
        # center beats ends on both measures
        assert got["b"].harmonic == 2.0

    def test_disconnected_components_harmonic_safe(self, spark):
        from incubator_pulsar_spark.functions import graph

        edges = spark.createDataFrame(
            [("a", "b"), ("x", "y")], "src string, dst string")
        got = {r.node: r for r in
               graph.closeness_centrality(edges, iters=5).collect()}
        # each seed only reaches its own component
        assert got["a"].n_reached == 2
        assert got["x"].closeness == 1.0

    def test_sampled_seeds_subset(self, spark):
        from incubator_pulsar_spark.functions import graph

        edges = spark.createDataFrame(
            [("a", "b"), ("b", "c")], "src string, dst string")
        got = graph.closeness_centrality(
            edges, sources=["a"], iters=5).collect()
        assert len(got) == 1 and got[0].node == "a"

    def test_directed_mode(self, spark):
        from incubator_pulsar_spark.functions import graph

        edges = spark.createDataFrame(
            [("a", "b"), ("b", "c")], "src string, dst string")
        got = {r.node: r.n_reached for r in graph.closeness_centrality(
            edges, iters=5, directed=True).collect()}
        assert got == {"a": 3, "b": 2, "c": 1}


class TestMutualInformation:
    def test_independent_columns_zero(self, spark):
        from incubator_pulsar_spark.functions import behavior

        # product distribution: every (x, y) cell equally likely
        rows = [(x, y) for x in "ab" for y in "cd" for _ in range(3)]
        df = spark.createDataFrame(rows, "x string, y string")
        r = behavior.mutual_information(df, "x", "y").collect()[0]
        assert r.n == 12 and r.n_cells == 4
        assert r.mi == 0.0
        assert r.h_x == r.h_y == round(__import__("math").log(2), 6)

    def test_identical_columns_mi_equals_entropy(self, spark):
        from incubator_pulsar_spark.functions import behavior

        rows = [("a", "a")] * 2 + [("b", "b")] * 2
        df = spark.createDataFrame(rows, "x string, y string")
        r = behavior.mutual_information(df, "x", "y").collect()[0]
        assert r.mi == r.h_x == r.h_y == r.h_xy

    def test_additivity_identity_holds_in_output(self, spark):
        from incubator_pulsar_spark.functions import behavior

        rows = [("a", "c")] * 5 + [("a", "d")] * 2 + [("b", "c")] * 1 \
            + [("b", "d")] * 7
        df = spark.createDataFrame(rows, "x string, y string")
        r = behavior.mutual_information(df, "x", "y").collect()[0]
        assert abs(r.mi - (r.h_x + r.h_y - r.h_xy)) < 2e-6
        assert r.mi > 0  # the 5/2/1/7 split is dependent


class TestKsPairs:
    def test_identical_distributions_zero(self, spark):
        from incubator_pulsar_spark.functions import quantiles

        rows = [("a", float(v)) for v in (1, 2, 3)] \
            + [("b", float(v)) for v in (1, 2, 3)]
        df = spark.createDataFrame(rows, "g string, value double")
        r = quantiles.ks_pairs(df, "g", "value").collect()[0]
        assert (r.group_a, r.group_b) == ("a", "b")
        assert int(r.d_num) == 0 and r.ks == 0.0

    def test_disjoint_supports_d_is_one(self, spark):
        from incubator_pulsar_spark.functions import quantiles

        rows = [("a", float(v)) for v in (1, 2)] \
            + [("b", float(v)) for v in (10, 20, 30)]
        df = spark.createDataFrame(rows, "g string, value double")
        r = quantiles.ks_pairs(df, "g", "value").collect()[0]
        assert r.ks == 1.0
        assert r.argmax_v4 == 2 * 10000  # D peaks at a's last value

    def test_hand_computed_mid_shift(self, spark):
        from incubator_pulsar_spark.functions import quantiles

        # a: 1,2,3,4  b: 3,4,5,6 -> D = 1/2 at value 2
        rows = [("a", float(v)) for v in (1, 2, 3, 4)] \
            + [("b", float(v)) for v in (3, 4, 5, 6)]
        df = spark.createDataFrame(rows, "g string, value double")
        r = quantiles.ks_pairs(df, "g", "value").collect()[0]
        assert r.ks == 0.5 and r.argmax_v4 == 2 * 10000

    def test_all_pairs_emitted(self, spark):
        from incubator_pulsar_spark.functions import quantiles

        rows = [(g, float(i)) for i, g in enumerate("abc")]
        df = spark.createDataFrame(rows, "g string, value double")
        got = {(r.group_a, r.group_b) for r in
               quantiles.ks_pairs(df, "g", "value").collect()}
        assert got == {("a", "b"), ("a", "c"), ("b", "c")}


class TestKaplanMeier:
    def test_hand_curve_with_censoring(self, spark):
        from incubator_pulsar_spark.functions.survival import (
            kaplan_meier,
        )

        rows = [(1, 1), (2, 0), (3, 1), (3, 1), (4, 0)]
        df = spark.createDataFrame(rows, "dur long, e int")
        got = {r.duration: r for r in kaplan_meier(
            df, [], duration_col="dur", event_col="e").collect()}
        # event rows only: t=1 (n=5, d=1) and t=3 (n=3, d=2)
        assert set(got) == {1, 3}
        assert (got[1].n_risk, got[1].n_events) == (5, 1)
        assert got[1].survival == 0.8
        assert (got[3].n_risk, got[3].n_events) == (3, 2)
        assert got[3].survival == round(0.8 * (1 / 3), 6)

    def test_extinction_is_exact_zero(self, spark):
        from incubator_pulsar_spark.functions.survival import (
            kaplan_meier,
        )

        rows = [(1, 1), (2, 1), (2, 1)]
        df = spark.createDataFrame(rows, "dur long, e int")
        got = {r.duration: r.survival for r in kaplan_meier(
            df, [], duration_col="dur", event_col="e").collect()}
        assert got[1] == round(2 / 3, 6)
        assert got[2] == 0.0

    def test_grouped_curves_independent(self, spark):
        from incubator_pulsar_spark.functions.survival import (
            kaplan_meier,
        )

        rows = [("a", 1, 1), ("a", 2, 0), ("b", 1, 1)]
        df = spark.createDataFrame(rows, "g string, dur long, e int")
        got = {(r.g, r.duration): r.survival for r in kaplan_meier(
            df, ["g"], duration_col="dur", event_col="e").collect()}
        assert got[("a", 1)] == 0.5
        assert got[("b", 1)] == 0.0   # b's only subject dies


class TestRfmSegments:
    def test_scores_and_tiebreak(self, spark):
        import datetime as dt

        from incubator_pulsar_spark.functions import behavior

        t0 = dt.datetime(2024, 1, 1)
        rows = []
        # A: 3 orders, latest day 9, total 30; B: 2 orders, day 5,
        # total 300; C: 1 order, day 9, total 1  (C ties A on recency)
        for ent, days, vals in (("A", [1, 5, 9], [10, 10, 10]),
                                ("B", [2, 5], [150, 150]),
                                ("C", [9], [1])):
            for d, v in zip(days, vals):
                rows.append((ent, t0 + dt.timedelta(days=d), float(v)))
        df = spark.createDataFrame(rows, "e string, ts timestamp, v double")
        got = {r.entity: r for r in behavior.rfm_segments(
            df, entity_col="e", ts_col="ts", value_col="v",
            n_bins=3).collect()}
        assert got["A"].recency_ms == 0 and got["C"].recency_ms == 0
        # recency ties (A, C) break by entity name: A gets bin 1
        assert (got["A"].r, got["C"].r, got["B"].r) == (1, 2, 3)
        assert (got["C"].f, got["B"].f, got["A"].f) == (1, 2, 3)
        assert (got["C"].m, got["A"].m, got["B"].m) == (1, 2, 3)
        assert got["A"].rfm_code == 100 * 1 + 10 * 3 + 2
        assert got["B"].monetary4 == 300 * 10000

    def test_fixed_anchor(self, spark):
        import datetime as dt

        from incubator_pulsar_spark.functions import behavior

        t0 = dt.datetime(2024, 1, 1)
        df = spark.createDataFrame(
            [("A", t0, 1.0)], "e string, ts timestamp, v double")
        anchor = int(t0.replace(tzinfo=dt.timezone.utc).timestamp()
                     * 1000) + 5000
        r = behavior.rfm_segments(
            df, entity_col="e", ts_col="ts", value_col="v",
            anchor_ms=anchor).collect()[0]
        assert r.recency_ms == 5000

    def test_recency_keeps_milliseconds(self, spark):
        import datetime as dt

        from incubator_pulsar_spark.functions import behavior

        t0 = dt.datetime(2024, 1, 1, 0, 0, 7)
        df = spark.createDataFrame(
            [("A", t0.replace(microsecond=123_456), 1.0),
             ("B", t0 + dt.timedelta(seconds=1), 1.0)],
            "e string, ts timestamp_ntz, v double")
        got = {r.entity: r.recency_ms for r in behavior.rfm_segments(
            df, entity_col="e", ts_col="ts", value_col="v").collect()}
        assert got == {"A": 877, "B": 0}  # .123456 s truncates to 123 ms
