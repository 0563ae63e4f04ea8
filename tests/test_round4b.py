"""Round-4b operators vs pure-Python models: exact heavy hitters
(Misra-Gries two-pass), Bloom semi-join, blocked Levenshtein linkage,
time-grid gap-fill with LOCF, and bigram-LM scoring."""

from __future__ import annotations

import hashlib
import math

import pytest

from pyspark.sql import Row
from pyspark.sql import functions as F

from incubator_pulsar_spark.functions import bloom, fuzzy, text
from incubator_pulsar_spark.functions.sketches import (
    heavy_hitters, misra_gries_candidates)
from incubator_pulsar_spark.operators.gapfill import gapfill_locf


class TestHeavyHitters:
    def _zipf_df(self, spark, n_keys=200, scale=1000):
        # deterministic Zipf stream: key i appears max(1, scale/(i+1)) times
        rows = []
        for i in range(n_keys):
            rows.extend([Row(word=f"k{i}")] * max(1, scale // (i + 1)))
        return spark.createDataFrame(rows, "word STRING")

    def test_exact_vs_groupby_model(self, spark):
        df = self._zipf_df(spark).repartition(8)
        got = {r["word"]: (r["cnt"], r["share"])
               for r in heavy_hitters(df, "word", phi_num=2,
                                      phi_den=100).collect()}
        n = df.count()
        exact = {r["word"]: r["c"] for r in
                 df.groupBy("word").agg(F.count(F.lit(1)).alias("c")).collect()}
        want = {w: c for w, c in exact.items() if c * 100 >= n * 2}
        assert set(got) == set(want)
        for w, (cnt, share) in got.items():
            assert cnt == want[w]
            assert share == round(cnt / n, 6)

    def test_candidates_prune_zipf_tail(self, spark):
        """The point of MG at scale: candidates ≪ distinct keys."""
        df = self._zipf_df(spark, n_keys=400).repartition(4)
        k = 20
        cands = misra_gries_candidates(df, "word", k)
        n_cands = cands.count()
        n_distinct = df.select("word").distinct().count()
        assert n_cands < n_distinct / 2, (n_cands, n_distinct)

    def test_candidates_superset_of_heavy(self, spark):
        """Guarantee: global count > N/(k+1) ⇒ key in candidate union."""
        df = self._zipf_df(spark).repartition(16)  # many partitions
        k = 10
        n = df.count()
        cands = {r["word"] for r in
                 misra_gries_candidates(df, "word", k).collect()}
        exact = {r["word"]: r["c"] for r in
                 df.groupBy("word").agg(F.count(F.lit(1)).alias("c")).collect()}
        for w, c in exact.items():
            if c > n / (k + 1):
                assert w in cands, f"{w} ({c}/{n}) missed by MG k={k}"


def _positions(key, m_bits=1 << 16, j=3):
    return [int(hashlib.md5(f"bf{i}:{key}".encode()).hexdigest()[:12], 16)
            % m_bits for i in range(j)]


class TestBloom:
    def test_bitmap_matches_python_model(self, spark):
        keys = list(range(0, 500, 7))
        df = spark.createDataFrame([Row(k=k) for k in keys], "k LONG")
        bitmap = bloom.build_bloom(df, "k")
        want = [0] * (1 << 10)
        for key in keys:
            for p in _positions(key):
                want[p >> 6] |= 1 << (p & 63)
        # java longs are signed; normalize
        got = [w & ((1 << 64) - 1) for w in bitmap]
        assert got == want

    def test_no_false_negatives(self, spark):
        keys = list(range(100))
        build = spark.createDataFrame([Row(k=k) for k in keys], "k LONG")
        bitmap = bloom.build_bloom(build, "k")
        probe = spark.createDataFrame([Row(k=k) for k in range(200)], "k LONG")
        passed = {r["k"] for r in
                  bloom.apply_bloom_filter(probe, bitmap, "k").collect()}
        assert set(keys) <= passed
        # 300 bits set in 65536 → fpp ~ (300/65536)^3: essentially zero here
        assert len(passed - set(keys)) <= 2

    def test_prefiltered_join_verdicts_exact(self, spark):
        build = spark.createDataFrame([Row(k=k) for k in range(0, 60, 3)],
                                      "k LONG")
        fact = spark.createDataFrame([Row(k=k, v=k * 10) for k in range(60)],
                                     "k LONG, v LONG")
        out = bloom.bloom_prefiltered_join(fact, build, "k", "k").collect()
        for r in out:
            assert r["_bloom_true"] == (r["k"] % 3 == 0)
        true_keys = {r["k"] for r in out if r["_bloom_true"]}
        assert true_keys == set(range(0, 60, 3))

    def test_literal_form_agrees_with_broadcast_form(self, spark):
        """might_contain (literal array, small maps) and
        apply_bloom_filter (broadcast row, query plans) are the same
        predicate."""
        build = spark.createDataFrame([Row(k=k) for k in range(40)], "k LONG")
        m = 1 << 10
        bitmap = bloom.build_bloom(build, "k", m_bits=m)
        probe = spark.createDataFrame([Row(k=k) for k in range(300)], "k LONG")
        a = {r["k"] for r in
             probe.filter(bloom.might_contain(bitmap, F.col("k"), m_bits=m))
             .collect()}
        b = {r["k"] for r in
             bloom.apply_bloom_filter(probe, bitmap, "k", m_bits=m).collect()}
        assert a == b and set(range(40)) <= a


def _lev(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                           prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[len(b)]


class TestLevenshteinLinkage:
    DOCS = [
        (1, "alpha beta gamma delta"),
        (2, "alpha beta gamma delts"),       # 1 edit, same block
        (3, "alpha beta GAMMA   delta"),     # normalizes equal to 1
        (4, "omega beta gamma delta"),       # different block
        (5, "alpha completely different text here that exceeds"),
        (6, "zeta one"),
    ]

    def test_matches_python_model(self, spark):
        df = spark.createDataFrame(self.DOCS, "doc_id LONG, text STRING")
        got = {(r["doc_a"], r["doc_b"]): r["lev"]
               for r in fuzzy.levenshtein_blocked_pairs(
                   df, prefix_len=40, max_dist=8).collect()}
        import re as _re
        norm = {i: _re.sub(r"\s+", " ", t.lower()).strip()
                for i, t in self.DOCS}
        want = {}
        ids = sorted(norm)
        blk = {i: " ".join(n.split(" ")[:2]) for i, n in norm.items()}
        for a in ids:
            for b in ids:
                if a < b and blk[a] == blk[b]:
                    d = _lev(norm[a][:40], norm[b][:40])
                    if d <= 8:
                        want[(a, b)] = d
        assert got == want
        assert (1, 2) in got and got[(1, 3)] == 0
        assert not any(4 in p for p in got)


class TestGapfill:
    def test_matches_pandas_model(self, spark):
        rows = [
            Row(k="a", ts="2024-01-01 00:01:00", v=10.0),
            Row(k="a", ts="2024-01-01 00:05:00", v=20.0),
            # 00:15 slot empty, 00:30 slot empty
            Row(k="a", ts="2024-01-01 00:47:00", v=40.0),
            Row(k="b", ts="2024-01-01 00:20:00", v=1.0),
        ]
        df = spark.createDataFrame(rows).select(
            "k", F.to_timestamp("ts").alias("ts"), F.col("v"))
        out = gapfill_locf(df, key_cols=["k"], ts_col="ts", value_col="v",
                           slot_seconds=900)
        got = {(r["k"], r["slot"]): (r["n_events"], r["value_locf"], r["filled"])
               for r in out.collect()}
        base = 1704067200 // 900  # 2024-01-01 00:00 UTC
        # grid is global min..max slot for every key
        assert set(got) == {(k, base + s) for k in "ab" for s in range(4)}
        assert got[("a", base)] == (2, 15.0, False)
        assert got[("a", base + 1)] == (0, 15.0, True)
        assert got[("a", base + 2)] == (0, 15.0, True)
        assert got[("a", base + 3)] == (1, 40.0, False)
        # leading slots before b's first observation: NULL carry, filled
        assert got[("b", base)] == (0, None, True)
        assert got[("b", base + 1)] == (1, 1.0, False)
        assert got[("b", base + 2)] == (0, 1.0, True)

    def test_all_null_values_slot_is_observed_not_filled(self, spark):
        """A slot whose events all carry NULL values was OBSERVED
        (filled=false, n_events>0); its mean is NULL and LOCF carries
        the previous value straight past it."""
        rows = [
            Row(k="a", ts="2024-01-01 00:01:00", v=10.0),
            Row(k="a", ts="2024-01-01 00:16:00", v=None),
            Row(k="a", ts="2024-01-01 00:31:00", v=7.0),
        ]
        df = spark.createDataFrame(rows, "k STRING, ts STRING, v DOUBLE") \
            .select("k", F.to_timestamp("ts").alias("ts"), "v")
        out = {r["slot"]: r for r in
               gapfill_locf(df, key_cols=["k"], ts_col="ts", value_col="v",
                            slot_seconds=900).collect()}
        base = 1704067200 // 900
        assert out[base]["filled"] is False
        assert out[base + 1]["n_events"] == 1
        assert out[base + 1]["filled"] is False          # observed slot
        assert out[base + 1]["value_locf"] == 10.0       # LOCF carries past
        assert out[base + 2]["value_locf"] == 7.0

    def test_exact_decimal_mean(self, spark):
        # means that differ under float summation order: 0.1+0.2
        rows = [Row(k="a", ts="2024-01-01 00:00:30", v=0.1),
                Row(k="a", ts="2024-01-01 00:00:40", v=0.2)]
        df = spark.createDataFrame(rows).select(
            "k", F.to_timestamp("ts").alias("ts"), F.col("v"))
        out = gapfill_locf(df, key_cols=["k"], ts_col="ts", value_col="v",
                           slot_seconds=900).collect()
        assert out[0]["value_locf"] == pytest.approx(0.15, abs=1e-9)


class TestQuantiles:
    def test_window_and_bucketed_paths_agree(self, spark, sf_dir):
        from incubator_pulsar_spark.functions.quantiles import (
            exact_quantiles, exact_quantiles_bucketed)

        ev = spark.read.parquet(f"{sf_dir}/events.parquet")
        qs = [(1, 2, "p50"), (9, 10, "p90"), (99, 100, "p99")]
        a = {tuple(r) for r in
             exact_quantiles(ev, ["event_type"], "value", qs).collect()}
        b = {tuple(r) for r in
             exact_quantiles_bucketed(ev, ["event_type"], "value", qs,
                                      lo=0.0, hi=1000.0).collect()}
        assert a == b and a

    def test_matches_python_model(self, spark):
        from incubator_pulsar_spark.functions.quantiles import exact_quantiles

        vals = [float(v) for v in [5, 1, 9, 3, 3, 7, 2, 8, 6, 4]]
        df = spark.createDataFrame([Row(g="x", v=v) for v in vals],
                                   "g STRING, v DOUBLE")
        out = exact_quantiles(df, ["g"], "v",
                              [(1, 2, "p50"), (9, 10, "p90")]).collect()[0]
        s = sorted(vals)
        assert out["n"] == 10
        assert out["p50"] == s[math.ceil(10 * 0.5) - 1]   # rank 5 → value 4.0
        assert out["p90"] == s[math.ceil(10 * 0.9) - 1]   # rank 9 → value 8.0

    def test_bucketed_clamps_out_of_range_exactly(self, spark):
        from incubator_pulsar_spark.functions.quantiles import (
            exact_quantiles, exact_quantiles_bucketed)

        # values outside [lo, hi) land in edge buckets; result stays exact
        vals = [-5.0, 0.5, 1.5, 2.5, 99.0, 250.0, 300.0]
        df = spark.createDataFrame([Row(g="x", v=v) for v in vals],
                                   "g STRING, v DOUBLE")
        qs = [(1, 2, "p50"), (99, 100, "p99")]
        a = {tuple(r) for r in exact_quantiles(df, ["g"], "v", qs).collect()}
        b = {tuple(r) for r in
             exact_quantiles_bucketed(df, ["g"], "v", qs, n_buckets=8,
                                      lo=0.0, hi=100.0).collect()}
        assert a == b


class TestTopicDigest:
    def test_replicas_match_then_corruption_detected(self, spark, tmp_path,
                                                     sf_dir):
        """Geo-replicate a topic to two 'clusters', digest both sides:
        clean replicas agree on every group; dropping one row and
        double-writing another each flip exactly their group's digest
        (sum-checksum catches duplicates that XOR would cancel)."""
        from incubator_pulsar_spark.operators.digest import (
            digest_diff, topic_digest)
        from incubator_pulsar_spark.streaming.retry import geo_replicate

        ev = spark.read.parquet(f"{sf_dir}/events.parquet") \
            .select("event_id", "event_type", "value")
        src = str(tmp_path / "topic")
        ev.write.parquet(src)
        stream = spark.readStream.schema(ev.schema).parquet(src)
        qs = geo_replicate(
            stream,
            cluster_paths={"east": str(tmp_path / "east"),
                           "west": str(tmp_path / "west")},
            checkpoint_root=str(tmp_path / "ck"),
            trigger_available_now=True)
        for q in qs.values():
            q.awaitTermination(120)

        east = spark.read.parquet(str(tmp_path / "east"))
        west = spark.read.parquet(str(tmp_path / "west"))
        gcols, ccols = ["event_type"], ["event_id", "value"]
        clean = digest_diff(topic_digest(east, gcols, ccols),
                            topic_digest(west, gcols, ccols), gcols)
        assert clean.count() == 0

        # corrupt west: drop one 'click' row, duplicate one 'view' row
        some_click = west.filter(F.col("event_type") == "click").limit(1)
        some_view = west.filter(F.col("event_type") == "view").limit(1)
        corrupted = west.join(some_click, ["event_id"], "left_anti") \
            .unionByName(some_view)
        diff = digest_diff(topic_digest(east, gcols, ccols),
                           topic_digest(corrupted, gcols, ccols), gcols)
        bad = {r["event_type"] for r in diff.collect()}
        assert bad == {"click", "view"}

    def test_duplicate_row_changes_checksum(self, spark):
        """The XOR trap: a row present twice must NOT digest equal to
        the clean topic."""
        from incubator_pulsar_spark.operators.digest import topic_digest

        rows = [Row(t="a", k=1), Row(t="a", k=2)]
        clean = spark.createDataFrame(rows, "t STRING, k LONG")
        duped = spark.createDataFrame(rows + [Row(t="a", k=1)],
                                      "t STRING, k LONG")
        c = topic_digest(clean, ["t"], ["k"]).collect()[0]
        d = topic_digest(duped, ["t"], ["k"]).collect()[0]
        assert c["checksum"] != d["checksum"]


class TestNullSafety:
    """NULLs in key/text columns must degrade, never crash."""

    def test_mg_and_heavy_hitters_skip_null_keys(self, spark):
        rows = [Row(word="a")] * 5 + [Row(word=None)] * 3 + [Row(word="b")]
        df = spark.createDataFrame(rows, "word STRING")
        cands = {r["word"] for r in
                 misra_gries_candidates(df, "word", 4).collect()}
        assert None not in cands and "a" in cands
        hh = {r["word"]: r["cnt"] for r in
              heavy_hitters(df, "word", phi_num=1, phi_den=2).collect()}
        # N counts all 9 rows; only 'a' (5/9) clears 50%
        assert hh == {"a": 5}

    def test_bloom_null_probe_key_never_matches(self, spark):
        build = spark.createDataFrame([Row(k=1), Row(k=2)], "k LONG")
        bitmap = bloom.build_bloom(build, "k")
        probe = spark.createDataFrame([Row(k=1), Row(k=None)], "k LONG")
        got = [r["k"] for r in
               bloom.apply_bloom_filter(probe, bitmap, "k").collect()]
        assert got == [1]

    def test_levenshtein_pairs_null_text(self, spark):
        df = spark.createDataFrame(
            [(1, "alpha beta one"), (2, "alpha beta two"), (3, None)],
            "doc_id LONG, text STRING")
        pairs = fuzzy.levenshtein_blocked_pairs(df).collect()
        assert {(r["doc_a"], r["doc_b"]) for r in pairs} == {(1, 2)}

    def test_bigram_lm_null_and_empty_docs_absent(self, spark):
        df = spark.createDataFrame(
            [(1, "the cat sat the cat"), (2, None), (3, ""), (4, "one")],
            "doc_id LONG, text STRING")
        got = {r["doc_id"] for r in text.bigram_lm_scores(df).collect()}
        assert got == {1}


class TestHtmlStrip:
    def test_matches_python_model(self, spark):
        import re as _re

        raw = ('<div class="x"><p>Hello &amp; welcome</p></div>'
               '<script>if (1 < 2) alert("hi");</script>'
               '<style>p { color: red; }</style>'
               'tail &lt;tag&gt; &nbsp; done')
        df = spark.createDataFrame([Row(doc_id=1, text=raw)])
        got = df.select(
            text.strip_html(F.col("text")).alias("s"),
            text.tag_count(F.col("text")).alias("n")).collect()[0]

        t = _re.sub(r"(?is)<script\b.*?</script>", " ", raw)
        t = _re.sub(r"(?is)<style\b.*?</style>", " ", t)
        t = _re.sub(r"<[^>]+>", " ", t)
        for ent, rep in [("&amp;", "&"), ("&lt;", "<"), ("&gt;", ">"),
                         ("&quot;", '"'), ("&#39;", "'"), ("&nbsp;", " ")]:
            t = t.replace(ent, rep)
        want = _re.sub(r"\s+", " ", t).strip()
        assert got["s"] == want == "Hello & welcome tail <tag> done"
        assert got["n"] == len(_re.findall(r"<[^>]+>", raw))

    def test_script_with_angle_brackets_vanishes_wholesale(self, spark):
        # '1 < 2' inside the script must not survive as text
        df = spark.createDataFrame(
            [Row(doc_id=1, text="a<script>x = 1 < 2 && y > 0;</script>b")])
        got = df.select(text.strip_html(F.col("text")).alias("s")).collect()[0]
        assert got["s"] == "a b"


class TestBpePairs:
    def test_matches_python_model(self, spark):
        docs = [(1, "aba abc"), (2, "aba"), (3, "xy")]
        df = spark.createDataFrame(docs, "doc_id LONG, text STRING")
        got = [(r["rank"], r["pair"], r["cnt"])
               for r in text.bpe_pair_counts(df, k=10).collect()]

        import re as _re
        from collections import Counter
        vocab = Counter()
        for _, t in docs:
            vocab.update(_re.findall(r"[a-z]+", t.lower()))
        pairs: Counter = Counter()
        for w, freq in vocab.items():
            for i in range(len(w) - 1):
                pairs[w[i:i + 2]] += freq
        ranked = sorted(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        want = [(i + 1, p, c) for i, (p, c) in enumerate(ranked[:10])]
        assert got == want
        # 'ab' appears in 'aba' (freq 2) and 'abc' (1) = 3 -> rank 1
        assert got[0] == (1, "ab", 3)


class TestLshBucketForms:
    def test_literal_and_data_column_forms_agree(self, spark):
        from incubator_pulsar_spark.functions.similarity import (
            _hyperplanes, lsh_bucket_id, with_lsh_bucket)

        vecs = [[((i * 7 + j * 13) % 19 - 9) / 9.0 for j in range(16)]
                for i in range(40)]
        df = spark.createDataFrame(
            [Row(vec_id=i, v=v) for i, v in enumerate(vecs)])
        planes = _hyperplanes(16, 6)
        lit = {r["vec_id"]: r["b"] for r in
               df.select("vec_id", lsh_bucket_id(F.col("v"), planes)
                         .alias("b")).collect()}
        dat = {r["vec_id"]: r["bucket"] for r in
               with_lsh_bucket(df, "v", planes).collect()}
        assert lit == dat and len(set(lit.values())) > 1


class TestLabelCentroids:
    def test_tight_cluster_scores_near_one(self, spark):
        from incubator_pulsar_spark.functions.similarity import (
            label_centroid_stats)

        rows = (
            # label 0: near-identical vectors → avg cos ≈ 1
            [Row(vec_id=i, label=0, embedding=[1.0, 0.0, 0.01 * i])
             for i in range(5)]
            # label 1: orthogonal spread → much lower coherence
            + [Row(vec_id=10, label=1, embedding=[1.0, 0.0, 0.0]),
               Row(vec_id=11, label=1, embedding=[0.0, 1.0, 0.0]),
               Row(vec_id=12, label=1, embedding=[0.0, 0.0, 1.0])]
        )
        df = spark.createDataFrame(rows)
        got = {r["label"]: r for r in label_centroid_stats(df).collect()}
        assert got[0]["n_vecs"] == 5 and got[1]["n_vecs"] == 3
        assert got[0]["avg_cos_to_centroid"] > 0.999
        assert got[1]["avg_cos_to_centroid"] < 0.7
        # label-1 centroid is (1/3,1/3,1/3): norm = 1/sqrt(3)
        assert got[1]["centroid_norm"] == pytest.approx(1 / math.sqrt(3),
                                                        abs=1e-5)

    def test_centroid_matches_numpy_mean(self, spark):
        import numpy as np

        from incubator_pulsar_spark.functions.similarity import (
            label_centroid_stats)

        vecs = [[0.1 * i + 0.01 * j for j in range(8)] for i in range(6)]
        df = spark.createDataFrame(
            [Row(vec_id=i, label=0, embedding=v) for i, v in enumerate(vecs)])
        got = label_centroid_stats(df).collect()[0]
        m = np.round(np.mean(np.array(vecs), axis=0), 6)
        assert got["centroid_norm"] == pytest.approx(
            float(np.sqrt((m * m).sum())), abs=2e-6)


class TestWeightedSample:
    def test_matches_python_model(self, spark):
        from incubator_pulsar_spark.functions.sampling import (
            weighted_sample_fixed)

        rows = [Row(doc_id=i, w=float(1 + i % 7)) for i in range(100)]
        df = spark.createDataFrame(rows)
        got = sorted(r["doc_id"] for r in
                     weighted_sample_fixed(df, 10, id_col="doc_id",
                                           weight_col="w").collect())
        keys = {}
        for i in range(100):
            u = int(hashlib.md5(f"wsample:{i}".encode()).hexdigest()[:8], 16) \
                / 2 ** 32
            keys[i] = math.log(u) / (1 + i % 7)
        want = sorted(sorted(keys, key=lambda i: (-keys[i], i))[:10])
        assert got == want

    def test_zero_weight_rows_never_selected(self, spark):
        from incubator_pulsar_spark.functions.sampling import (
            weighted_sample_fixed)

        rows = [Row(doc_id=1, w=0.0), Row(doc_id=2, w=None),
                Row(doc_id=3, w=5.0)]
        df = spark.createDataFrame(rows, "doc_id LONG, w DOUBLE")
        got = [r["doc_id"] for r in
               weighted_sample_fixed(df, 3, id_col="doc_id",
                                     weight_col="w").collect()]
        assert got == [3]

    def test_heavier_rows_sampled_more_often(self, spark):
        """Aggregate E-S behavior: with weights 10 vs 1, the heavy
        stratum should dominate a small sample."""
        from incubator_pulsar_spark.functions.sampling import (
            weighted_sample_fixed)

        rows = [Row(doc_id=i, w=10.0 if i < 50 else 1.0) for i in range(500)]
        df = spark.createDataFrame(rows)
        got = [r["doc_id"] for r in
               weighted_sample_fixed(df, 40, id_col="doc_id",
                                     weight_col="w").collect()]
        heavy = sum(1 for i in got if i < 50)
        # 50 heavy rows carry 500/950 of total weight; E-S without
        # replacement should fill roughly half the sample with them
        assert heavy >= 15


class TestClusterSafeSplit:
    def test_no_cross_split_pairs_and_partition(self, spark, sf_dir):
        from incubator_pulsar_spark.plans.queries import ALL_QUERIES

        rows = {r["split"]: r for r in
                ALL_QUERIES["cluster_safe_split"].build(spark, sf_dir)
                .collect()}
        assert set(rows) == {"train", "val"}
        assert all(r["n_leaked"] == 0 for r in rows.values())
        total = sum(r["n_docs"] for r in rows.values())
        assert total == 500  # every doc assigned exactly once


class TestSubscriptionBacklog:
    def test_counts_and_zero_backlog_row(self, spark):
        from incubator_pulsar_spark.operators.subscriptions import (
            subscription_backlog)

        rows = [Row(ts=f"2024-01-01 0{h}:00:00", v=h) for h in range(5)]
        msgs = spark.createDataFrame(rows, "ts STRING, v LONG") \
            .select(F.to_timestamp("ts").alias("publish_time"), "v")
        cursors = spark.createDataFrame(
            [("behind", "2024-01-01 01:30:00"),
             ("caught-up", "2024-01-01 09:00:00")],
            "subscription STRING, ack_through STRING") \
            .select("subscription", F.to_timestamp("ack_through")
                    .alias("ack_through"))
        got = {r["subscription"]: r for r in
               subscription_backlog(msgs, cursors).collect()}
        assert got["behind"]["n_backlog"] == 3      # 02,03,04
        assert got["behind"]["oldest_unacked"] == "2024-01-01 02:00:00"
        assert got["behind"]["backlog_hours"] == 2.0
        assert got["caught-up"]["n_backlog"] == 0
        assert got["caught-up"]["oldest_unacked"] is None
        assert got["caught-up"]["backlog_hours"] == 0.0


class TestBigramLm:
    DOCS = [(1, "the cat sat"), (2, "the cat ran"), (3, "a dog sat the cat"),
            (4, "single"), (5, "")]

    def test_matches_python_model(self, spark):
        df = spark.createDataFrame(self.DOCS, "doc_id LONG, text STRING")
        got = {r["doc_id"]: (r["n_bigrams"], r["lm_score"])
               for r in text.bigram_lm_scores(df).collect()}

        import re as _re
        toks = {i: _re.findall(r"[a-z]+", t.lower()) for i, t in self.DOCS}
        bigrams = {i: list(zip(w, w[1:])) for i, w in toks.items()}
        c12: dict = {}
        c1: dict = {}
        for bs in bigrams.values():
            for w1, w2 in bs:
                c12[(w1, w2)] = c12.get((w1, w2), 0) + 1
                c1[w1] = c1.get(w1, 0) + 1
        vocab = len({w for ws in toks.values() for w in ws})
        want = {}
        for i, bs in bigrams.items():
            if not bs:
                continue
            s = sum(round(math.log2((c12[bg] + 1.0) / (c1[bg[0]] + vocab))
                          * 1e6) for bg in bs)
            want[i] = (len(bs), round(s / 1e6 / len(bs), 6))
        assert set(got) == set(want)  # docs with <2 tokens are absent
        for i in want:
            assert got[i][0] == want[i][0]
            assert got[i][1] == pytest.approx(want[i][1], abs=2e-6)

    def test_repeated_boilerplate_scores_higher(self, spark):
        docs = [(i, "the quick brown fox jumps over the lazy dog")
                for i in range(1, 9)] + [(9, "zebra quantum kumquat axolotl")]
        df = spark.createDataFrame(docs, "doc_id LONG, text STRING")
        scores = {r["doc_id"]: r["lm_score"]
                  for r in text.bigram_lm_scores(df).collect()}
        assert scores[1] > scores[9]


class TestStreamingDigest:
    def test_stream_digest_equals_batch_of_union(self, spark, tmp_path,
                                                 sf_dir):
        """Two availableNow passes over a growing topic: the LAST
        emitted digest per group equals the batch digest of the union —
        sum/count mergeability IS the streaming story: ``topic_digest``
        runs unchanged on a stream as a built-in streaming agg."""
        from incubator_pulsar_spark.operators.digest import topic_digest

        ev = spark.read.parquet(f"{sf_dir}/events.parquet") \
            .select("event_type", "event_id", "user_id")
        first = ev.filter(F.col("event_id") % 2 == 0)
        second = ev.filter(F.col("event_id") % 2 == 1)
        src = str(tmp_path / "topic")
        sink = str(tmp_path / "digests")
        first.write.parquet(src)

        def run(tag):
            stream = spark.readStream.schema(first.schema).parquet(src)
            out = topic_digest(stream, ["event_type"],
                               ["event_id", "user_id"])

            def write(df, batch_id):
                df.withColumn("pass_tag", F.lit(tag)) \
                    .write.mode("append").parquet(sink)

            (out.writeStream.foreachBatch(write)
             .outputMode("complete")
             .option("checkpointLocation", str(tmp_path / "ck"))
             .trigger(availableNow=True).start().awaitTermination(120))

        run(0)
        second.write.mode("append").parquet(src)
        run(1)

        latest = {}
        for r in spark.read.parquet(sink).orderBy("pass_tag").collect():
            latest[r.event_type] = (r.n_rows, r.checksum)
        want = {r.event_type: (r.n_rows, r.checksum)
                for r in topic_digest(ev, ["event_type"],
                                      ["event_id", "user_id"]).collect()}
        assert latest == want
