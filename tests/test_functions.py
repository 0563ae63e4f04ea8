"""Tests for text analysis, fuzzy dedup, similarity, multimodal, registry."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from incubator_pulsar_spark.functions import fuzzy, multimodal, similarity, text
from incubator_pulsar_spark.registry import (
    Compatibility,
    SchemaRegistry,
    is_compatible,
)


class TestText:
    def test_stats(self, spark):
        df = spark.createDataFrame([("The cat and the dog!",), ("",)], "text string")
        out = df.select(
            text.word_count(F.col("text")).alias("w"),
            text.token_count(F.col("text")).alias("t"),
            text.punct_ratio(F.col("text")).alias("p"),
            text.stopword_ratio(F.col("text")).alias("s"),
        ).collect()
        assert out[0]["w"] == 5
        assert out[0]["t"] == 6  # 5 words + '!'
        assert out[0]["p"] == round(1 / 20, 6)
        assert out[0]["s"] == round(3 / 5, 6)  # the, and, the
        assert out[1]["w"] == 0 and out[1]["p"] == 0.0

    def test_detect_language(self, spark):
        df = spark.createDataFrame(
            [("the cat is in the house",), ("der Hund ist nicht hier",),
             ("xyz qqq",)], "text string"
        )
        out = [r[0] for r in df.select(text.detect_language(F.col("text"))).collect()]
        assert out == ["en", "de", "und"]

    def test_fingerprint_normalizes(self, spark):
        df = spark.createDataFrame([("Hello  World",), ("hello world",)], "text string")
        fps = [r[0] for r in df.select(text.fingerprint(F.col("text"))).collect()]
        assert fps[0] == fps[1]


class TestFuzzy:
    def test_shingles_short_doc(self, spark):
        df = spark.createDataFrame([("ab",)], "text string")
        out = df.select(fuzzy.char_shingles(F.col("text"), 5).alias("s")).collect()
        assert out[0]["s"] == ["ab"]

    def test_minhash_identical_docs_collide(self, spark):
        docs = spark.createDataFrame(
            [(1, "the quick brown fox jumps over the lazy dog"),
             (2, "the quick brown fox jumps over the lazy dog"),
             (3, "completely different content entirely unrelated words")],
            "doc_id long, text string",
        )
        pairs = fuzzy.lsh_candidate_pairs(docs).collect()
        assert {(r["doc_a"], r["doc_b"]) for r in pairs} == {(1, 2)}

    def test_jaccard_exact(self, spark):
        docs = spark.createDataFrame(
            [(1, "abcdefgh"), (2, "abcdefgh"), (3, "zzzzzzzz")],
            "doc_id long, text string",
        )
        out = fuzzy.jaccard_pairs(docs, k=3, threshold=0.5).collect()
        assert len(out) == 1
        assert out[0]["doc_a"] == 1 and out[0]["doc_b"] == 2
        assert out[0]["jaccard"] == 1.0

    def test_jaccard_df_cut_values_exact_recall_documented(self, spark):
        """max_df drops hot shingles from CANDIDATE GENERATION only:
        surviving pairs carry the IDENTICAL exact jaccard; pairs whose
        only common shingles are corpus-wide boilerplate drop out."""
        boiler = "xxxxx"  # one hot 5-gram present in every doc
        docs = spark.createDataFrame(
            [(1, boiler + "abcdefgh"), (2, boiler + "abcdefgh"),
             (3, boiler + "qqqqzzzz"), (4, boiler + "mnopmnop")],
            "doc_id long, text string")
        exact = {(r.doc_a, r.doc_b): r.jaccard
                 for r in fuzzy.jaccard_pairs(docs, k=5, threshold=0.05).collect()}
        cut = {(r.doc_a, r.doc_b): r.jaccard
               for r in fuzzy.jaccard_pairs(docs, k=5, threshold=0.05,
                                            max_df=0.8).collect()}
        assert set(cut) <= set(exact)
        assert (1, 2) in cut                      # real dup survives the cut
        for p, v in cut.items():
            assert v == exact[p]                  # values stay exact
        # pairs connected ONLY through the boilerplate shingle drop out
        assert all(p == (1, 2) for p in cut)
        with pytest.raises(ValueError):
            fuzzy.jaccard_pairs(docs, max_df=0.5, candidates=docs.limit(0))

    def test_simhash_similar_texts_close(self, spark):
        df = spark.createDataFrame(
            [("the quick brown fox jumps over the lazy dog",),
             ("the quick brown fox jumps over the lazy cat",),
             ("entirely unrelated corpus of completely different words",)],
            "text string",
        )
        vals = [r[0] for r in df.select(fuzzy.simhash16(F.col("text"))).collect()]

        def hamming(a, b):
            return bin(a ^ b).count("1")

        assert hamming(vals[0], vals[1]) < hamming(vals[0], vals[2])

    def test_exact_dedup_keeps_min_id(self, spark):
        docs = spark.createDataFrame(
            [(5, "same text"), (2, "Same  TEXT"), (9, "other")],
            "doc_id long, text string",
        )
        kept = sorted(r["doc_id"] for r in fuzzy.exact_dedup_docs(docs).collect())
        assert kept == [2, 9]


class TestSimilarity:
    def test_cosine_topk_self_is_best(self, spark):
        import math

        rows = [(i, [math.sin(i * 7 + j) for j in range(8)]) for i in range(20)]
        emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        q = emb.filter(F.col("vec_id") == 3).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec"))
        out = similarity.cosine_topk(emb, q, k=5).collect()
        assert out[0]["vec_id"] == 3 and out[0]["rank"] == 1
        assert out[0]["cosine_sim"] == 1.0
        assert len(out) == 5

    def test_ivf_topk_includes_self(self, spark):
        import math

        rows = [(i, [math.cos(i * 3 + j) for j in range(8)]) for i in range(30)]
        emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        q = emb.filter(F.col("vec_id") == 7).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec"))
        out = similarity.ivf_topk(emb, q, k=3, dim=8, n_cells=4, nprobe=2).collect()
        assert out and out[0]["vec_id"] == 7  # own cell always probed first

    def test_lsh_multiprobe_recall_dominates_single_probe(self, spark, sf_dir):
        """Hamming-1 probing must return a SUPERSET of the single-probe
        candidates per query (the own bucket is always probed) and so
        recall vs exact top-k can only go up; values stay exact."""
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        q = emb.filter(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("query_vec"))

        def topset(df):
            out = {}
            for r in df.collect():
                out.setdefault(r.query_id, set()).add(r.vec_id)
            return out

        exact = topset(similarity.cosine_topk(emb, q, k=10))
        single = topset(similarity.lsh_bucket_topk(emb, q, k=10, dim=64, n_planes=4))
        multi = topset(similarity.lsh_bucket_topk(emb, q, k=10, dim=64, n_planes=4,
                                                  hamming_probes=1))

        def recall(approx):
            return sum(len(approx.get(k_, set()) & exact[k_]) for k_ in exact) / \
                sum(len(v) for v in exact.values())

        assert recall(multi) >= recall(single)
        # each query still finds itself
        for k_ in exact:
            assert k_ in multi.get(k_, set())
        with pytest.raises(ValueError):
            similarity.lsh_bucket_topk(emb, q, k=10, dim=64, hamming_probes=2)

    def test_ivf_persisted_index_prunes_partitions(self, spark, sf_dir, tmp_path):
        """The persisted IVF index must (a) return exactly what the
        in-memory ivf_topk returns for the same centroids/probes and
        (b) read ONLY the probed cell partitions (PartitionFilters on
        the scan — directory pruning IS the inverted-file lookup)."""
        from incubator_pulsar_spark.session import read_table

        emb = read_table(spark, sf_dir, "embeddings")
        q = emb.filter(F.col("vec_id") < 3).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("query_vec"))
        idx_path = str(tmp_path / "ivf")
        similarity.ivf_write_index(emb, idx_path, n_cells=8)
        out = similarity.search_index(spark, idx_path, q, k=5, nprobe=2)
        got = [(r.query_id, r.vec_id, r.cosine_sim, r.rank) for r in out.collect()]
        ref = similarity.ivf_topk(emb, q, k=5, dim=64, n_cells=8, nprobe=2)
        want = [(r.query_id, r.vec_id, r.cosine_sim, r.rank) for r in ref.collect()]
        assert sorted(got) == sorted(want)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters" in plan
        pf = plan.split("PartitionFilters:")[1].split("]")[0]
        assert "cell" in pf and pf.strip(" [") != "", (
            "probe scan did not prune cell partitions")

    def test_ivf_append_index_incremental(self, spark, sf_dir, tmp_path):
        """A search over build + append equals a full rebuild WITH THE
        SAME centroids — the one consistent cell geometry the sidecar
        pins (prior files staying byte-untouched is locked for every
        codec in tests/test_vector_index.py)."""
        import json
        import os

        from incubator_pulsar_spark.session import read_table

        emb = read_table(spark, sf_dir, "embeddings")
        old = emb.filter(F.col("vec_id") % 5 != 0)
        new = emb.filter(F.col("vec_id") % 5 == 0)
        q = emb.filter(F.col("vec_id") < 3).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("query_vec"))

        idx = str(tmp_path / "ivf")
        side = similarity.ivf_write_index(old, idx, n_cells=8)
        assert similarity.append_index(new, idx) == new.count()

        got = sorted((r.query_id, r.vec_id, r.cosine_sim, r.rank)
                     for r in similarity.search_index(
                         spark, idx, q, k=5, nprobe=3).collect())
        # reference: assign the FULL corpus against the index's pinned
        # centroids (seeded from `old`), i.e. write_index(old)+append ==
        # one index whose centroids come from old but rows are old∪new
        idx2 = str(tmp_path / "ivf_ref")
        os.makedirs(f"{idx2}/base")
        json.dump(side, open(f"{idx2}/_index.json", "w"))
        similarity.append_index(emb, idx2)
        want = sorted((r.query_id, r.vec_id, r.cosine_sim, r.rank)
                      for r in similarity.search_index(
                          spark, idx2, q, k=5, nprobe=3).collect())
        assert got == want


class TestMultimodal:
    def test_feature_plumbing(self, spark, sf_dir):
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(20)
        media = multimodal.documents_as_media(docs)
        feats = multimodal.decode_image_features(media, feat_dim=4)
        rows = feats.collect()
        assert len(rows) == 20
        assert all(len(r["feature"]) == 4 for r in rows)
        # deterministic: same payload → same features
        again = multimodal.decode_image_features(media, feat_dim=4).collect()
        assert sorted(map(str, rows)) == sorted(map(str, again))

    def test_frame_sampling_schedule(self, spark, sf_dir):
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(5)
        media = multimodal.documents_as_media(docs)
        frames = multimodal.sample_video_frames(media, every_ms=1000)
        pdf = frames.toPandas()
        assert (pdf["frame_ts_ms"] == pdf["frame_idx"] * 1000).all()


class TestRegistry:
    def s(self, *fields):
        return T.StructType([T.StructField(n, t, nullable) for n, t, nullable in fields])

    def test_backward_add_nullable_ok(self):
        v1 = self.s(("a", T.StringType(), False))
        v2 = self.s(("a", T.StringType(), False), ("b", T.LongType(), True))
        assert is_compatible(v2, [v1], Compatibility.BACKWARD)

    def test_backward_add_required_fails(self):
        v1 = self.s(("a", T.StringType(), False))
        v2 = self.s(("a", T.StringType(), False), ("b", T.LongType(), False))
        assert not is_compatible(v2, [v1], Compatibility.BACKWARD)

    def test_forward_remove_nullable_ok(self):
        v1 = self.s(("a", T.StringType(), False), ("b", T.LongType(), True))
        v2 = self.s(("a", T.StringType(), False))
        assert is_compatible(v2, [v1], Compatibility.FORWARD)
        # FULL also holds: v1 can read v2-data (b nullable), v2 can read v1-data
        assert is_compatible(v2, [v1], Compatibility.FULL)

    def test_type_change_incompatible(self):
        v1 = self.s(("a", T.StringType(), False))
        v2 = self.s(("a", T.LongType(), False))
        assert not is_compatible(v2, [v1], Compatibility.BACKWARD)

    def test_registry_enforces(self):
        reg = SchemaRegistry(strategy=Compatibility.BACKWARD)
        v1 = self.s(("a", T.StringType(), False))
        v2 = self.s(("a", T.StringType(), False), ("b", T.LongType(), False))
        assert reg.register("t", v1) == 0
        with pytest.raises(ValueError):
            reg.register("t", v2)
        assert reg.versions("t") == 1


class TestAnnRecall:
    def test_ivf_recall_vs_exact(self, spark, sf_dir):
        """Measured recall@10 of the IVF path against exact brute force on
        the real embeddings table — the approximation must stay useful
        (own-cell + nprobe neighbors), not just run."""
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        q = emb.filter(F.col("vec_id") < 10).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec"))
        dim = len(emb.first()["embedding"])
        exact = similarity.cosine_topk(emb, q, k=10).collect()
        approx = similarity.ivf_topk(emb, q, k=10, dim=dim, n_cells=8, nprobe=3).collect()
        exact_sets = {}
        for r in exact:
            exact_sets.setdefault(r["query_id"], set()).add(r["vec_id"])
        approx_sets = {}
        for r in approx:
            approx_sets.setdefault(r["query_id"], set()).add(r["vec_id"])
        recalls = [len(exact_sets[qid] & approx_sets.get(qid, set())) / len(exact_sets[qid])
                   for qid in exact_sets]
        mean_recall = sum(recalls) / len(recalls)
        # deterministic data + deterministic centroids → stable measurement
        assert mean_recall >= 0.5, f"IVF recall collapsed: {mean_recall:.2f}"
        # every query's own vector must be found (own cell always probed)
        for qid in exact_sets:
            assert qid in approx_sets.get(qid, set())


class TestNearDupPairs:
    def test_exact_pairs_symmetric_clones(self, spark):
        """Two exact clones + one orthogonal vector: exactly one pair."""
        rows = [
            (1, [1.0, 0.0, 0.0, 0.0]),
            (2, [1.0, 0.0, 0.0, 0.0]),
            (3, [0.0, 1.0, 0.0, 0.0]),
        ]
        emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        out = similarity.cosine_neardup_pairs(emb, threshold=0.95).collect()
        assert len(out) == 1
        assert (out[0]["id_a"], out[0]["id_b"]) == (1, 2)
        assert out[0]["cosine_sim"] == 1.0

    def test_zero_vector_never_matches(self, spark):
        rows = [(1, [0.0, 0.0]), (2, [0.0, 0.0]), (3, [1.0, 0.0])]
        emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        out = similarity.cosine_neardup_pairs(emb, threshold=0.5).collect()
        assert out == []

    def test_lsh_blocked_recall_on_real_table(self, spark, sf_dir):
        """Blocked mode must (a) return a subset of the exact pairs with
        identical similarity values, (b) keep recall useful — clones that
        share every hyperplane side are always co-bucketed."""
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        exact = {(r["id_a"], r["id_b"]): r["cosine_sim"]
                 for r in similarity.cosine_neardup_pairs(emb, threshold=0.3).collect()}
        blocked = {(r["id_a"], r["id_b"]): r["cosine_sim"]
                   for r in similarity.cosine_neardup_pairs(
                       emb, threshold=0.3, block_planes=2, dim=64).collect()}
        assert set(blocked) <= set(exact)
        for pair, sim in blocked.items():
            assert sim == exact[pair]
        assert len(blocked) >= 0.2 * len(exact) if exact else True

    def test_auto_block_planes_tracks_log_n(self):
        """Planes grow with log2(N) so per-bucket pair load stays flat —
        the scale knob SCALING.md's ×5.7 finding demands."""
        f = similarity.auto_block_planes
        assert f(500) == 4            # floor: small corpora keep recall
        assert f(200_000) == 6        # ceil(log2(200k/4096))
        assert f(10_000_000) == 12
        assert f(10 ** 12) == 24      # cap
        # occupancy stays in [target/2, target] above the floor
        for n in (10 ** 6, 10 ** 8, 10 ** 10):
            occ = n / 2 ** f(n)
            assert 2048 <= occ <= 4096

    def test_auto_above_cutoff_equals_explicit_blocked(self, spark, sf_dir):
        """auto above gram_max_rows = the LSH-blocked strategy (planes=4,
        dim inferred) — bit-identical output, never the quadratic join."""
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        auto = {(r["id_a"], r["id_b"]): r["cosine_sim"]
                for r in similarity.cosine_neardup_pairs(
                    emb, threshold=0.3, gram_max_rows=10).collect()}
        explicit = {(r["id_a"], r["id_b"]): r["cosine_sim"]
                    for r in similarity.cosine_neardup_pairs(
                        emb, threshold=0.3, block_planes=4, dim=64).collect()}
        assert auto == explicit and auto


class TestWinnowing:
    def test_shared_substring_shares_fingerprint(self, spark):
        """Winnowing guarantee (MOSS): docs sharing a substring of length
        ≥ k+w−1 share at least one fingerprint; disjoint docs don't."""
        from incubator_pulsar_spark.plans.queries import ALL_QUERIES
        import tempfile, os

        common = "the quick brown fox jumps over the lazy dog"
        rows = [
            (1, f"AAA {common} BBB"),
            (2, f"XXX {common} YYY"),
            (3, "zzzz qqqq wwww rrrr tttt uuuu iiii oooo pppp"),
        ]
        tmp = tempfile.mkdtemp()
        spark.createDataFrame(rows, "doc_id long, text string").write.mode(
            "overwrite").parquet(os.path.join(tmp, "documents.parquet"))
        out = ALL_QUERIES["winnow_fingerprints_docs"].build(spark, tmp).collect()
        fps = {}
        for r in out:
            fps.setdefault(r.doc_id, set()).add(r.fingerprint)
        assert fps[1] & fps[2], "shared substring must share a fingerprint"
        assert not (fps[1] & fps[3])
        assert not (fps[2] & fps[3])


class TestClusterResolution:
    def test_connected_components_two_clusters(self, spark):
        """{1-2, 2-3} and {10-11} plus singleton 20 → labels = min of
        each component, converged in diameter rounds."""
        from incubator_pulsar_spark.functions import fuzzy

        edges = spark.createDataFrame(
            [(2, 1), (2, 3), (10, 11)], "doc_a long, doc_b long")
        ids = spark.createDataFrame([(i,) for i in (1, 2, 3, 10, 11, 20)],
                                    "doc_id long")
        cc = fuzzy.connected_components(edges, all_ids=ids)
        got = {r.id: r.cluster for r in cc.collect()}
        assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 20: 20}

    def test_connected_components_chain_diameter(self, spark):
        """A 6-node chain needs several propagation rounds — exercises
        the iterate-until-converged path, not just one hop."""
        from incubator_pulsar_spark.functions import fuzzy

        edges = spark.createDataFrame(
            [(i, i + 1) for i in range(1, 6)], "doc_a long, doc_b long")
        cc = fuzzy.connected_components(edges)
        got = {r.id: r.cluster for r in cc.collect()}
        assert got == {i: 1 for i in range(1, 7)}


class TestPatternsAndTfidf:
    def test_pattern_counts(self, spark):
        df = spark.createDataFrame(
            [("see https://a.io/x and mail bob@corp.example now 1234567",),
             ("plain words only here",)], "text string")
        out = df.select(
            text.url_count(F.col("text")).alias("u"),
            text.email_count(F.col("text")).alias("e"),
            text.long_digit_run_count(F.col("text")).alias("d"),
        ).collect()
        assert (out[0]["u"], out[0]["e"], out[0]["d"]) == (1, 1, 1)
        assert (out[1]["u"], out[1]["e"], out[1]["d"]) == (0, 0, 0)

    def test_tfidf_rare_term_wins(self, spark):
        docs = spark.createDataFrame(
            [(1, "common common zebra"), (2, "common words here"),
             (3, "common words there")], "doc_id long, text string")
        top = text.tfidf_top_terms(docs, k=1).collect()
        by_doc = {r.doc_id: r.term for r in top}
        # doc 1: common 2·(3/4)=1.5 ties zebra 1·(3/2)=1.5 → term asc
        assert by_doc[1] == "common"
        # docs 2/3: the doc-unique term (df=1) outscores the shared ones
        assert by_doc[2] == "here"
        assert by_doc[3] == "there"


def test_prefix_filter_exact_equivalence(spark):
    """Prefix-filter-then-verify must return EXACTLY the plain
    inverted-index join's pairs (zero false negatives — the AllPairs
    prefix principle), at a high threshold where it's the right tool."""
    docs = spark.createDataFrame(
        [(1, "abcdefghijklmno"), (2, "abcdefghijklmnx"),   # near-dup
         (3, "zzzzyyyyxxxxwwww"), (4, "totally different words here"),
         (5, "abcdefghijklmno")],                          # exact dup of 1
        "doc_id long, text string")
    full = {(r.doc_a, r.doc_b, r.jaccard)
            for r in fuzzy.jaccard_pairs(docs, k=3, threshold=0.8).collect()}
    pref = {(r.doc_a, r.doc_b, r.jaccard)
            for r in fuzzy.jaccard_pairs_prefix(docs, k=3, threshold=0.8).collect()}
    assert pref == full and (1, 5, 1.0) in full


def test_jaccard_auto_picks_strategy(spark):
    """Threshold-driven physical strategy, identical logical result."""
    docs = spark.createDataFrame(
        [(1, "abcdefghij"), (2, "abcdefghix"), (3, "qqqqwwwweeee")],
        "doc_id long, text string")
    hi = {(r.doc_a, r.doc_b) for r in
          fuzzy.jaccard_pairs_auto(docs, k=3, threshold=0.8).collect()}
    hi_ref = {(r.doc_a, r.doc_b) for r in
              fuzzy.jaccard_pairs(docs, k=3, threshold=0.8).collect()}
    lo = {(r.doc_a, r.doc_b) for r in
          fuzzy.jaccard_pairs_auto(docs, k=3, threshold=0.3).collect()}
    lo_ref = {(r.doc_a, r.doc_b) for r in
              fuzzy.jaccard_pairs(docs, k=3, threshold=0.3).collect()}
    assert hi == hi_ref and lo == lo_ref


def test_jaccard_auto_df_cut_engages_above_size_threshold(spark):
    """Past df_cut_docs at low threshold, auto must route through the
    max_df df-cut (the safe default on big corpora): identical result
    to the explicit max_df call, and values still exact where reported."""
    docs = spark.createDataFrame(
        [(i, f"abcdefghij{i % 7}") for i in range(30)]
        + [(100, "zzzzyyyyxxxx"), (101, "zzzzyyyyxxxw")],
        "doc_id long, text string")
    auto = {(r.doc_a, r.doc_b, r.jaccard) for r in fuzzy.jaccard_pairs_auto(
        docs, k=3, threshold=0.3, df_cut_docs=10).collect()}
    want = {(r.doc_a, r.doc_b, r.jaccard) for r in fuzzy.jaccard_pairs(
        docs, k=3, threshold=0.3, max_df=0.05).collect()}
    assert auto == want
    # below the size threshold the plain exact join is unchanged
    small = docs.limit(5)
    a2 = {(r.doc_a, r.doc_b, r.jaccard) for r in fuzzy.jaccard_pairs_auto(
        small, k=3, threshold=0.3, df_cut_docs=10).collect()}
    w2 = {(r.doc_a, r.doc_b, r.jaccard) for r in fuzzy.jaccard_pairs(
        small, k=3, threshold=0.3).collect()}
    assert a2 == w2


class TestPpmKernels:
    """REAL image kernels on the dependency-free PPM (P6) format."""

    def _img(self, h, w):
        import numpy as np

        return (np.arange(h * w * 3, dtype="uint32") % 256).astype("uint8") \
            .reshape(h, w, 3)

    def test_encode_decode_roundtrip(self):
        import numpy as np

        from incubator_pulsar_spark.functions import multimodal as mm

        arr = self._img(5, 7)
        assert np.array_equal(mm.decode_ppm(mm.encode_ppm(arr)), arr)

    def test_decode_handles_comments_and_rejects_non_ppm(self):
        import numpy as np

        from incubator_pulsar_spark.functions import multimodal as mm

        arr = self._img(2, 2)
        raw = b"P6\n# a comment\n2 2\n255\n" + arr.tobytes()
        assert np.array_equal(mm.decode_ppm(raw), arr)
        assert mm.decode_ppm(b"not an image") is None
        assert mm.decode_ppm(None) is None

    def test_decode_malformed_after_magic_returns_none(self):
        """Corrupt payloads that PASS the magic check degrade to None
        (one bad blob must not fail the whole Spark task)."""
        import numpy as np

        from incubator_pulsar_spark.functions import multimodal as mm

        arr = self._img(4, 4)
        whole = mm.encode_ppm(arr)
        assert mm.decode_ppm(whole[: len(whole) // 2]) is None  # truncated pixels
        assert mm.decode_ppm(b"P6\nabc def\n255\nxxxx") is None  # garbage header
        assert mm.decode_ppm(b"P6\n") is None                    # header only
        assert mm.decode_ppm(b"P6\n-3 2\n255\n" + b"\x00" * 18) is None

    def test_decode_images_dataframe(self, spark):
        from pyspark.sql import Row

        from incubator_pulsar_spark.functions import multimodal as mm

        import numpy as np

        solid = np.full((4, 4, 3), (10, 20, 30), dtype="uint8")
        df = spark.createDataFrame([
            Row(media_id=1, content=bytearray(mm.encode_ppm(solid))),
            Row(media_id=2, content=bytearray(b"garbage")),
        ], "media_id LONG, content BINARY")
        got = {r.media_id: r for r in mm.decode_ppm_images(df).collect()}
        assert (got[1].width, got[1].height) == (4, 4)
        assert (got[1].mean_r, got[1].mean_g, got[1].mean_b) == (10.0, 20.0, 30.0)
        assert got[2].width is None and got[2].mean_r is None

    def test_resize_real_pixels(self, spark):
        import numpy as np

        from pyspark.sql import Row

        from incubator_pulsar_spark.functions import multimodal as mm

        arr = self._img(4, 4)
        df = spark.createDataFrame(
            [Row(media_id=1, content=bytearray(mm.encode_ppm(arr)),
                 width=4, height=4)],
            "media_id LONG, content BINARY, width INT, height INT")
        out = mm.resize_ppm_images(df, width=2, height=2).collect()[0]
        assert (out.width, out.height) == (2, 2)
        got = mm.decode_ppm(out.content)
        # nearest-neighbor: rows/cols 0 and 2 of the source survive
        assert np.array_equal(got, arr[np.ix_([0, 2], [0, 2])])


class TestWavKernels:
    """REAL audio kernels on the dependency-free RIFF PCM format."""

    def test_encode_decode_roundtrip(self):
        import numpy as np

        from incubator_pulsar_spark.functions import multimodal as mm

        s = np.array([0, 1, -1, 32767, -32768, 123], dtype="<i2")
        rate, ch, back = mm.decode_wav(mm.encode_wav(s, 44100, channels=1))
        assert (rate, ch) == (44100, 1)
        assert np.array_equal(back, s)

    def test_decode_skips_extra_chunks(self):
        import struct

        import numpy as np

        from incubator_pulsar_spark.functions import multimodal as mm

        s = np.array([5, -5], dtype="<i2")
        raw = bytearray(mm.encode_wav(s, 8000))
        # splice a LIST chunk between WAVE and fmt (odd size → padded)
        extra = b"LIST" + struct.pack("<I", 3) + b"abc\x00"
        spliced = bytes(raw[:12]) + extra + bytes(raw[12:])
        spliced = spliced[:4] + struct.pack("<I", len(spliced) - 8) + spliced[8:]
        rate, _, back = mm.decode_wav(spliced)
        assert rate == 8000 and np.array_equal(back, s)

    def test_decode_rejects_non_wav(self):
        from incubator_pulsar_spark.functions import multimodal as mm

        assert mm.decode_wav(b"RIFFxxxxAVI ") is None
        assert mm.decode_wav(b"short") is None
        assert mm.decode_wav(None) is None

    def test_decode_malformed_chunks_return_none(self):
        """fmt chunk shorter than 8 bytes / odd-length data chunk → None,
        never struct.error/ValueError out of the kernel."""
        import struct

        import numpy as np

        from incubator_pulsar_spark.functions import multimodal as mm

        short_fmt = (b"RIFF" + struct.pack("<I", 16) + b"WAVE"
                     + b"fmt " + struct.pack("<I", 4) + b"\x01\x00\x01\x00")
        assert mm.decode_wav(short_fmt) is None

        s = np.array([1, 2], dtype="<i2")
        raw = bytearray(mm.encode_wav(s, 8000))
        # corrupt the data chunk size to odd so frombuffer("<i2") would raise
        data_at = bytes(raw).index(b"data")
        raw[data_at + 4:data_at + 8] = struct.pack("<I", 3)
        assert mm.decode_wav(bytes(raw)) is None

    def test_stereo_duration_is_frame_based(self, spark):
        """Interleaved stereo: duration must divide by channels — a 2ch
        clip of 4 samples at 8 kHz is 2 frames = 0.25 ms, not 0.5 ms."""
        import numpy as np

        from pyspark.sql import Row

        from incubator_pulsar_spark.functions import multimodal as mm

        s = np.array([3, -3, 4, -4], dtype="<i2")  # 2 frames × 2 channels
        df = spark.createDataFrame(
            [Row(media_id=1, content=bytearray(mm.encode_wav(s, 8000, channels=2)))],
            "media_id LONG, content BINARY")
        r = mm.decode_wav_audio(df).collect()[0]
        assert r.n_samples == 4  # interleaved samples (frames × channels)
        assert r.duration_ms == 0.25

    def test_decode_audio_dataframe(self, spark):
        import numpy as np

        from pyspark.sql import Row

        from incubator_pulsar_spark.functions import multimodal as mm

        s = np.array([3, 4], dtype="<i2")  # mean_square = (9+16)/2 = 12.5
        df = spark.createDataFrame([
            Row(media_id=1, content=bytearray(mm.encode_wav(s, 16000))),
            Row(media_id=2, content=bytearray(b"not audio")),
        ], "media_id LONG, content BINARY")
        got = {r.media_id: r for r in mm.decode_wav_audio(df).collect()}
        r1 = got[1]
        assert (r1.sample_rate, r1.n_samples, r1.peak) == (16000, 2, 4)
        assert r1.mean_square == 12.5 and r1.duration_ms == 0.125
        assert got[2].sample_rate is None


class TestSampling:
    """Deterministic md5-derived sampling + sequence packing."""

    def _docs(self, spark, sf_dir):
        return spark.read.parquet(f"{sf_dir}/documents.parquet")

    def test_hash_sample_deterministic_and_calibrated(self, spark, sf_dir):
        from incubator_pulsar_spark.functions import sampling

        docs = self._docs(spark, sf_dir)
        a = sorted(r.doc_id for r in sampling.hash_sample(
            docs, 0.3, id_col="doc_id").select("doc_id").collect())
        b = sorted(r.doc_id for r in sampling.hash_sample(
            docs, 0.3, id_col="doc_id").select("doc_id").collect())
        assert a == b  # no RNG state anywhere
        n = docs.count()
        assert 0.2 * n < len(a) < 0.4 * n  # calibrated-ish at n=500
        # monotone: a smaller fraction is a SUBSET (same hash, lower cut)
        c = {r.doc_id for r in sampling.hash_sample(
            docs, 0.1, id_col="doc_id").select("doc_id").collect()}
        assert c <= set(a)

    def test_stratified_rates_respected(self, spark, sf_dir):
        from pyspark.sql import functions as F

        from incubator_pulsar_spark.functions import sampling

        docs = self._docs(spark, sf_dir)
        out = sampling.stratified_sample(
            docs, {"src0": 1.0, "src1": 0.0}, strata_col="source",
            id_col="doc_id", default_rate=0.5)
        kept = {r["source"]: r["n"] for r in
                out.groupBy("source").agg(F.count("*").alias("n")).collect()}
        tot = {r["source"]: r["n"] for r in
               docs.groupBy("source").agg(F.count("*").alias("n")).collect()}
        assert kept["src0"] == tot["src0"]  # rate 1.0 keeps all
        assert "src1" not in kept           # rate 0.0 drops all
        others = sum(v for k, v in kept.items() if k not in ("src0", "src1"))
        others_tot = sum(v for k, v in tot.items() if k not in ("src0", "src1"))
        assert 0.3 * others_tot < others < 0.7 * others_tot

    def test_stratified_fixed_exact_n(self, spark, sf_dir):
        from pyspark.sql import functions as F

        from incubator_pulsar_spark.functions import sampling

        docs = self._docs(spark, sf_dir)
        out = sampling.stratified_fixed(docs, 5, strata_col="lang",
                                        id_col="doc_id")
        per = {r["lang"]: r["n"] for r in
               out.groupBy("lang").agg(F.count("*").alias("n")).collect()}
        assert all(v == 5 for v in per.values())
        # deterministic selection
        again = sampling.stratified_fixed(docs, 5, strata_col="lang",
                                          id_col="doc_id")
        assert sorted(r.doc_id for r in out.collect()) == \
            sorted(r.doc_id for r in again.collect())

    def test_pack_sequences_invariants(self, spark, sf_dir):
        from pyspark.sql import functions as F

        from incubator_pulsar_spark.functions import sampling

        docs = self._docs(spark, sf_dir)
        cap = 512
        packed = sampling.pack_sequences(docs, cap, id_col="doc_id",
                                         n_shards=8)
        # every doc assigned exactly once
        assert packed.count() == docs.count()
        assert packed.select("doc_id").distinct().count() == docs.count()
        max_tok = packed.agg(F.max("n_tokens")).collect()[0][0]
        bins = (packed.groupBy("shard", "bin_id")
                .agg(F.sum("n_tokens").alias("fill")).collect())
        # spillover contract: fill <= capacity + (max doc tokens - 1)
        assert all(b["fill"] <= cap + max_tok - 1 for b in bins)
        # bins are contiguous per shard: 0..max with none missing
        per_shard = {}
        for b in bins:
            per_shard.setdefault(b["shard"], set()).add(b["bin_id"])
        for s, ids in per_shard.items():
            assert ids == set(range(len(ids))), f"shard {s} has gaps"
        # all bins except the last per shard are at least capacity-full
        for s, ids in per_shard.items():
            fills = {b["bin_id"]: b["fill"] for b in bins if b["shard"] == s}
            for i in range(len(ids) - 1):
                assert fills[i] >= cap - max_tok, (s, i, fills[i])


class TestKmvSketch:
    def test_small_cardinality_is_exact(self, spark):
        from incubator_pulsar_spark.functions.sketches import kmv_distinct

        rows = [(g, v) for g in ("a", "b") for v in range(50)]
        df = spark.createDataFrame(rows, "g string, v long")
        out = {r.g: r for r in kmv_distinct(df, ["g"], "v", k=256).collect()}
        # fewer than k distinct -> the sketch IS the exact count
        assert out["a"].n_kept == 50 and out["a"].kmv_estimate == 50.0
        assert out["b"].kmv_estimate == 50.0

    def test_estimate_within_bound_and_partition_invariant(self, spark):
        from pyspark.sql import functions as F

        from incubator_pulsar_spark.functions.sketches import kmv_distinct

        n = 20_000
        df = spark.range(n).select((F.col("id") % 2).cast("string").alias("g"),
                                   F.col("id").alias("v"))
        got = {r.g: r.kmv_estimate
               for r in kmv_distinct(df, ["g"], "v", k=512).collect()}
        for g, true in (("0", n / 2), ("1", n / 2)):
            assert abs(got[g] - true) / true < 0.2  # ~4.4 sigma at k=512
        # mergeability: radically different partitioning, identical sketch
        again = {r.g: r.kmv_estimate
                 for r in kmv_distinct(df.repartition(97), ["g"], "v",
                                       k=512).collect()}
        assert got == again

    def test_duplicates_do_not_inflate(self, spark):
        from pyspark.sql import functions as F

        from incubator_pulsar_spark.functions.sketches import kmv_distinct

        base = spark.range(1000).select(F.lit("g").alias("g"),
                                        F.col("id").alias("v"))
        dup = base.union(base).union(base)
        a = kmv_distinct(base, ["g"], "v", k=128).collect()[0]
        b = kmv_distinct(dup, ["g"], "v", k=128).collect()[0]
        assert (a.n_kept, a.kmv_estimate) == (b.n_kept, b.kmv_estimate)


class TestOovRate:
    def test_oov_rate_against_hand_model(self, spark):
        from incubator_pulsar_spark.functions.text import oov_rate, top_vocabulary

        docs = spark.createDataFrame(
            [(1, "aa aa bb"), (2, "aa zz"), (3, "!!!")],
            "doc_id long, text string")
        vocab = top_vocabulary(docs, 2)  # {aa (3), bb (1)} — zz loses tie rank
        got = {r.doc_id: (r.n_words, r.oov_rate)
               for r in oov_rate(docs, vocab).collect()}
        assert got[1] == (3, 0.0)                 # all in vocab
        assert got[2] == (2, 0.5)                 # zz is OOV
        assert got[3] == (0, 0.0)                 # wordless doc kept, rate 0
