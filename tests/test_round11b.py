"""Round-11 session-2 operator locks: binary quantization, symmetric
SQ8, HyperLogLog (batch + streaming), integer-unit PageRank, shingle
containment.

Each family gets (a) a reference-model parity check (numpy / pure
python — the same discipline as the PQ and MG tests), (b) its
distribution-shape contracts (packing widths, merge algebra, filter
semantics), and (c) where the operator trades exactness for scale, a
measured accuracy bound on a deterministic fixture.
"""

from __future__ import annotations

import hashlib
import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from incubator_pulsar_spark.functions import fuzzy, graph, sketches, similarity


def _emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet") \
        .select("vec_id", "embedding")


def _emb_np(spark, sf_dir):
    rows = spark.read.parquet(f"{sf_dir}/embeddings.parquet") \
        .select("vec_id", "embedding").orderBy("vec_id").collect()
    return np.array([r.embedding for r in rows], dtype="float64")


class TestBinaryQuant:
    def test_signatures_match_numpy_sign_bits(self, spark, sf_dir):
        emb = _emb(spark, sf_dir)
        X = _emb_np(spark, sf_dir)
        got = {r.vec_id: r.sig for r in
               similarity.binarize_embeddings(emb, dim=64).collect()}
        for vid, x in enumerate(X):
            want = 0
            for i, v in enumerate(x):
                if v > 0.0:
                    want |= 1 << i
            # interpret as signed 64-bit (Spark long)
            if want >= 1 << 63:
                want -= 1 << 64
            assert got[vid] == [want], vid

    def test_multiword_packing_dim_not_multiple_of_64(self, spark):
        # dim=70 -> 2 words; second word holds bits 64..69 only
        vec = [1.0 if i % 3 == 0 else -1.0 for i in range(70)]
        df = spark.createDataFrame([(0, vec)],
                                   "vec_id long, embedding array<double>")
        sig = similarity.binarize_embeddings(df, dim=70).collect()[0].sig
        assert len(sig) == 2
        w0 = sum(1 << i for i in range(64) if i % 3 == 0)
        if w0 >= 1 << 63:
            w0 -= 1 << 64
        w1 = sum(1 << (i - 64) for i in range(64, 70) if i % 3 == 0)
        assert sig == [w0, w1]

    def test_hamming_topk_matches_reference(self, spark, sf_dir):
        emb = _emb(spark, sf_dir)
        X = _emb_np(spark, sf_dir)
        q = emb.filter(F.col("vec_id") < 3).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("query_vec"))
        got = similarity.hamming_topk(emb, q, k=5, dim=64).collect()
        bits = X > 0.0
        for qi in range(3):
            ham = (bits ^ bits[qi]).sum(axis=1)
            order = sorted(range(len(X)), key=lambda i: (ham[i], i))[:5]
            mine = [(r.vec_id, r.hamming_dist) for r in
                    sorted((r for r in got if r.query_id == qi),
                           key=lambda r: r.rank)]
            assert mine == [(i, int(ham[i])) for i in order]

    def test_full_refine_recovers_exact_cosine_topk(self, spark, sf_dir):
        emb = _emb(spark, sf_dir)
        n = emb.count()
        q = emb.filter(F.col("vec_id") < 3).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("query_vec"))
        got = similarity.hamming_topk(emb, q, k=10, dim=64, refine=n)
        want = similarity.cosine_topk(emb, q, k=10)
        g = [(r.query_id, r.vec_id, r.cosine_sim, r.rank)
             for r in got.collect()]
        w = [(r.query_id, r.vec_id, r.cosine_sim, r.rank)
             for r in want.collect()]
        assert sorted(g) == sorted(w)

    def test_shortlist_recall_beats_random(self, spark, sf_dir):
        """Hamming-50 shortlist must capture most of the true cosine
        top-10 (measured 1.00 on this corpus; random-50 would be ~0.1).
        Locks that the sign bits actually carry angular signal."""
        emb = _emb(spark, sf_dir)
        q = emb.filter(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("query_vec"))
        short = similarity.hamming_topk(emb, q, k=50, dim=64)
        truth = similarity.cosine_topk(emb, q, k=10)
        s = {(r.query_id, r.vec_id) for r in short.collect()}
        t = [(r.query_id, r.vec_id) for r in truth.collect()]
        recall = sum(1 for p in t if p in s) / len(t)
        assert recall >= 0.5, recall


class TestSQ8:
    def test_codes_hit_grid_endpoints(self, spark):
        df = spark.createDataFrame(
            [(0, [0.0, 5.0]), (1, [10.0, 5.0]), (2, [5.0, 5.0])],
            "vec_id long, embedding array<double>")
        mins, maxs = similarity.sq8_train(df, dim=2)
        assert mins == [0.0, 5.0] and maxs == [10.0, 5.0]
        enc = similarity._sq8_attach_grid(
            df.select("vec_id",
                      similarity.as_double_array(F.col("embedding"))
                      .alias("_v")), mins, maxs) \
            .select("vec_id",
                    similarity.sq8_encode_col(
                        F.col("_v"), F.col("_sq_mins"),
                        F.col("_sq_maxs")).alias("c")).collect()
        got = {r.vec_id: r.c for r in enc}
        assert got[0][0] == 0 and got[1][0] == 255 and got[2][0] == 128
        # degenerate dim (max == min) encodes 0 everywhere
        assert {got[i][1] for i in range(3)} == {0}

    def test_codes_match_numpy_reference(self, spark, sf_dir):
        emb = _emb(spark, sf_dir)
        X = _emb_np(spark, sf_dir)
        mins, maxs = similarity.sq8_train(emb, dim=64)
        assert mins == [float(m) for m in X.min(axis=0)]
        assert maxs == [float(m) for m in X.max(axis=0)]
        q = emb.filter(F.col("vec_id") < 3).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("query_vec"))
        got = similarity.sq8_topk(emb, q, k=5, dim=64).collect()
        mn, mx = np.array(mins), np.array(maxs)
        span = np.where(mx > mn, mx - mn, 1.0)
        C = np.clip(np.floor((X - mn) * 255.0 / span + 0.5), 0, 255)
        C = np.where(mx > mn, C, 0.0).astype("int64")
        for qi in range(3):
            d = ((C - C[qi]) ** 2).sum(axis=1)
            order = sorted(range(len(X)), key=lambda i: (d[i], i))[:5]
            mine = [(r.vec_id, r.sq8_dist) for r in
                    sorted((r for r in got if r.query_id == qi),
                           key=lambda r: r.rank)]
            assert mine == [(i, int(d[i])) for i in order]

    def test_full_refine_recovers_exact_cosine_topk(self, spark, sf_dir):
        emb = _emb(spark, sf_dir)
        n = emb.count()
        q = emb.filter(F.col("vec_id") < 3).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("query_vec"))
        got = similarity.sq8_topk(emb, q, k=10, dim=64, refine=n)
        want = similarity.cosine_topk(emb, q, k=10)
        g = [(r.query_id, r.vec_id, r.cosine_sim, r.rank)
             for r in got.collect()]
        w = [(r.query_id, r.vec_id, r.cosine_sim, r.rank)
             for r in want.collect()]
        assert sorted(g) == sorted(w)

    def test_explicit_train_equals_default(self, spark, sf_dir):
        emb = _emb(spark, sf_dir)
        q = emb.filter(F.col("vec_id") < 2).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("query_vec"))
        train = similarity.sq8_train(emb, dim=64)
        a = similarity.sq8_topk(emb, q, k=5, dim=64).collect()
        b = similarity.sq8_topk(emb, q, k=5, dim=64, train=train).collect()
        assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def _hll_py_registers(values, salt="hll"):
    regs = [0] * 256
    for v in set(values):
        h = hashlib.md5(f"{salt}:{v}".encode()).hexdigest()
        bucket = int(h[14:16], 16)
        w = int(h[0:14], 16)
        rho = 57 if w == 0 else 57 - (len(bin(w)) - 2)
        regs[bucket] = max(regs[bucket], rho)
    return regs


class TestHLL:
    def test_registers_match_python_reference(self, spark, sf_dir):
        ev = spark.read.parquet(f"{sf_dir}/events.parquet")
        want = _hll_py_registers(
            r.user_id for r in ev.select("user_id").collect())
        got = {r.bucket: r.rho for r in
               sketches.hll_register_table(ev, "user_id").collect()}
        assert [got[b] for b in range(256)] == want

    def test_estimate_micro_matches_python(self, spark, sf_dir):
        ev = spark.read.parquet(f"{sf_dir}/events.parquet")
        regs = _hll_py_registers(
            r.user_id for r in ev.select("user_id").collect())
        z = sum(1 << (57 - r) for r in regs)
        want = math.floor(sketches.HLL_EST_CONST / float(z) * 1e6)
        row = sketches.hll_distinct(ev, "user_id").collect()[0]
        assert row.est_micro == want
        assert row.n_zero == sum(1 for r in regs if r == 0)

    def test_merge_is_register_max(self, spark, sf_dir):
        """Sketch of the union == element-wise MAX of the halves'
        sketches — the mergeability property that makes HLL work
        map-side and across micro-batches."""
        ev = spark.read.parquet(f"{sf_dir}/events.parquet")
        a = ev.filter(F.col("user_id") % 2 == 0)
        b = ev.filter(F.col("user_id") % 2 == 1)
        ra = {r.bucket: r.rho for r in
              sketches.hll_register_table(a, "user_id").collect()}
        rb = {r.bucket: r.rho for r in
              sketches.hll_register_table(b, "user_id").collect()}
        ru = {r.bucket: r.rho for r in
              sketches.hll_register_table(ev, "user_id").collect()}
        for bkt in range(256):
            assert ru[bkt] == max(ra[bkt], rb[bkt])

    def test_grouped_registers(self, spark, sf_dir):
        ev = spark.read.parquet(f"{sf_dir}/events.parquet")
        regs = sketches.hll_register_table(ev, "user_id",
                                           group_cols=["event_type"])
        n_types = ev.select("event_type").distinct().count()
        assert regs.count() == 256 * n_types
        est = sketches.hll_estimate(regs, group_cols=["event_type"])
        assert est.count() == n_types

    def test_corrected_estimate_accuracy(self, spark):
        """5000 distinct values: raw estimate must land within the
        ~3σ HLL error band (1.04/√256 ≈ 6.5% per σ). Deterministic
        fixture (md5 hashing), so this is a fixed measurement, not a
        flaky statistical test."""
        df = spark.range(5000).select(F.col("id").alias("v"))
        row = sketches.hll_distinct(df, "v", corrected=True).collect()[0]
        assert abs(row.estimate - 5000) / 5000 < 0.20, row.estimate

    def test_corrected_small_range_uses_linear_counting(self, spark):
        """15 distinct values: raw HLL wildly overestimates below
        ~m/4; the corrected form must fall back to linear counting and
        land within ±2 of the truth."""
        df = spark.range(15).select(F.col("id").alias("v"))
        row = sketches.hll_distinct(df, "v", corrected=True).collect()[0]
        assert abs(row.estimate - 15) <= 2, row.estimate

    def test_stream_matches_batch_across_passes(self, spark, tmp_path,
                                                sf_dir):
        """Two availableNow passes over a growing topic: the final
        streaming (n_zero, est_micro) per group equals the batch
        sketch of the union — register MAX merging across batches."""
        from incubator_pulsar_spark.streaming.sketches import (
            hll_distinct_stream)

        src = str(tmp_path / "ev_topic")
        sink = str(tmp_path / "hll_out")
        ev = spark.read.parquet(f"{sf_dir}/events.parquet") \
            .select("event_type", "user_id")
        first = ev.filter(F.col("user_id") % 2 == 0)
        second = ev.filter(F.col("user_id") % 2 == 1)
        first.write.parquet(src)

        def run(tag):
            stream = spark.readStream.schema(first.schema).parquet(src)
            out = hll_distinct_stream(stream, ["event_type"], "user_id")

            def write(df, batch_id):
                df.withColumn("pass_tag", F.lit(tag)) \
                    .write.mode("append").parquet(sink)

            (out.writeStream.foreachBatch(write).outputMode("update")
             .option("checkpointLocation", str(tmp_path / "ck"))
             .trigger(availableNow=True).start().awaitTermination(120))

        run(0)
        second.write.mode("append").parquet(src)
        run(1)

        got = {}
        for r in spark.read.parquet(sink).orderBy("pass_tag").collect():
            got[r.event_type] = (r.n_zero, r.est_micro)
        regs = sketches.hll_register_table(ev, "user_id",
                                           group_cols=["event_type"])
        want = {r.event_type: (r.n_zero, r.est_micro)
                for r in sketches.hll_estimate(
                    regs, group_cols=["event_type"]).collect()}
        assert got == want


def _pr_reference(E, iters=5, micro=10**6):
    nodes = sorted({x for e in E for x in e})
    n = len(nodes)
    out = {}
    for s, d in set(E):
        out.setdefault(s, set()).add(d)
    r = {v: micro // n for v in nodes}
    base = ((micro // n) * 15) // 100
    for _ in range(iters):
        nr = {v: base for v in nodes}
        for s, ds in out.items():
            for d in ds:
                nr[d] += (r[s] * 85) // (100 * len(ds))
        r = nr
    return r


class TestPageRank:
    EDGES = [(f"n{i}", f"n{(i * 7 + 3) % 20}") for i in range(60)] + \
            [("n0", "n5"), ("n5", "n0"), ("hub", "n0"),
             ("n1", "hub"), ("n2", "hub"), ("n3", "hub")]

    def _df(self, spark, edges):
        return spark.createDataFrame(
            [(s, d) for s, d in edges if s != d], "src string, dst string")

    def test_matches_integer_reference(self, spark):
        edges = [(s, d) for s, d in self.EDGES if s != d]
        got = {r.node: r.rank_micro
               for r in graph.pagerank(self._df(spark, edges),
                                       iters=5).collect()}
        assert got == _pr_reference(edges)

    def test_duplicate_edges_collapse(self, spark):
        edges = [("a", "b"), ("b", "a")]
        once = graph.pagerank(self._df(spark, edges), iters=3).collect()
        thrice = graph.pagerank(self._df(spark, edges * 3),
                                iters=3).collect()
        assert sorted(map(tuple, once)) == sorted(map(tuple, thrice))

    def test_mass_conservation_bound(self, spark):
        """Total rank never exceeds the initial mass (floor bias and
        dangling decay only LOSE micro-units, never mint them)."""
        edges = [(s, d) for s, d in self.EDGES if s != d]
        rows = graph.pagerank(self._df(spark, edges), iters=5).collect()
        assert sum(r.rank_micro for r in rows) <= 10**6

    def test_dangling_node_decays_to_base(self, spark):
        # 'sink' has no out-edges; after enough iterations its rank is
        # base + its single incoming contribution
        edges = [("a", "sink"), ("b", "a"), ("a", "b")]
        got = {r.node: r.rank_micro
               for r in graph.pagerank(self._df(spark, edges),
                                       iters=5).collect()}
        assert got == _pr_reference(edges)
        # hub 'a' (in-edges from b) outranks the pure sink
        assert got["a"] > got["sink"] or got["sink"] < 10**6 // 3

    def test_broadcast_ranks_identical_output(self, spark):
        """broadcast_ranks=True is a pure plan change: bit-identical
        ranks to the default shuffle-join form."""
        edges = [(s, d) for s, d in self.EDGES if s != d]
        a = graph.pagerank(self._df(spark, edges), iters=5).collect()
        b = graph.pagerank(self._df(spark, edges), iters=5,
                           broadcast_ranks=True).collect()
        assert sorted(map(tuple, a)) == sorted(map(tuple, b))

    def test_hub_outranks_periphery(self, spark):
        # star graph: everything points at 'hub'
        edges = [(f"s{i}", "hub") for i in range(8)] + [("hub", "s0")]
        got = {r.node: r.rank_micro
               for r in graph.pagerank(self._df(spark, edges),
                                       iters=5).collect()}
        assert got["hub"] == max(got.values())
        assert got["s0"] > got["s1"]  # s0 receives hub's mass


class TestContainment:
    def test_subset_dup_found_where_jaccard_misses(self, spark):
        short = "alpha beta gamma delta epsilon zeta"
        long_doc = ("prefix padding words here and more filler " * 5
                    + short + " suffix trailer closing words " * 5)
        docs = spark.createDataFrame(
            [(1, short), (2, long_doc), (3, "unrelated content entirely")],
            "doc_id long, text string")
        got = fuzzy.containment_pairs(docs, k=5, threshold=0.9).collect()
        pairs = {(r.doc_id, r.container_id): r.containment for r in got}
        assert pairs.get((1, 2)) == 1.0
        # the reverse direction is NOT a containment (long ⊄ short)
        assert (2, 1) not in pairs
        # Jaccard misses it at any usable threshold (union dominated
        # by the long doc)
        jac = fuzzy.jaccard_pairs(docs, k=5, threshold=0.3).collect()
        assert not any({r.doc_a, r.doc_b} == {1, 2} for r in jac)

    def test_exact_against_python_sets(self, spark, sf_dir):
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet") \
            .limit(60).cache()
        rows = docs.collect()

        def shingles(t):
            norm = " ".join(t.lower().split())
            # mirror char_shingles: k=5 char grams, whole text if short
            k = 5
            if len(norm) <= k:
                return {norm}
            return {norm[i:i + k] for i in range(len(norm) - k + 1)}

        want = {}
        ss = {r.doc_id: shingles(r.text) for r in rows}
        for a, sa in ss.items():
            for b, sb in ss.items():
                if a == b or len(sa) < 10:
                    continue
                c = round(len(sa & sb) / len(sa), 6)
                if c >= 0.4:
                    want[(a, b)] = (len(sa), len(sa & sb), c)
        got = {(r.doc_id, r.container_id):
               (r.n_shingles, r.n_common, r.containment)
               for r in fuzzy.containment_pairs(
                   docs, k=5, threshold=0.4, min_shingles=10).collect()}
        docs.unpersist()
        assert got == want

    def test_min_shingles_filter(self, spark):
        docs = spark.createDataFrame(
            [(1, "abcde"), (2, "abcde fghij klmno pqrst uvwxy")],
            "doc_id long, text string")
        # doc 1 has ONE shingle (whole text) -> filtered at min 2
        got = fuzzy.containment_pairs(docs, k=5, threshold=0.5,
                                      min_shingles=2).collect()
        assert not any(r.doc_id == 1 for r in got)


class TestBQIndex:
    def test_lifecycle_equals_one_shot(self, spark, tmp_path, sf_dir):
        """build-half + append-half probe == one-shot hamming_topk —
        the training-free contract (signatures are pure functions of
        the vectors, so the split cannot matter)."""
        emb = _emb(spark, sf_dir)
        d = str(tmp_path / "bq")
        similarity.bq_write_index(
            emb.filter(F.col("vec_id") % 2 == 0), d, dim=64)
        n1 = similarity.append_index(
            emb.filter(F.col("vec_id") % 2 == 1), d)
        assert spark.read.parquet(f"{d}/base").count() == emb.count()
        assert n1 == emb.filter(F.col("vec_id") % 2 == 1).count()
        q = emb.filter(F.col("vec_id") < 3).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("query_vec"))
        a = similarity.search_index(spark, d, q, k=5, refine=20,
                                    vectors=emb).collect()
        b = similarity.hamming_topk(emb, q, k=5, dim=64,
                                    refine=20).collect()
        assert sorted(map(tuple, a)) == sorted(map(tuple, b))

    def test_meta_threshold_pinned(self, spark, tmp_path):
        """Appends encode under the SIDECAR's threshold, not a caller
        default — a nonzero build threshold must flip the bits of an
        appended vector sitting between 0 and the threshold."""
        df0 = spark.createDataFrame([(0, [1.0, -1.0])],
                                    "vec_id long, embedding array<double>")
        df1 = spark.createDataFrame([(1, [0.25, -1.0])],
                                    "vec_id long, embedding array<double>")
        d = str(tmp_path / "bq")
        similarity.bq_write_index(df0, d, dim=2, threshold=0.5)
        similarity.append_index(df1, d)
        sigs = {r.vec_id: r.sig
                for r in spark.read.parquet(f"{d}/base").collect()}
        assert sigs[1] == [0]  # 0.25 < 0.5 threshold -> bit clear


class TestMinhashEstimate:
    def test_matches_python_minhash(self, spark):
        """Signature agreement fraction replayed in pure python over
        the same md5 family (4 digests × 4 disjoint 8-hex slices)."""
        import hashlib

        texts = {1: "the quick brown fox jumps over the lazy dog",
                 2: "the quick brown fox jumps over the lazy cat",
                 3: "the quick brown fox leaps over the lazy dog"}
        docs = spark.createDataFrame(list(texts.items()),
                                     "doc_id long, text string")
        cand = spark.createDataFrame([(1, 2), (1, 3), (2, 3)],
                                     "doc_a long, doc_b long")
        got = {(r.doc_a, r.doc_b): (r.n_agree, r.est_jaccard, r.jaccard)
               for r in fuzzy.minhash_jaccard_estimate(
                   docs, k=5, candidates=cand).collect()}

        def sig(t):
            norm = " ".join(t.lower().split())
            sh = {norm[i:i + 5] for i in range(max(len(norm) - 4, 1))}
            out = []
            for i in range(16):
                digest = lambda s: hashlib.md5(
                    (s + "#" * (i // 4)).encode()).hexdigest()
                out.append(min(digest(s)[(i % 4) * 8:(i % 4) * 8 + 8]
                               for s in sh))
            return out, sh

        for a, b in [(1, 2), (1, 3), (2, 3)]:
            sa, sha = sig(texts[a])
            sb, shb = sig(texts[b])
            n_agree = sum(1 for x, y in zip(sa, sb) if x == y)
            jac = round(len(sha & shb) / len(sha | shb), 6)
            assert got[(a, b)] == (n_agree, round(n_agree / 16.0, 6), jac)

    def test_identical_docs_estimate_one(self, spark):
        docs = spark.createDataFrame(
            [(1, "exactly the same text body here"),
             (2, "exactly the same text body here")],
            "doc_id long, text string")
        rows = fuzzy.minhash_jaccard_estimate(docs, k=5).collect()
        assert len(rows) == 1
        r = rows[0]
        assert (r.n_agree, r.est_jaccard, r.jaccard) == (16, 1.0, 1.0)

    def test_without_exact_skips_shingle_join(self, spark):
        docs = spark.createDataFrame(
            [(1, "aaaa bbbb cccc dddd"), (2, "aaaa bbbb cccc eeee")],
            "doc_id long, text string")
        cols = fuzzy.minhash_jaccard_estimate(
            docs, k=5, with_exact=False).columns
        assert cols == ["doc_a", "doc_b", "n_agree", "est_jaccard"]


class TestMadOutliers:
    def _ref(self, rows, k=3):
        import statistics

        def med_type1(xs):
            xs = sorted(xs)
            return xs[(len(xs) * 1 + 1) // 2 - 1] if (len(xs) + 1) % 2 or True \
                else None

        # type-1 median: element at ceil(n/2) (1-based)
        def t1(xs):
            xs = sorted(xs)
            import math
            return xs[math.ceil(len(xs) / 2) - 1]

        out = {}
        from collections import defaultdict
        groups = defaultdict(list)
        for g, v in rows:
            groups[g].append(v)
        for g, vs in groups.items():
            m = t1(vs)
            devs = [abs(v - m) for v in vs]
            mad = t1(devs)
            out[g] = (len(vs), m, mad,
                      sum(1 for d in devs if d * 1 > mad * k))
        return out

    def test_matches_python_reference(self, spark, sf_dir):
        from incubator_pulsar_spark.functions.quantiles import mad_outliers

        ev = spark.read.parquet(f"{sf_dir}/events.parquet")
        rows = [(r.event_type, r.value)
                for r in ev.select("event_type", "value").collect()]
        want = self._ref(rows)
        got = {r.event_type: (r.n, r.median_value, r.mad, r.n_outliers)
               for r in mad_outliers(ev, ["event_type"],
                                     "value").collect()}
        assert got == want

    def test_mad_zero_degeneracy(self, spark):
        """Constant-majority group: MAD = 0, every off-median value
        flags (the documented degeneracy — never a divide-by-zero)."""
        from incubator_pulsar_spark.functions.quantiles import mad_outliers

        df = spark.createDataFrame(
            [("g", 5.0)] * 7 + [("g", 9.0), ("g", 1.0)],
            "grp string, v double")
        r = mad_outliers(df, ["grp"], "v").collect()[0]
        assert (r.median_value, r.mad, r.n_outliers) == (5.0, 0.0, 2)

    def test_k_parameter(self, spark):
        from incubator_pulsar_spark.functions.quantiles import mad_outliers

        df = spark.createDataFrame(
            [("g", float(v)) for v in [1, 2, 3, 4, 5, 6, 7, 8, 9, 100]],
            "grp string, v double")
        loose = mad_outliers(df, ["grp"], "v", k_num=10,
                             k_den=1).collect()[0]
        tight = mad_outliers(df, ["grp"], "v", k_num=1,
                             k_den=1).collect()[0]
        assert loose.n_outliers < tight.n_outliers
        assert loose.n_outliers >= 1  # 100 is always an outlier


class TestCosineGemm:
    def test_parity_with_fold_form(self, spark, sf_dir):
        """GEMM twin == oracle-exact fold form, row for row, on the
        fixture corpus (round-6 sims, (cosine DESC, vec_id) ties)."""
        emb = _emb(spark, sf_dir)
        q = emb.filter(F.col("vec_id") < 20).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("query_vec"))
        a = sorted(map(tuple,
                       similarity.cosine_topk(emb, q, k=10).collect()))
        b = sorted(map(tuple,
                       similarity.cosine_topk_gemm(emb, q, k=10).collect()))
        assert a == b

    def test_boundary_ties_break_by_id(self, spark):
        """Constructed tie AT the per-partition top-k boundary: three
        identical vectors competing for the last two slots must keep
        the two smallest ids (the argpartition widen-then-lexsort
        path)."""
        v = [1.0, 0.0]
        rows = [(i, v) for i in range(5)] + [(9, [0.0, 1.0])]
        emb = spark.createDataFrame(rows,
                                    "vec_id long, embedding array<double>")
        q = spark.createDataFrame([(0, v)],
                                  "query_id long, query_vec array<double>")
        got = [(r.vec_id, r.rank) for r in
               similarity.cosine_topk_gemm(emb, q, k=3).orderBy("rank")
               .collect()]
        assert got == [(0, 1), (1, 2), (2, 3)]

    def test_k_larger_than_corpus(self, spark):
        emb = spark.createDataFrame(
            [(0, [1.0, 0.0]), (1, [0.0, 1.0])],
            "vec_id long, embedding array<double>")
        q = spark.createDataFrame([(7, [1.0, 1.0])],
                                  "query_id long, query_vec array<double>")
        got = similarity.cosine_topk_gemm(emb, q, k=10).collect()
        assert len(got) == 2

    def test_empty_queries(self, spark, sf_dir):
        emb = _emb(spark, sf_dir)
        q = emb.filter(F.col("vec_id") < 0).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("query_vec"))
        assert similarity.cosine_topk_gemm(emb, q, k=5).count() == 0


def _pr_weighted_ref(E, iters=5, micro=10**6):
    """E = {(s, d): w}"""
    nodes = sorted({x for e in E for x in e})
    n = len(nodes)
    W = {}
    for (s, d), w in E.items():
        W[s] = W.get(s, 0) + w
    r = {v: micro // n for v in nodes}
    base = ((micro // n) * 15) // 100
    for _ in range(iters):
        nr = {v: base for v in nodes}
        for (s, d), w in E.items():
            nr[d] += (r[s] * 85 * w) // (100 * W[s])
        r = nr
    return r


class TestGraphFamily:
    def test_weighted_matches_reference(self, spark):
        E = {("a", "b"): 3, ("a", "c"): 1, ("b", "a"): 2, ("c", "a"): 5,
             ("c", "b"): 1, ("d", "a"): 7}
        df = spark.createDataFrame([(s, d, w) for (s, d), w in E.items()],
                                   "src string, dst string, weight long")
        got = {r.node: r.rank_micro
               for r in graph.pagerank_weighted(df, iters=5).collect()}
        assert got == _pr_weighted_ref(E)

    def test_weighted_duplicate_edges_sum(self, spark):
        df1 = spark.createDataFrame([("a", "b", 2), ("a", "b", 3),
                                     ("b", "a", 1)],
                                    "src string, dst string, weight long")
        df2 = spark.createDataFrame([("a", "b", 5), ("b", "a", 1)],
                                    "src string, dst string, weight long")
        a = graph.pagerank_weighted(df1, iters=3).collect()
        b = graph.pagerank_weighted(df2, iters=3).collect()
        assert sorted(map(tuple, a)) == sorted(map(tuple, b))

    def test_weighted_rejects_nonpositive(self, spark):
        df = spark.createDataFrame([("a", "b", 0)],
                                   "src string, dst string, weight long")
        with pytest.raises(ValueError, match="positive"):
            graph.pagerank_weighted(df, iters=1)

    def test_uniform_weights_equal_unweighted(self, spark):
        edges = [("a", "b"), ("b", "c"), ("c", "a"), ("a", "c")]
        dfu = spark.createDataFrame(edges, "src string, dst string")
        dfw = spark.createDataFrame([(s, d, 7) for s, d in edges],
                                    "src string, dst string, weight long")
        a = graph.pagerank(dfu, iters=4).collect()
        b = graph.pagerank_weighted(dfw, iters=4).collect()
        assert sorted(map(tuple, a)) == sorted(map(tuple, b))

    def test_personalized_matches_reference(self, spark):
        edges = [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"),
                 ("d", "a"), ("e", "a")]
        seeds = ["a", "e"]
        df = spark.createDataFrame(edges, "src string, dst string")
        sdf = spark.createDataFrame([(s,) for s in seeds], "node string")
        got = {r.node: r.rank_micro
               for r in graph.pagerank_personalized(df, sdf,
                                                    iters=5).collect()}
        # python reference
        nodes = sorted({x for e in edges for x in e})
        out = {}
        for s, d in set(edges):
            out.setdefault(s, set()).add(d)
        micro = 10**6
        ns = len(seeds)
        r = {v: (micro // ns if v in seeds else 0) for v in nodes}
        base = ((micro // ns) * 15) // 100
        for _ in range(5):
            nr = {v: (base if v in seeds else 0) for v in nodes}
            for s, ds in out.items():
                for d in ds:
                    nr[d] += (r[s] * 85) // (100 * len(ds))
            r = nr
        assert got == r

    def test_personalized_unreachable_stays_zero(self, spark):
        # z is disconnected from the seed's forward reachability
        df = spark.createDataFrame([("a", "b"), ("z", "a")],
                                   "src string, dst string")
        sdf = spark.createDataFrame([("a",)], "node string")
        got = {r.node: r.rank_micro
               for r in graph.pagerank_personalized(df, sdf,
                                                    iters=4).collect()}
        assert got["z"] == 0 and got["a"] > 0 and got["b"] > 0

    def test_personalized_empty_seeds_raises(self, spark):
        df = spark.createDataFrame([("a", "b")], "src string, dst string")
        sdf = spark.createDataFrame([], "node string")
        with pytest.raises(ValueError, match="seed"):
            graph.pagerank_personalized(df, sdf)

    def test_triangles_match_brute_force(self, spark):
        import itertools

        edges = [(f"n{i}", f"n{(i * 3 + 1) % 9}") for i in range(18)] + \
                [("n0", "n4"), ("n4", "n8"), ("n8", "n0")]
        edges = [(a, b) for a, b in edges if a != b]
        und = {frozenset(e) for e in edges}
        nodes = sorted({x for e in und for x in e})
        want = {v: 0 for v in nodes}
        for tri in itertools.combinations(nodes, 3):
            a, b, c = tri
            if ({frozenset((a, b)), frozenset((b, c)),
                 frozenset((a, c))} <= und):
                for v in tri:
                    want[v] += 1
        df = spark.createDataFrame(edges, "src string, dst string")
        got = {r.node: r.n_triangles
               for r in graph.triangle_count(df).collect()}
        assert got == want

    def test_triangles_direction_and_dupes_ignored(self, spark):
        # both directions + duplicates of the same undirected triangle
        df = spark.createDataFrame(
            [("a", "b"), ("b", "a"), ("b", "c"), ("c", "a"), ("a", "c")],
            "src string, dst string")
        got = {r.node: r.n_triangles
               for r in graph.triangle_count(df).collect()}
        assert got == {"a": 1, "b": 1, "c": 1}


class TestKeepBest:
    def test_highest_score_kept_per_cluster(self, spark):
        docs = spark.createDataFrame(
            [(1, 10), (2, 30), (3, 30), (4, 5), (9, 7)],
            "doc_id long, quality long")
        pairs = spark.createDataFrame([(1, 2), (2, 3), (4, 1)],
                                      "doc_a long, doc_b long")
        got = {r.doc_id: (r.cluster_id, r.keep)
               for r in fuzzy.neardup_keep_best(docs, pairs,
                                                "quality").collect()}
        # cluster {1,2,3,4}: 2 and 3 tie at 30 -> lower id 2 kept
        assert got == {1: (1, False), 2: (1, True), 3: (1, False),
                       4: (1, False), 9: (9, True)}

    def test_lower_is_better_mode(self, spark):
        docs = spark.createDataFrame([(1, 10), (2, 3)],
                                     "doc_id long, err long")
        pairs = spark.createDataFrame([(1, 2)], "doc_a long, doc_b long")
        got = {r.doc_id: r.keep
               for r in fuzzy.neardup_keep_best(
                   docs, pairs, "err", higher_is_better=False).collect()}
        assert got == {1: False, 2: True}

    def test_exactly_one_keeper_per_cluster(self, spark, sf_dir):
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        pairs = fuzzy.jaccard_pairs(docs, k=5, threshold=0.4)
        res = fuzzy.neardup_keep_best(docs, pairs, "n_chars")
        agg = res.groupBy("cluster_id").agg(
            F.sum(F.col("keep").cast("int")).alias("nk")).collect()
        assert all(r.nk == 1 for r in agg)
        assert res.count() == docs.count()


class TestSQ8Index:
    def test_lifecycle_probe_under_frozen_grid(self, spark, tmp_path,
                                               sf_dir):
        """Grid trains on the build half and appends encode under it —
        the probe equals a one-shot sq8_topk given the SAME half-grid
        train (never a full-corpus retrain)."""
        emb = _emb(spark, sf_dir)
        d = str(tmp_path / "sq8")
        side = similarity.sq8_write_index(
            emb.filter(F.col("vec_id") % 2 == 0), d, dim=64)
        train = side["mins"], side["maxs"]
        similarity.append_index(emb.filter(F.col("vec_id") % 2 == 1), d)
        q = emb.filter(F.col("vec_id") < 3).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("query_vec"))
        a = similarity.search_index(spark, d, q, k=5, refine=20,
                                    vectors=emb).collect()
        b = similarity.sq8_topk(emb, q, k=5, dim=64, train=train,
                                refine=20).collect()
        assert sorted(map(tuple, a)) == sorted(map(tuple, b))
        # and it differs from the full-corpus-grid result in general
        mins, maxs = train
        full = similarity.sq8_train(emb, dim=64)
        assert (mins, maxs) != full  # halves have different extrema

    def test_append_clamps_out_of_range(self, spark, tmp_path):
        df0 = spark.createDataFrame([(0, [0.0]), (1, [1.0])],
                                    "vec_id long, embedding array<double>")
        df1 = spark.createDataFrame([(2, [5.0]), (3, [-5.0])],
                                    "vec_id long, embedding array<double>")
        d = str(tmp_path / "sq8")
        similarity.sq8_write_index(df0, d, dim=1)
        similarity.append_index(df1, d)
        got = {r.vec_id: r.codes[0]
               for r in spark.read.parquet(f"{d}/base").collect()}
        assert got == {0: 0, 1: 255, 2: 255, 3: 0}


class TestHLLHourly:
    def test_per_hour_equals_per_group_reference(self, spark, sf_dir):
        ev = spark.read.parquet(f"{sf_dir}/events.parquet")
        ev = ev.withColumn("hour", F.date_format(
            F.date_trunc("hour", F.col("ts")), "yyyy-MM-dd HH:00"))
        regs = sketches.hll_register_table(ev, "user_id",
                                           group_cols=["hour"])
        est = {r.hour: (r.n_zero, r.est_micro)
               for r in sketches.hll_estimate(
                   regs, group_cols=["hour"]).collect()}
        rows = ev.select("hour", "user_id").collect()
        from collections import defaultdict
        groups = defaultdict(list)
        for r in rows:
            groups[r.hour].append(r.user_id)
        for h, us in groups.items():
            regs_py = _hll_py_registers(us)
            z = sum(1 << (57 - r) for r in regs_py)
            want = (sum(1 for r in regs_py if r == 0),
                    math.floor(sketches.HLL_EST_CONST / float(z) * 1e6))
            assert est[h] == want, h


class TestLabelPropagation:
    def _ref(self, edges, iters=5):
        und = {frozenset(e) for e in edges if e[0] != e[1]}
        adj = {}
        for e in und:
            a, b = sorted(e)
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
        lab = {v: v for v in adj}
        for _ in range(iters):
            new = {}
            for v, ns in adj.items():
                counts = {}
                for n in ns:
                    counts[lab[n]] = counts.get(lab[n], 0) + 1
                new[v] = sorted(counts.items(),
                                key=lambda kv: (-kv[1], kv[0]))[0][0]
            lab = new
        return lab

    def test_two_communities_with_bridge(self, spark):
        edges = [("a", "b"), ("b", "c"), ("c", "a"),
                 ("x", "y"), ("y", "z"), ("z", "x"), ("c", "x")]
        df = spark.createDataFrame(edges, "src string, dst string")
        got = {r.node: r.label
               for r in graph.label_propagation(df, iters=5).collect()}
        assert got == self._ref(edges)
        # the two triangles end with different labels (CC would merge)
        assert len({got["a"], got["x"]}) == 2
        assert got["a"] == got["b"] == got["c"]
        assert got["x"] == got["y"] == got["z"]

    def test_matches_reference_on_mixed_graph(self, spark):
        edges = [(f"n{i}", f"n{(i * 5 + 2) % 16}") for i in range(40)]
        edges = [(a, b) for a, b in edges if a != b]
        df = spark.createDataFrame(edges, "src string, dst string")
        got = {r.node: r.label
               for r in graph.label_propagation(df, iters=5).collect()}
        assert got == self._ref(edges)

    def test_broadcast_labels_identical(self, spark):
        edges = [("a", "b"), ("b", "c"), ("c", "d"), ("d", "a")]
        df = spark.createDataFrame(edges, "src string, dst string")
        a = graph.label_propagation(df, iters=3).collect()
        b = graph.label_propagation(df, iters=3,
                                    broadcast_labels=True).collect()
        assert sorted(map(tuple, a)) == sorted(map(tuple, b))


class TestHLLWindowedStream:
    def test_final_registers_equal_batch_hourly(self, spark, tmp_path,
                                                sf_dir):
        """Two availableNow passes over a growing topic: the LAST
        emission per (window, bucket) equals the batch per-hour
        register table — MAX is the streaming agg's own merge, so
        there is no custom state to diverge."""
        from incubator_pulsar_spark.streaming.sketches import (
            hll_windowed_stream)

        src = str(tmp_path / "ev_topic")
        sink = str(tmp_path / "out")
        ev = spark.read.parquet(f"{sf_dir}/events.parquet") \
            .select("ts", "user_id")
        first = ev.filter(F.col("user_id") % 2 == 0)
        second = ev.filter(F.col("user_id") % 2 == 1)
        first.write.parquet(src)

        def run(tag):
            stream = spark.readStream.schema(first.schema).parquet(src)
            out = hll_windowed_stream(stream, "ts", "user_id",
                                      window="1 hour",
                                      watermark="100 days")

            def write(df, batch_id):
                df.withColumn("_tag", F.lit(tag)) \
                    .write.mode("append").parquet(sink)

            (out.writeStream.foreachBatch(write).outputMode("update")
             .option("checkpointLocation", str(tmp_path / "ck"))
             .trigger(availableNow=True).start().awaitTermination(120))

        run(0)
        second.write.mode("append").parquet(src)
        run(1)

        got = {}
        for r in spark.read.parquet(sink).orderBy("_tag").collect():
            key = (r.window_start.strftime("%Y-%m-%d %H:00"), r.bucket)
            got[key] = r.rho  # later tag wins

        evh = ev.withColumn("hour", F.date_format(
            F.date_trunc("hour", F.col("ts")), "yyyy-MM-dd HH:00"))
        want = {(r.hour, r.bucket): r.rho
                for r in sketches.hll_register_table(
                    evh, "user_id", group_cols=["hour"]).collect()
                if r.rho > 0}
        assert got == want


class TestWinsorize:
    def test_clamps_to_band_edges(self, spark):
        from incubator_pulsar_spark.functions.quantiles import winsorize

        vals = list(range(1, 101))  # 1..100
        df = spark.createDataFrame([("g", float(v)) for v in vals],
                                   "grp string, v double")
        got = winsorize(df, ["grp"], "v").collect()
        # type-1 p1 = value at ceil(100/100)=1 -> 1.0; p99 at 99 -> 99.0
        w = {r.v: (r.v_w, r._clamped) for r in got}
        assert w[100.0] == (99.0, True)
        assert w[99.0] == (99.0, False)
        assert w[1.0] == (1.0, False)
        assert w[50.0] == (50.0, False)
        assert sum(1 for r in got if r._clamped) == 1

    def test_custom_band_and_out_col(self, spark):
        from incubator_pulsar_spark.functions.quantiles import winsorize

        df = spark.createDataFrame(
            [("g", float(v)) for v in range(1, 11)],
            "grp string, v double")
        got = winsorize(df, ["grp"], "v", lo=(2, 10), hi=(8, 10),
                        out_col="vv").collect()
        w = {r.v: r.vv for r in got}
        assert w[1.0] == 2.0 and w[10.0] == 8.0 and w[5.0] == 5.0

    def test_row_count_preserved(self, spark, sf_dir):
        from incubator_pulsar_spark.functions.quantiles import winsorize

        ev = spark.read.parquet(f"{sf_dir}/events.parquet")
        assert winsorize(ev, ["event_type"], "value").count() == ev.count()


class TestHLLSlidingStream:
    def test_sliding_windows_fan_out(self, spark, tmp_path, sf_dir):
        """slide= produces overlapping sketches: every event lands in
        window/slide windows, and each window's final registers equal
        the batch sketch of that window's span."""
        from incubator_pulsar_spark.streaming.sketches import (
            hll_windowed_stream)

        src = str(tmp_path / "topic")
        sink = str(tmp_path / "out")
        ev = spark.read.parquet(f"{sf_dir}/events.parquet") \
            .select("ts", "user_id").limit(500).cache()
        ev.write.parquet(src)
        stream = spark.readStream.schema(ev.schema).parquet(src)
        out = hll_windowed_stream(stream, "ts", "user_id",
                                  window="2 hours", slide="1 hour",
                                  watermark="100 days")

        def write(df, batch_id):
            df.write.mode("append").parquet(sink)

        (out.writeStream.foreachBatch(write).outputMode("update")
         .option("checkpointLocation", str(tmp_path / "ck"))
         .trigger(availableNow=True).start().awaitTermination(120))

        got = {}
        for r in spark.read.parquet(sink).collect():
            got[(r.window_start, r.bucket)] = r.rho

        # batch reference — window starts for a 2h window / 1h slide:
        # trunc(ts) and trunc(ts) - 1h
        evc = ev.withColumn("ts", F.col("ts").cast("timestamp"))
        ref = evc.select(
            F.explode(F.array(
                F.date_trunc("hour", F.col("ts")),
                F.date_trunc("hour", F.col("ts")) - F.expr(
                    "INTERVAL 1 HOUR"))).alias("wstart"), "user_id")
        regs = sketches.hll_register_table(
            ref, "user_id", group_cols=["wstart"])
        want = {(r.wstart, r.bucket): r.rho
                for r in regs.collect() if r.rho > 0}
        ev.unpersist()
        assert got == want


class TestHardeningGuards:
    def test_weighted_rejects_fractional(self, spark):
        df = spark.createDataFrame([("a", "b", 1.5), ("b", "a", 1.0)],
                                   "src string, dst string, weight double")
        with pytest.raises(ValueError, match="INTEGER"):
            graph.pagerank_weighted(df, iters=1)

    def test_sq8_train_empty_corpus_raises(self, spark):
        df = spark.createDataFrame([], "vec_id long, embedding array<double>")
        with pytest.raises(ValueError, match="empty corpus"):
            similarity.sq8_train(df, dim=4)

    def test_hll_null_group_rows_dropped(self, spark):
        df = spark.createDataFrame(
            [("g", 1), ("g", 2), (None, 3)], "grp string, v long")
        regs = sketches.hll_register_table(df, "v", group_cols=["grp"])
        # only the non-null group materializes (documented contract)
        assert regs.select("grp").distinct().collect()[0].grp == "g"
        assert regs.count() == 256


class TestHLLUnion:
    def test_union_registers_equal_direct_sketch(self, spark, sf_dir):
        """hll_union(A, B) register table == the sketch built directly
        on A ∪ B — the lossless-merge algebra."""
        ev = spark.read.parquet(f"{sf_dir}/events.parquet")
        a = ev.filter(F.col("user_id") % 3 != 0)
        b = ev.filter(F.col("user_id") % 2 == 0)
        ra = sketches.hll_register_table(a, "user_id")
        rb = sketches.hll_register_table(b, "user_id")
        got = {r.bucket: r.rho
               for r in sketches.hll_union(ra, rb).collect()}
        want = {r.bucket: r.rho
                for r in sketches.hll_register_table(
                    a.unionByName(b), "user_id").collect()}
        assert got == want

    def test_union_is_commutative_and_idempotent(self, spark, sf_dir):
        ev = spark.read.parquet(f"{sf_dir}/events.parquet")
        a = ev.filter(F.col("user_id") % 3 != 0)
        b = ev.filter(F.col("user_id") % 2 == 0)
        ra = sketches.hll_register_table(a, "user_id")
        rb = sketches.hll_register_table(b, "user_id")
        ab = sorted(map(tuple, sketches.hll_union(ra, rb).collect()))
        ba = sorted(map(tuple, sketches.hll_union(rb, ra).collect()))
        aa = sorted(map(tuple, sketches.hll_union(ra, ra).collect()))
        assert ab == ba
        assert aa == sorted(map(tuple, ra.collect()))
