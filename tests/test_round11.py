"""Round-11 contract locks: the ADVICE r10 findings plus the new
IVFADC-log rerank composition.

1. ``rerank_candidate_log`` retire is retry-idempotent: a crash between
   the report write and the per-batch renames leaves a half-retired
   window; the SAME ``batch_ids`` retry must read live + retired dirs
   seamlessly, regenerate the identical report, and finish retiring —
   never raise on an already-retired id, never double-count one.
2. ``maxsim_topk`` fails LOUDLY when a query token position falls
   outside [0, n_query_tokens): those sims match no pivot arm, so the
   old behavior silently dropped real token contributions.
3. The IVFADC ingest's candidate log replays through the same bounded
   rerank lifecycle as the flat-PQ log (gate: ivfpq_rerank_bounded).

(The ``_checkpoint_committed_through`` contiguous-prefix fix is locked
where the original contract lived, ``tests/test_round9.py::
TestFoldReplayGuard::test_committed_through_derived_from_checkpoint``.)
"""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from incubator_pulsar_spark.functions import similarity
from incubator_pulsar_spark.streaming.ann import (ingest_batch,
                                                  rerank_candidate_log)


def _emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet") \
        .select("vec_id", "embedding")


def _batch_dirs(root):
    if not os.path.isdir(root):
        return []
    return sorted(d for d in os.listdir(root) if d.startswith("_batch_id="))


def _write_log(spark, out, batch_id, rows):
    spark.createDataFrame(
        rows, "query_id LONG, vec_id LONG, adc_d2 DOUBLE") \
        .write.mode("overwrite").parquet(f"{out}/_batch_id={batch_id}")


class TestRetireRetryIdempotence:
    def test_interrupted_retire_resumes_with_same_window(
            self, spark, sf_dir, tmp_path):
        """Crash window: report written, batch 0 renamed, crash before
        batch 1's rename. The retry with the same batch_ids must see
        batch 0 as present-and-done under .reranked/, read batch 1
        live, produce the identical report, and finish the retire."""
        emb = _emb(spark, sf_dir)
        out = str(tmp_path / "out")
        _write_log(spark, out, 0, [(1, 0, 0.5), (1, 2, 0.7)])
        _write_log(spark, out, 1, [(3, 4, 0.1)])

        # the uninterrupted run's report, for comparison
        ref = sorted(map(tuple, rerank_candidate_log(
            spark, out, emb, k=2, batch_ids=[0, 1]).collect()))

        # simulate the crash: retire batch 0 by hand (report "landed",
        # rename loop died before batch 1)
        os.makedirs(f"{out}/.reranked", exist_ok=True)
        os.rename(f"{out}/_batch_id=0", f"{out}/.reranked/_batch_id=0")

        rep = rerank_candidate_log(
            spark, out, emb, k=2, batch_ids=[0, 1],
            report_path=str(tmp_path / "rep"), retire=True)
        assert sorted(map(tuple, rep.collect())) == ref
        assert _batch_dirs(out) == []
        assert _batch_dirs(f"{out}/.reranked") == ["_batch_id=0",
                                                   "_batch_id=1"]

    def test_fully_retired_window_regenerates_identical_report(
            self, spark, sf_dir, tmp_path):
        """Crash AFTER all renames but before the caller consumed the
        report: the full retry reads everything from .reranked/ and
        still produces the identical rows — no raise, no empty run."""
        emb = _emb(spark, sf_dir)
        out = str(tmp_path / "out")
        _write_log(spark, out, 0, [(1, 0, 0.5), (1, 2, 0.7)])
        ref = sorted(map(tuple, rerank_candidate_log(
            spark, out, emb, k=2, batch_ids=[0]).collect()))
        os.makedirs(f"{out}/.reranked", exist_ok=True)
        os.rename(f"{out}/_batch_id=0", f"{out}/.reranked/_batch_id=0")

        rep = rerank_candidate_log(
            spark, out, emb, k=2, batch_ids=[0],
            report_path=str(tmp_path / "rep"), retire=True)
        assert sorted(map(tuple, rep.collect())) == ref
        assert _batch_dirs(f"{out}/.reranked") == ["_batch_id=0"]

    def test_live_rewrite_supersedes_retired_copy_in_explicit_window(
            self, spark, sf_dir, tmp_path):
        """A batch present BOTH live and retired (replayed after its
        first retire) reads from the LIVE dir — the replay's rewrite is
        authoritative — and the retire replaces the stale copy."""
        emb = _emb(spark, sf_dir)
        out = str(tmp_path / "out")
        _write_log(spark, out, 0, [(1, 0, 0.5)])
        os.makedirs(f"{out}/.reranked", exist_ok=True)
        shutil.copytree(f"{out}/_batch_id=0",
                        f"{out}/.reranked/_batch_id=0")
        # the live rewrite: a different candidate set
        _write_log(spark, out, 0, [(3, 4, 0.1)])

        rep = rerank_candidate_log(
            spark, out, emb, k=2, batch_ids=[0],
            report_path=str(tmp_path / "rep"), retire=True)
        assert {r.query_id for r in rep.collect()} == {3}
        assert _batch_dirs(out) == []
        retired = spark.read.parquet(f"{out}/.reranked/_batch_id=0")
        assert {r.query_id for r in retired.collect()} == {3}

    def test_truly_missing_id_still_fails_loudly(self, spark, sf_dir,
                                                 tmp_path):
        emb = _emb(spark, sf_dir)
        out = str(tmp_path / "out")
        _write_log(spark, out, 0, [(1, 0, 0.5)])
        with pytest.raises(ValueError, match=r"\[7\] not present"):
            rerank_candidate_log(spark, out, emb, k=2, batch_ids=[0, 7])


class TestMaxsimTokenPosContract:
    def _tok(self, spark, rows):
        return spark.createDataFrame(
            rows, "vec_id LONG, token_pos INT, vec ARRAY<DOUBLE>")

    def test_out_of_range_query_pos_fails_loudly(self, spark):
        docs = self._tok(spark, [(0, 0, [1.0, 0.0])]) \
            .withColumnRenamed("vec_id", "doc_id")
        qs = self._tok(spark, [(1, 0, [1.0, 0.0]), (1, 2, [0.0, 1.0])]) \
            .withColumnRenamed("vec_id", "query_id")
        out = similarity.maxsim_topk(docs, qs, k=5, n_query_tokens=2)
        with pytest.raises(Exception, match="n_query_tokens"):
            out.collect()

    def test_in_range_positions_still_score(self, spark):
        docs = self._tok(spark, [(0, 0, [1.0, 0.0]), (0, 1, [0.0, 1.0])]) \
            .withColumnRenamed("vec_id", "doc_id")
        qs = self._tok(spark, [(1, 0, [1.0, 0.0]), (1, 1, [0.0, 1.0])]) \
            .withColumnRenamed("vec_id", "query_id")
        got = similarity.maxsim_topk(docs, qs, k=5, n_query_tokens=2) \
            .collect()
        assert len(got) == 1 and got[0].score == 2.0


class TestIvfpqRerankComposition:
    def test_ivfpq_log_reranks_to_refined_probe(self, spark, sf_dir,
                                                tmp_path):
        """The gate's semantics in-engine: reranking the IVFADC
        ingest's logged nprobe-pruned top-R shortlist is row-identical
        to the refine stage of search_index over the build-half
        index for the same queries — the cell-pruned twin of
        test_round9's flat-PQ lock."""
        emb = _emb(spark, sf_dir)
        idx, out = str(tmp_path / "idx"), str(tmp_path / "out")
        even = emb.filter(F.col("vec_id") % 2 == 0)
        similarity.ivfpq_write_index(even, idx,
                                     dim=64, m=4, ksub=16, n_cells=8)
        batch = emb.filter(F.col("vec_id") % 2 == 1)
        ingest_batch(batch, 0, index_path=idx, out_path=out,
                     k=50, nprobe=3)
        got = sorted(map(tuple, rerank_candidate_log(
            spark, out, emb, k=10).collect()))

        # the batch probed the index as it stood BEFORE its own append;
        # a twin index built from the same half (deterministic training
        # -> identical centroids/books/codes) and never ingested into
        # is that exact state
        idx2 = str(tmp_path / "idx2")
        similarity.ivfpq_write_index(even, idx2,
                                     dim=64, m=4, ksub=16, n_cells=8)
        q = batch.select(F.col("vec_id").alias("query_id"),
                         F.col("embedding").alias("query_vec"))
        want = sorted(map(tuple, similarity.search_index(
            spark, idx2, q, k=10, nprobe=3, refine=50,
            vectors=emb).collect()))
        assert got == want


class TestOpqTrainedRotation:
    """Full OPQ (VERDICT r10 missing #4 / ROADMAP candidate #3's last
    variant): the TRAINED rotation must beat the RR baseline it
    initializes from — pytest-gated because a trained dense R is not
    replayable as DuckDB CTEs (the exact-oracle discipline keeps the
    index gates on the signed permutation; PARITY r11)."""

    def _mix_fixture(self, spark, n=600, rank=8, dim=64):
        """Correlated dense mixture x = z·A — variance lives in 8
        non-axis-aligned directions, so a PERMUTATION cannot
        decorrelate the subspaces (RR ≈ raw here) while a trained
        rotation can (the OPQ paper's motivating case)."""
        import hashlib

        import numpy as np

        def md5f(s, k):
            out, i = [], 0
            while len(out) < k:
                h = hashlib.md5(f"{s}:{i}".encode()).digest()
                out.extend(b / 255.0 - 0.5 for b in h)
                i += 1
            return out[:k]

        A = np.array(md5f("mix", rank * dim)).reshape(rank, dim) * 4.0
        rows = [(i, (np.array(md5f(f"z{i}", rank)) @ A).tolist())
                for i in range(n)]
        emb = spark.createDataFrame(rows,
                                    "vec_id LONG, embedding ARRAY<DOUBLE>")
        return emb, np.array([r[1] for r in rows])

    def test_trained_rotation_beats_rr_on_correlated_data(self, spark):
        """Measured on this deterministic fixture: RR-init error
        13371.8 → best 4676.6 over 8 sweeps (×2.86). Locked at a
        conservative ×2; also locks errors[0] == the RR configuration
        (iteration 0 trains books under the RR permutation) and that
        the returned best is min(errors)."""
        from incubator_pulsar_spark.functions import similarity

        emb, _ = self._mix_fixture(spark)
        R, errors = similarity.opq_train_rotation(emb, dim=64, m=4,
                                                  ksub=16, iters=8)
        assert min(errors) == errors[-1] or min(errors) < errors[0]
        assert errors[0] / min(errors) > 2.0
        # orthogonality of the returned R (isometry guarantee)
        import numpy as np

        Rm = np.array(R)
        assert np.abs(Rm @ Rm.T - np.eye(64)).max() < 1e-9

    def test_distributed_application_is_exact_and_isometric(self, spark):
        from incubator_pulsar_spark.functions import similarity

        import numpy as np
        from pyspark.sql import functions as F

        emb, X = self._mix_fixture(spark, n=50)
        R, _ = similarity.opq_train_rotation(emb, dim=64, m=4, ksub=16,
                                             iters=2)
        er = similarity.rotate_embeddings(emb, R)
        got = {r.vec_id: np.array(r.embedding) for r in er.collect()}
        Rm = np.array(R)
        for i in (0, 3, 49):
            assert np.abs(got[i] - Rm @ X[i]).max() < 1e-12
        d_raw = float(((X[1] - X[2]) ** 2).sum())
        d_rot = float(((got[1] - got[2]) ** 2).sum())
        assert abs(d_rot - d_raw) / d_raw < 1e-12

    def test_rotation_apply_is_map_only_jvm_side(self, spark):
        from incubator_pulsar_spark.functions import similarity

        emb, _ = self._mix_fixture(spark, n=50)
        R, _ = similarity.opq_train_rotation(emb, dim=64, m=4, ksub=16,
                                             iters=1)
        plan = similarity.rotate_embeddings(emb, R) \
            ._jdf.queryExecution().executedPlan().toString()
        assert "hashpartitioning" not in plan
        assert "Python" not in plan  # no UDF stage — pure column exprs


class TestStreamingMaxsim:
    """The late-interaction family's streaming twin (VERDICT r10 #7):
    stream/batch parity, replay idempotence, and the e2e availableNow
    checkpoint drive."""

    def _fixture(self, spark, n_docs=40, n_tok=3, dim=8, n_q=2):
        import hashlib

        def vec(seed):
            h = hashlib.md5(seed.encode()).digest()
            return [float(h[j]) / 255.0 for j in range(dim)]

        bags = [(d, [vec(f"d{d}p{p}") for p in range(n_tok)])
                for d in range(n_docs)]
        qtok = [(q, p, vec(f"q{q}p{p}"))
                for q in range(n_q) for p in range(n_tok)]
        bdf = spark.createDataFrame(
            bags, "doc_id LONG, tokens ARRAY<ARRAY<DOUBLE>>")
        qdf = spark.createDataFrame(
            qtok, "query_id LONG, token_pos INT, vec ARRAY<DOUBLE>")
        return bdf, qdf

    def _batch_ref(self, bdf, qdf, k, n_tok=3):
        dt = bdf.select("doc_id", F.posexplode("tokens")
                        .alias("token_pos", "vec"))
        return sorted(map(tuple, similarity.maxsim_topk(
            dt, qdf, k=k, n_query_tokens=n_tok).collect()))

    def test_stream_batch_parity_and_replay(self, spark, tmp_path):
        from incubator_pulsar_spark.streaming.ann import (
            maxsim_ingest_batch, maxsim_topk_from_log)

        bdf, qdf = self._fixture(spark)
        out = str(tmp_path / "out")
        ref = self._batch_ref(bdf, qdf, k=5)

        maxsim_ingest_batch(bdf.filter(F.col("doc_id") % 2 == 0), 0,
                            query_tokens=qdf, out_path=out,
                            n_query_tokens=3, k=5)
        maxsim_ingest_batch(bdf.filter(F.col("doc_id") % 2 == 1), 1,
                            query_tokens=qdf, out_path=out,
                            n_query_tokens=3, k=5)
        got = sorted(map(tuple, maxsim_topk_from_log(
            spark, out, k=5).collect()))
        assert got == ref

        # replay: re-running batch 0 overwrites its own directory with
        # identical rows — the finalized answer does not move
        before = sorted(map(tuple, spark.read.parquet(
            f"{out}/_batch_id=0").collect()))
        maxsim_ingest_batch(bdf.filter(F.col("doc_id") % 2 == 0), 0,
                            query_tokens=qdf, out_path=out,
                            n_query_tokens=3, k=5)
        after = sorted(map(tuple, spark.read.parquet(
            f"{out}/_batch_id=0").collect()))
        assert after == before
        assert sorted(map(tuple, maxsim_topk_from_log(
            spark, out, k=5).collect())) == ref

    def test_per_batch_topk_is_lossless_globally(self, spark, tmp_path):
        """k logged per batch, k asked globally: because batches hold
        disjoint docs, nothing a batch ranked below its own top-k can
        enter the global top-k — finalize equals the batch operator
        even when one batch dominates the other."""
        from incubator_pulsar_spark.streaming.ann import (
            maxsim_ingest_batch, maxsim_topk_from_log)

        bdf, qdf = self._fixture(spark, n_docs=30)
        out = str(tmp_path / "out")
        # skewed split: 25 docs vs 5 docs
        maxsim_ingest_batch(bdf.filter(F.col("doc_id") < 25), 0,
                            query_tokens=qdf, out_path=out,
                            n_query_tokens=3, k=4)
        maxsim_ingest_batch(bdf.filter(F.col("doc_id") >= 25), 1,
                            query_tokens=qdf, out_path=out,
                            n_query_tokens=3, k=4)
        got = sorted(map(tuple, maxsim_topk_from_log(
            spark, out, k=4).collect()))
        assert got == self._batch_ref(bdf, qdf, k=4)

    def test_e2e_available_now_checkpoint(self, spark, tmp_path):
        from incubator_pulsar_spark.streaming.ann import (
            maxsim_topk_from_log, start_maxsim_stream)

        bdf, qdf = self._fixture(spark)
        src = str(tmp_path / "src")
        bdf.write.parquet(src)
        stream = spark.readStream.schema(
            spark.read.parquet(src).schema).parquet(src)
        q = start_maxsim_stream(
            stream, query_tokens=qdf, out_path=str(tmp_path / "out"),
            checkpoint_path=str(tmp_path / "ck"),
            n_query_tokens=3, k=5, available_now=True)
        q.awaitTermination(120)
        got = sorted(map(tuple, maxsim_topk_from_log(
            spark, str(tmp_path / "out"), k=5).collect()))
        assert got == self._batch_ref(bdf, qdf, k=5)


class TestOpqIndexLifecycle:
    """pq_write_index(rotate="opq"): the TRAINED dense rotation pinned
    through the persisted-index lifecycle — build, append, stream
    ingest, probe. Measured on the correlated mixture fixture:
    raw-ADC recall@10 = 0.530 OPQ vs 0.390 RR vs 0.400 unrotated —
    the user-visible win the training-objective gate above implies."""

    def _emb(self, spark, n=600):
        import hashlib

        import numpy as np

        def md5f(s, k):
            out, i = [], 0
            while len(out) < k:
                h = hashlib.md5(f"{s}:{i}".encode()).digest()
                out.extend(b / 255.0 - 0.5 for b in h)
                i += 1
            return out[:k]

        A = np.array(md5f("mix", 8 * 64)).reshape(8, 64) * 4.0
        rows = [(i, (np.array(md5f(f"z{i}", 8)) @ A).tolist())
                for i in range(n)]
        return (spark.createDataFrame(
            rows, "vec_id LONG, embedding ARRAY<DOUBLE>"),
            __import__("numpy").array([r[1] for r in rows]), md5f, A)

    def _recall(self, X, res, n_q=10, k=10):
        import numpy as np

        got = {}
        for r in res:
            got.setdefault(r.query_id, set()).add(r.vec_id)
        hits = 0
        for qi in range(n_q):
            d = ((X - X[qi]) ** 2).sum(axis=1)
            truth = set(np.argsort(d, kind="stable")[:k].tolist())
            hits += len(truth & got[qi])
        return hits / (n_q * k)

    def test_opq_index_recall_beats_rr_and_raw(self, spark, tmp_path):
        emb, X, _, _ = self._emb(spark)
        q = (emb.filter(F.col("vec_id") < 10)
             .select(F.col("vec_id").alias("query_id"),
                     F.col("embedding").alias("query_vec")))
        rec = {}
        for mode, tag in [("opq", "opq"), (True, "rr"), (False, "raw")]:
            d = str(tmp_path / tag)
            similarity.pq_write_index(emb, d, dim=64, m=4, ksub=16,
                                      rotate=mode)
            rec[tag] = self._recall(
                X, similarity.search_index(spark, d, q, k=10).collect())
        # deterministic fixture — measured 0.530 / 0.390 / 0.400
        assert rec["opq"] > rec["rr"]
        assert rec["opq"] > rec["raw"]
        assert rec["opq"] >= 0.5

    def test_pinned_matrix_flows_through_append_and_ingest(
            self, spark, tmp_path):
        """Appends AND stream ingest batches must encode with the
        sidecar's dense matrix — codes equal to the reference encoder
        under the loaded rotation, and the ingest probe must read the
        rotated query table (no raise, k rows per query)."""
        import json

        emb, _, md5f, A = self._emb(spark)
        import numpy as np

        d = str(tmp_path / "idx")
        similarity.pq_write_index(emb, d, dim=64, m=4, ksub=16,
                                  rotate="opq")
        side = json.load(open(f"{d}/_index.json"))
        R = similarity._side_rotation(side)
        assert not isinstance(R, tuple)      # dense matrix pinned
        books = side["books"]

        batch = spark.createDataFrame(
            [(1000 + i, (np.array(md5f(f"zz{i}", 8)) @ A).tolist())
             for i in range(20)],
            "vec_id LONG, embedding ARRAY<DOUBLE>")
        assert similarity.append_index(batch, d) == 20
        want = {r.vec_id: list(r.codes) for r in similarity.pq_encode(
            batch, books, rotation=R).collect()}
        got = {r.vec_id: list(r.codes)
               for r in spark.read.parquet(f"{d}/base").collect()
               if r.vec_id >= 1000}
        assert got == want

        batch2 = spark.createDataFrame(
            [(2000 + i, (np.array(md5f(f"zs{i}", 8)) @ A).tolist())
             for i in range(10)],
            "vec_id LONG, embedding ARRAY<DOUBLE>")
        ingest_batch(batch2, 0, index_path=d,
                     out_path=str(tmp_path / "out"), k=5)
        hits = spark.read.parquet(str(tmp_path / "out/_batch_id=0"))
        assert hits.groupBy("query_id").count().filter(
            F.col("count") != 5).count() == 0
        stream_codes = {r.vec_id: list(r.codes) for r in
                        spark.read.parquet(f"{d}/stream").collect()}
        want2 = {r.vec_id: list(r.codes) for r in similarity.pq_encode(
            batch2, books, rotation=R).collect()}
        assert stream_codes == want2


class TestOpqIvfadc:
    """rotate="opq" on the cell-partitioned index: the trained matrix
    pins in the _index.json sidecar and ingest/probes honor it; the
    residual composition refuses auto-training (wrong objective
    space) rather than silently training on raw vectors."""

    def test_opq_ivfpq_lifecycle_parity(self, spark, tmp_path):
        import json

        import numpy as np

        emb, X, md5f, A = TestOpqIndexLifecycle()._emb(spark)
        d = str(tmp_path / "idx")
        similarity.ivfpq_write_index(emb, d, dim=64, m=4, ksub=16,
                                     n_cells=8, rotate="opq")
        side = json.load(open(f"{d}/_index.json"))
        R = similarity._side_rotation(side)
        assert not isinstance(R, tuple) and len(R) == 64
        q = (emb.filter(F.col("vec_id") < 5)
             .select(F.col("vec_id").alias("query_id"),
                     F.col("embedding").alias("query_vec")))
        got = similarity.search_index(spark, d, q, k=10, nprobe=8,
                                      refine=600, vectors=emb) \
            .collect()
        # nprobe = n_cells AND refine = corpus: the raw-vector refine
        # re-ranks EVERY candidate, so the top-10 must be the exact
        # brute-force answer regardless of rotation (the end-to-end
        # isometry contract; refine<corpus would only bound it by ADC
        # shortlist recall)
        for qi in range(5):
            dist = ((X - X[qi]) ** 2).sum(axis=1)
            truth = list(np.argsort(dist, kind="stable")[:10])
            mine = [r.vec_id for r in sorted(
                (r for r in got if r.query_id == qi),
                key=lambda r: r.rank)]
            assert mine == truth

    def test_residual_opq_refuses_auto_training(self, spark, tmp_path):
        emb, _, _, _ = TestOpqIndexLifecycle()._emb(spark, n=100)
        with pytest.raises(ValueError, match="residual"):
            similarity.ivfpq_write_index(emb, str(tmp_path / "i"),
                                         dim=64, m=4, ksub=16, n_cells=8,
                                         residual=True, rotate="opq")
