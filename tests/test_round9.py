"""Round-9 surfaces, verified (VERDICT r9 next-round #1/#2/#4/#5/#6):

1. The ingest-stream FOLD (streaming.ann.fold_stream) actually
   consolidates — after two batches + fold
   the stream root holds exactly ``_batch_id=-1`` (with ``cell=C``
   under it for IVFADC), probe results are byte-identical
   before/after, the post-fold probed plan still shows cell
   PartitionFilters (directory pruning survives the fold), and a
   second fold is a no-op.
2. Crash recovery for the fold's two-rename swap: both windows — the
   between-renames window (pre-fold snapshot restores wholesale) and
   the after-swap window where the protected tail is still stranded in
   the snapshot (ADVICE r9 medium: the old recovery deleted it).
3. The replay guard: ``checkpoint_path`` derives ``committed_through``
   from the checkpoint's ``commits/`` listing, a replayed uncommitted
   batch stays idempotent and self-match-free after a guarded fold,
   and the UNGUARDED fold's replay hazard (duplicate codes +
   self-match at distance 0) is demonstrated, not just documented.
4. ``rerank_candidate_log``: (query_id, vec_id) dedup before ranking
   (ADVICE r9 low), ``batch_ids`` bounding + ``retire`` lifecycle, and
   the loud-fail contracts.
5. ``residual="auto"``: raw wins on the md5-noise fixture (sidecar
   pins ``residual: false`` with both measured errors), residual wins
   on a cell-structured fixture, and appends/probes honor the pinned
   flag.

Reference-discipline analogue: the reference tests its compaction
lifecycle the same way (pulsar-broker/src/test/java/org/apache/pulsar/
compaction/CompactedTopicImplTest.java).
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from incubator_pulsar_spark.functions import similarity
from incubator_pulsar_spark.streaming.ann import (
    _checkpoint_committed_through, fold_stream, ingest_batch,
    rerank_candidate_log)


def _emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet") \
        .select("vec_id", "embedding")


def _probe_q(emb):
    return emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"))


def _batch_dirs(root):
    return sorted(d for d in os.listdir(root)
                  if d.startswith("_batch_id="))


def _pq_lifecycle(spark, emb, idx, out, *, n_batches=2, k=5):
    similarity.pq_write_index(emb.filter(F.col("vec_id") % 2 == 0), idx,
                              dim=64, m=4, ksub=16)
    splits = [emb.filter((F.col("vec_id") % 2 == 1) &
                         (F.col("vec_id") % (2 * n_batches)
                          == 2 * i + 1))
              for i in range(n_batches)]
    for i, b in enumerate(splits):
        ingest_batch(b, i, index_path=idx, out_path=out, k=k)
    return splits


# ------------------------------------------------- fold: consolidation

class TestFoldConsolidates:
    def test_pq_fold_layout_and_probe_identical(self, spark, sf_dir,
                                                tmp_path):
        """(a) after two ingest batches + fold, stream/ contains
        exactly _batch_id=-1 and the fold returned 2; (b) probe rows
        are IDENTICAL before/after (exact DataFrame content equality,
        not just oracle-level); (c) a second fold is a no-op."""
        emb = _emb(spark, sf_dir)
        idx, out = str(tmp_path / "idx"), str(tmp_path / "out")
        _pq_lifecycle(spark, emb, idx, out)
        q = _probe_q(emb)

        before = sorted(map(tuple, similarity.search_index(
            spark, idx, q, k=10, refine=50, vectors=emb).collect()))
        assert _batch_dirs(f"{idx}/stream") == ["_batch_id=0",
                                                "_batch_id=1"]
        assert fold_stream(spark, idx) == 2
        assert _batch_dirs(f"{idx}/stream") == ["_batch_id=-1"]
        after = sorted(map(tuple, similarity.search_index(
            spark, idx, q, k=10, refine=50, vectors=emb).collect()))
        assert before == after

        # second fold: no-op — returns 0, layout untouched
        files = sorted(os.path.join(r, f)
                       for r, _, fs in os.walk(f"{idx}/stream")
                       for f in fs)
        assert fold_stream(spark, idx) == 0
        assert files == sorted(os.path.join(r, f)
                               for r, _, fs in os.walk(f"{idx}/stream")
                               for f in fs)

    def test_ivfpq_fold_keeps_cell_partitioning(self, spark, sf_dir,
                                                tmp_path):
        """Folded IVFADC rows must keep their CELL partitioning
        (_batch_id=-1/cell=C directory layout) and probe rows must be
        identical before/after the fold."""
        emb = _emb(spark, sf_dir)
        idx, out = str(tmp_path / "idx"), str(tmp_path / "out")
        similarity.ivfpq_write_index(
            emb.filter(F.col("vec_id") % 2 == 0), idx,
            dim=64, m=4, ksub=16, n_cells=8)
        ingest_batch(emb.filter(F.col("vec_id") % 4 == 1), 0,
                     index_path=idx, out_path=out, k=5, nprobe=3)
        ingest_batch(emb.filter(F.col("vec_id") % 4 == 3), 1,
                     index_path=idx, out_path=out, k=5, nprobe=3)
        q = _probe_q(emb)
        before = sorted(map(tuple, similarity.search_index(
            spark, idx, q, k=10, nprobe=3, refine=50,
            vectors=emb).collect()))

        assert fold_stream(spark, idx) == 2
        assert _batch_dirs(f"{idx}/stream") == ["_batch_id=-1"]
        cells = sorted(os.listdir(f"{idx}/stream/_batch_id=-1"))
        assert cells and all(c.startswith("cell=") for c in cells)

        after = sorted(map(tuple, similarity.search_index(
            spark, idx, q, k=10, nprobe=3, refine=50,
            vectors=emb).collect()))
        assert before == after

    def test_postfold_probe_keeps_partition_filters(self, spark, sf_dir,
                                                    tmp_path):
        """The plan lock ivfpq_fold_topk_embeddings' docstring
        promises: AFTER the fold, the probed plan's parquet scans
        (base AND folded stream) still carry non-empty cell
        PartitionFilters — directory-level nprobe pruning survives
        the fold."""
        emb = _emb(spark, sf_dir)
        idx, out = str(tmp_path / "idx"), str(tmp_path / "out")
        similarity.ivfpq_write_index(
            emb.filter(F.col("vec_id") % 2 == 0), idx,
            dim=64, m=4, ksub=16, n_cells=8)
        ingest_batch(emb.filter(F.col("vec_id") % 4 == 1), 0,
                     index_path=idx, out_path=out, k=5, nprobe=3)
        ingest_batch(emb.filter(F.col("vec_id") % 4 == 3), 1,
                     index_path=idx, out_path=out, k=5, nprobe=3)
        assert fold_stream(spark, idx) == 2

        # queries as literals so the only parquet scans in the plan
        # are the index's own (r8 test_probe_is_codes_only pattern)
        qrows = _probe_q(emb).collect()
        q = spark.createDataFrame(
            [(r.query_id, [float(x) for x in r.query_vec]) for r in qrows],
            "query_id LONG, query_vec ARRAY<DOUBLE>")
        res = similarity.search_index(spark, idx, q, k=5, nprobe=2)
        res.count()
        plan = res._jdf.queryExecution().executedPlan().toString()
        pfs = [m.split("]")[0] for m in plan.split("PartitionFilters: [")[1:]]
        assert len(pfs) >= 2, plan       # base scan + folded stream scan
        assert all("cell" in pf and pf.strip() for pf in pfs), plan


# ------------------------------------------------ fold: crash recovery

class TestFoldCrashRecovery:
    def test_crash_between_renames_restores_snapshot(self, spark, sf_dir,
                                                     tmp_path):
        """Window (a): stream.pre-fold exists, stream absent — the
        next fold call restores the snapshot wholesale and then folds
        it normally."""
        emb = _emb(spark, sf_dir)
        idx, out = str(tmp_path / "idx"), str(tmp_path / "out")
        _pq_lifecycle(spark, emb, idx, out)
        q = _probe_q(emb)
        want = sorted(map(tuple, similarity.search_index(
            spark, idx, q, k=10).collect()))

        os.rename(f"{idx}/stream", f"{idx}/stream.pre-fold")
        assert fold_stream(spark, idx) == 2   # recovered, then folded
        assert _batch_dirs(f"{idx}/stream") == ["_batch_id=-1"]
        assert not os.path.exists(f"{idx}/stream.pre-fold")
        got = sorted(map(tuple, similarity.search_index(
            spark, idx, q, k=10).collect()))
        assert got == want

    def test_crash_after_swap_restores_protected_tail(
            self, spark, sf_dir, tmp_path, monkeypatch):
        """ADVICE r9 medium: a crash after the second rename but before
        the protected-tail restore used to leave the tail stranded in
        stream.pre-fold, which the old recovery DELETED — permanent
        loss of committed stream codes. Now the manifest-driven
        recovery moves the tail back before deleting the snapshot."""
        emb = _emb(spark, sf_dir)
        idx, out = str(tmp_path / "idx"), str(tmp_path / "out")
        _pq_lifecycle(spark, emb, idx, out, n_batches=3)
        q = _probe_q(emb)
        want = sorted(map(tuple, similarity.search_index(
            spark, idx, q, k=10).collect()))
        n_all = spark.read.parquet(f"{idx}/stream").count()

        # simulate the crash: fail exactly on the protected-tail
        # restore rename (old/_batch_id=2 -> stream/_batch_id=2)
        real_rename = os.rename

        def crashing_rename(src, dst):
            if ".pre-fold" in str(src) and str(src).endswith("_batch_id=2"):
                raise RuntimeError("simulated crash mid-restore")
            real_rename(src, dst)

        monkeypatch.setattr(os, "rename", crashing_rename)
        with pytest.raises(RuntimeError, match="simulated crash"):
            fold_stream(spark, idx, committed_through=1)
        monkeypatch.setattr(os, "rename", real_rename)

        # crash state: swap done, tail stranded in the snapshot
        assert os.path.exists(f"{idx}/stream.pre-fold/_batch_id=2")
        assert "_batch_id=2" not in _batch_dirs(f"{idx}/stream")

        # next call recovers: tail restored, snapshot deleted, no
        # further fold possible below committed_through (one dir <= 1)
        assert fold_stream(spark, idx, committed_through=1) == 0
        assert _batch_dirs(f"{idx}/stream") == ["_batch_id=-1",
                                                "_batch_id=2"]
        assert not os.path.exists(f"{idx}/stream.pre-fold")
        assert not os.path.exists(f"{idx}/stream/_fold_manifest.json")
        # every committed code row survived, exactly once
        assert spark.read.parquet(f"{idx}/stream").count() == n_all
        got = sorted(map(tuple, similarity.search_index(
            spark, idx, q, k=10).collect()))
        assert got == want


# ------------------------------------------------- fold: replay guard

class TestFoldReplayGuard:
    def test_committed_through_derived_from_checkpoint(self, tmp_path):
        ckpt = tmp_path / "ckpt"
        assert _checkpoint_committed_through(str(ckpt)) == -1
        (ckpt / "commits").mkdir(parents=True)
        assert _checkpoint_committed_through(str(ckpt)) == -1
        for n in ("0", "1", "4"):
            (ckpt / "commits" / n).write_text("{}")
        (ckpt / "commits" / ".tmp").write_text("")   # ignored
        # ADVICE r10: a GAP in the commit log (manual pruning,
        # corruption) means Spark could replay from the gap — only the
        # contiguous prefix is safely foldable, never the bare max
        assert _checkpoint_committed_through(str(ckpt)) == 1
        (ckpt / "commits" / "2").write_text("{}")
        (ckpt / "commits" / "3").write_text("{}")
        assert _checkpoint_committed_through(str(ckpt)) == 4
        # Spark's own retention trims OLD commits — a window starting
        # above 0 is still a healthy contiguous prefix
        for n in ("0", "1"):
            (ckpt / "commits" / n).unlink()
        assert _checkpoint_committed_through(str(ckpt)) == 4

    def test_real_stream_checkpoint_drives_the_guard(self, spark, sf_dir,
                                                     tmp_path):
        """End-to-end: a real availableNow ingest stream's checkpoint
        commits/ listing is what the fold reads — after two committed
        micro-batch runs, checkpoint_path= folds exactly those two."""
        from incubator_pulsar_spark.streaming.ann import \
            start_ingest_stream

        emb = _emb(spark, sf_dir)
        base = emb.filter(F.col("vec_id") % 3 == 0)
        idx, out = str(tmp_path / "idx"), str(tmp_path / "out")
        ckpt, src = str(tmp_path / "ckpt"), str(tmp_path / "src")
        similarity.pq_write_index(base, idx, dim=64, m=4, ksub=16)

        def run():
            stream = spark.readStream.schema(emb.schema).parquet(src)
            sq = start_ingest_stream(
                stream, index_path=idx, out_path=out,
                checkpoint_path=ckpt, k=5, available_now=True)
            sq.awaitTermination(120)

        emb.filter(F.col("vec_id") % 3 == 1).write.mode("append") \
            .parquet(src)
        run()
        emb.filter(F.col("vec_id") % 3 == 2).write.mode("append") \
            .parquet(src)
        run()
        assert _checkpoint_committed_through(ckpt) == 1
        assert fold_stream(spark, idx, checkpoint_path=ckpt) == 2
        assert _batch_dirs(f"{idx}/stream") == ["_batch_id=-1"]

    def test_replay_after_guarded_fold_is_safe(self, spark, sf_dir,
                                               tmp_path):
        """The crash window the guard exists for: batch 2's directories
        are on disk but its checkpoint commit is NOT — a restart will
        REPLAY it. A fold guarded by committed_through=1 leaves batch 2
        foldable-out, so the replay overwrites its own directories
        idempotently and its probe still excludes its own codes (no
        self-match at distance 0)."""
        emb = _emb(spark, sf_dir)
        idx, out = str(tmp_path / "idx"), str(tmp_path / "out")
        splits = _pq_lifecycle(spark, emb, idx, out, n_batches=3)
        first_run = sorted(map(tuple, spark.read.parquet(
            f"{out}/_batch_id=2").collect()))
        n_codes = spark.read.parquet(f"{idx}/stream").count()

        assert fold_stream(spark, idx, committed_through=1) == 2
        # REPLAY batch 2 (uncommitted -> re-executed after restart)
        ingest_batch(splits[2], 2, index_path=idx, out_path=out, k=5)

        replayed = sorted(map(tuple, spark.read.parquet(
            f"{out}/_batch_id=2").collect()))
        assert replayed == first_run                   # idempotent
        assert not any(r[0] == r[1] for r in replayed)  # no self-match
        assert spark.read.parquet(f"{idx}/stream").count() == n_codes

    def test_replay_after_unguarded_fold_duplicates(self, spark, sf_dir,
                                                    tmp_path):
        """Why the guard matters: fold EVERYTHING (committed_through
        None) while batch 2 is uncommitted, then replay it — its codes
        now exist twice (inside _batch_id=-1 AND re-appended under
        _batch_id=2), and its probe sees its own folded codes
        (self-match at distance 0). This documents the hazard the
        guarded default removes."""
        emb = _emb(spark, sf_dir)
        idx, out = str(tmp_path / "idx"), str(tmp_path / "out")
        splits = _pq_lifecycle(spark, emb, idx, out, n_batches=3)
        n_codes = spark.read.parquet(f"{idx}/stream").count()

        assert fold_stream(spark, idx) == 3        # unguarded
        ingest_batch(splits[2], 2, index_path=idx, out_path=out, k=5)

        # duplicates: batch 2's rows live in -1 and in _batch_id=2
        assert spark.read.parquet(f"{idx}/stream").count() == \
            n_codes + splits[2].count()
        replayed = spark.read.parquet(f"{out}/_batch_id=2").collect()
        # self-match: the probe now sees its own folded codes (ADC
        # distance = the vector's own quantization error, so it ranks
        # at/near the top of its own shortlist)
        assert any(r.query_id == r.vec_id for r in replayed)


# ------------------------------------------------------------- rerank

class TestRerank:
    def _write_log(self, spark, out, batch_id, rows):
        spark.createDataFrame(
            rows, "query_id LONG, vec_id LONG, adc_d2 DOUBLE") \
            .write.mode("overwrite") \
            .parquet(f"{out}/_batch_id={batch_id}")

    def test_dedupes_pairs_before_ranking(self, spark, sf_dir, tmp_path):
        """ADVICE r9 low: the same (query, candidate) pair logged by
        two batches must rank ONCE — duplicates would crowd real
        neighbors out of the top-k."""
        emb = _emb(spark, sf_dir)
        out = str(tmp_path / "out")
        # query 1's shortlist: candidates 0,2,4 in batch 0; batch 1
        # re-logs 0 and 2 (a second probe of the same query id)
        self._write_log(spark, out, 0,
                        [(1, 0, 0.5), (1, 2, 0.7), (1, 4, 0.9)])
        self._write_log(spark, out, 1, [(1, 0, 0.5), (1, 2, 0.7)])
        rep = rerank_candidate_log(spark, out, emb, k=3).collect()
        assert sorted(r.vec_id for r in rep) == [0, 2, 4]
        assert sorted(r.rank for r in rep) == [1, 2, 3]

    def test_batch_ids_bound_and_retire(self, spark, sf_dir, tmp_path):
        """The bounded-input lifecycle: rerank a batch window, retire
        its directories under .reranked/, and the next default run
        reads only what is left — per-run input stays bounded on a
        long-lived log."""
        emb = _emb(spark, sf_dir)
        out = str(tmp_path / "out")
        self._write_log(spark, out, 0, [(1, 0, 0.5), (1, 2, 0.7)])
        self._write_log(spark, out, 1, [(3, 4, 0.1)])

        rep0 = rerank_candidate_log(
            spark, out, emb, k=2, batch_ids=[0],
            report_path=str(tmp_path / "rep0"), retire=True)
        assert {r.query_id for r in rep0.collect()} == {1}
        assert _batch_dirs(out) == ["_batch_id=1"]
        assert os.path.isdir(f"{out}/.reranked/_batch_id=0")

        rep1 = rerank_candidate_log(
            spark, out, emb, k=2,
            report_path=str(tmp_path / "rep1"), retire=True)
        assert {r.query_id for r in rep1.collect()} == {3}
        assert _batch_dirs(out) == []
        with pytest.raises(ValueError, match="no unprocessed"):
            rerank_candidate_log(spark, out, emb, k=2)

        # a batch REPLAYED after its retire rewrites its live dir; a
        # second retire supersedes the stale retired copy, no collision
        self._write_log(spark, out, 0, [(1, 0, 0.5)])
        rep2 = rerank_candidate_log(
            spark, out, emb, k=2,
            report_path=str(tmp_path / "rep2"), retire=True)
        assert {r.query_id for r in rep2.collect()} == {1}
        assert _batch_dirs(out) == []
        assert os.path.isdir(f"{out}/.reranked/_batch_id=0")

    def test_retire_requires_report_path(self, spark, sf_dir, tmp_path):
        emb = _emb(spark, sf_dir)
        out = str(tmp_path / "out")
        self._write_log(spark, out, 0, [(1, 0, 0.5)])
        with pytest.raises(ValueError, match="report_path"):
            rerank_candidate_log(spark, out, emb, k=2, retire=True)

    def test_unknown_batch_ids_fail_loudly(self, spark, sf_dir, tmp_path):
        emb = _emb(spark, sf_dir)
        out = str(tmp_path / "out")
        self._write_log(spark, out, 0, [(1, 0, 0.5)])
        with pytest.raises(ValueError, match=r"\[7\] not present"):
            rerank_candidate_log(spark, out, emb, k=2, batch_ids=[0, 7])

    def test_matches_refined_probe_over_same_shortlist(self, spark,
                                                       sf_dir, tmp_path):
        """Semantics lock: reranking a logged top-R shortlist is
        row-identical to the refine stage over the same shortlist —
        the contract the ann_rerank_report oracle checks at the gate,
        locked here against the in-engine reference."""
        emb = _emb(spark, sf_dir)
        idx, out = str(tmp_path / "idx"), str(tmp_path / "out")
        similarity.pq_write_index(emb.filter(F.col("vec_id") % 2 == 0),
                                  idx, dim=64, m=4, ksub=16)
        batch = emb.filter(F.col("vec_id") % 2 == 1)
        ingest_batch(batch, 0, index_path=idx, out_path=out, k=50)
        got = sorted(map(tuple, rerank_candidate_log(
            spark, out, emb, k=10).collect()))

        books = json.load(open(f"{idx}/_index.json"))["books"]
        enc = similarity.pq_encode(
            emb.filter(F.col("vec_id") % 2 == 0), books)
        q = batch.select(F.col("vec_id").alias("query_id"),
                         similarity.as_double_array(
                             F.col("embedding")).alias("qv"))
        vecs = emb.select("vec_id", similarity.as_double_array(
            F.col("embedding")).alias("_cv"))
        want = sorted(map(tuple, similarity._pq_adc_rank(
            enc, q, books, 10, refine=50, vecs=vecs).collect()))
        assert got == want


# ------------------------------------------------- residual="auto"

class TestResidualAuto:
    def test_raw_wins_on_md5_noise_fixture(self, spark, sf_dir, tmp_path):
        """On the synthetic fixture, within-cell residuals are
        near-isotropic md5 noise and RAW must win (the measured caveat
        in ivfpq_write_index's docstring): the sidecar pins
        residual=false, records both errors, and the probe is
        row-identical to an explicitly-raw index."""
        emb = _emb(spark, sf_dir)
        auto_idx = str(tmp_path / "auto")
        raw_idx = str(tmp_path / "raw")
        similarity.ivfpq_write_index(emb, auto_idx, dim=64, m=4, ksub=16,
                                     n_cells=8, residual="auto")
        similarity.ivfpq_write_index(emb, raw_idx, dim=64, m=4, ksub=16,
                                     n_cells=8, residual=False)

        side = json.load(open(f"{auto_idx}/_index.json"))
        assert side["residual"] is False
        a = side["residual_auto"]
        assert a["raw_err"] < a["residual_err"]

        q = _probe_q(emb)
        got = sorted(map(tuple, similarity.search_index(
            spark, auto_idx, q, k=5, nprobe=3).collect()))
        want = sorted(map(tuple, similarity.search_index(
            spark, raw_idx, q, k=5, nprobe=3).collect()))
        assert got == want

    def _cell_structured(self, spark):
        """8 clusters at far-apart pseudo-random base points (pairwise
        near-orthogonal, so the cosine farthest-point seeding separates
        them), each holding 4 SHARED small deltas: raw space has
        8 x 4 = 32 distinct subvectors per subspace (> ksub=16 ->
        raw error strictly positive), residual space at most 13
        distinct small differences (<= ksub -> error 0)."""
        import hashlib

        def base(c, j):
            h = hashlib.md5(f"cell{c}dim{j}".encode()).digest()
            return (h[0] - 127.5) * 8.0      # +-1020, deterministic

        rows = []
        vid = 0
        for c in range(8):
            for d in range(4):
                vec = [base(c, j) + d * 0.25 for j in range(64)]
                for _ in range(3):           # weight the pool
                    rows.append((vid, vec))
                    vid += 1
        return spark.createDataFrame(
            rows, "vec_id LONG, embedding ARRAY<DOUBLE>")

    def test_residual_wins_on_cell_structured_fixture(self, spark,
                                                      tmp_path):
        emb = self._cell_structured(spark)
        idx = str(tmp_path / "auto")
        similarity.ivfpq_write_index(emb, idx, dim=64, m=4, ksub=16,
                                     n_cells=8, residual="auto")
        side = json.load(open(f"{idx}/_index.json"))
        assert side["residual"] is True
        a = side["residual_auto"]
        assert a["residual_err"] < a["raw_err"]

    def test_appends_and_probes_honor_pinned_flag(self, spark, tmp_path):
        """After an auto build that resolved to residual=True, appends
        must encode residuals (not raw) and probes must build residual
        query tables — byte-identical to an explicitly residual
        index."""
        emb = self._cell_structured(spark)
        old = emb.filter(F.col("vec_id") % 5 != 0)
        new = emb.filter(F.col("vec_id") % 5 == 0)
        auto_idx = str(tmp_path / "auto")
        expl_idx = str(tmp_path / "expl")
        similarity.ivfpq_write_index(old, auto_idx, dim=64, m=4, ksub=16,
                                     n_cells=8, residual="auto")
        assert json.load(
            open(f"{auto_idx}/_index.json"))["residual"] is True
        similarity.ivfpq_write_index(old, expl_idx, dim=64, m=4, ksub=16,
                                     n_cells=8, residual=True)

        similarity.append_index(new, auto_idx)
        similarity.append_index(new, expl_idx)
        q = emb.filter(F.col("vec_id") < 3).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("query_vec"))
        got = sorted(map(tuple, similarity.search_index(
            spark, auto_idx, q, k=5, nprobe=3).collect()))
        want = sorted(map(tuple, similarity.search_index(
            spark, expl_idx, q, k=5, nprobe=3).collect()))
        assert got == want


class TestFoldGuardEdges:
    def test_explicit_committed_through_overrides_checkpoint(
            self, spark, sf_dir, tmp_path):
        """Precedence contract: an explicit committed_through wins over
        a checkpoint-derived value."""
        emb = _emb(spark, sf_dir)
        idx, out = str(tmp_path / "idx"), str(tmp_path / "out")
        _pq_lifecycle(spark, emb, idx, out, n_batches=3)
        ckpt = tmp_path / "ckpt" / "commits"
        ckpt.mkdir(parents=True)
        for n in ("0", "1", "2"):
            (ckpt / n).write_text("{}")
        # checkpoint says 2 committed, but the caller protects batch 2
        assert fold_stream(spark, idx,
                           checkpoint_path=str(tmp_path / "ckpt"),
                           committed_through=1) == 2
        assert _batch_dirs(f"{idx}/stream") == ["_batch_id=-1",
                                                "_batch_id=2"]

    def test_recovery_refuses_without_manifest(self, spark, sf_dir,
                                               tmp_path):
        """Both directories present but no manifest is structurally
        unreachable — recovery must refuse loudly rather than guess
        which batches are folded (guessing either duplicates rows or
        repeats the ADVICE r9 data loss)."""
        emb = _emb(spark, sf_dir)
        idx, out = str(tmp_path / "idx"), str(tmp_path / "out")
        _pq_lifecycle(spark, emb, idx, out)
        os.makedirs(f"{idx}/stream.pre-fold/_batch_id=9")
        with pytest.raises(RuntimeError, match="reconcile"):
            fold_stream(spark, idx)
