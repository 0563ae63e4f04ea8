"""Round-8: persisted PQ index lifecycle + registry-head invariant.

1. pq_write_index / append_index / search_index (VERDICT r7
   next-round #3): the persisted, incrementally-maintained form of the
   PQ family — probe results must be row-identical to the one-shot
   pq_adc_topk given the same codebooks, and appends must leave prior
   index files byte-untouched (O(batch) maintenance). The refine
   contract's loud failures are parametrized over every codec in
   tests/test_vector_index.py.
2. The registry head holds EXACTLY 50 entries (ADVICE r7 medium: r7
   shipped 51 and train_split_stats silently missed its driver proof).
"""

from __future__ import annotations

import glob
import json
import os
import re

from pyspark.sql import functions as F

from incubator_pulsar_spark.functions import similarity


# ------------------------------------------- ADVICE r7 medium: head=50

def test_head_marker_is_exactly_50():
    """The driver gates the FIRST 50 registry entries; the head
    section of ALL_QUERIES must therefore hold exactly 50 Query(...)
    rows between its two markers, and the marker comment must never
    drift from the dict's real insertion order."""
    src = open(os.path.join(os.path.dirname(__file__), "..",
                            "incubator_pulsar_spark/plans/queries.py")).read()
    head_m = re.search(r"# --- head 1-50: driver gate", src)
    tail_m = re.search(r"# --- tail 51\+:", src)
    assert head_m and tail_m and head_m.start() < tail_m.start()
    head_txt = src[head_m.start():tail_m.start()]
    assert len(re.findall(r'Query\("', head_txt)) == 50

    from incubator_pulsar_spark.plans.queries import ALL_QUERIES
    head_names = re.findall(r'Query\("([^"]+)"', head_txt)
    assert list(ALL_QUERIES)[:50] == head_names


# --------------------------------------- persisted PQ index lifecycle

class TestPQIndex:
    def _queries(self, emb):
        return emb.filter(F.col("vec_id") < 3).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("query_vec"))

    def test_search_index_matches_one_shot(self, spark, sf_dir, tmp_path):
        """write_index + search_index == pq_adc_topk with the SAME
        codebooks, in both raw-ADC and exact-refine modes — the shared
        _pq_adc_rank body makes drift structurally impossible, this
        locks the read-path (parquet round-trip of codes, JSON
        round-trip of books)."""
        from incubator_pulsar_spark.session import read_table

        emb = read_table(spark, sf_dir, "embeddings")
        q = self._queries(emb)
        idx = str(tmp_path / "pq")
        books = similarity.pq_write_index(emb, idx, dim=64, m=4,
                                          ksub=16)["books"]

        got = similarity.search_index(spark, idx, q, k=5)
        want = similarity.pq_adc_topk(emb, q, k=5, dim=64, books=books)
        assert sorted(map(tuple, got.collect())) == \
            sorted(map(tuple, want.collect()))

        got_r = similarity.search_index(spark, idx, q, k=5, refine=20,
                                        vectors=emb)
        want_r = similarity.pq_adc_topk(emb, q, k=5, dim=64, books=books,
                                        refine=20)
        assert sorted(map(tuple, got_r.collect())) == \
            sorted(map(tuple, want_r.collect()))

    def test_append_is_incremental_and_consistent(self, spark, sf_dir,
                                                  tmp_path):
        """Appending a batch (a) encodes with the SIDECAR books, never
        retraining, (b) leaves every prior index file byte-untouched,
        and (c) a probe over build+append equals the one-shot scan of
        the full corpus under those same frozen books."""
        from incubator_pulsar_spark.session import read_table

        emb = read_table(spark, sf_dir, "embeddings")
        old = emb.filter(F.col("vec_id") % 5 != 0)
        new = emb.filter(F.col("vec_id") % 5 == 0)
        q = self._queries(emb)

        idx = str(tmp_path / "pq")
        books = similarity.pq_write_index(old, idx, dim=64, m=4,
                                          ksub=16)["books"]
        before = {p: os.path.getmtime(p)
                  for p in glob.glob(f"{idx}/base/*.parquet")}
        n = similarity.append_index(new, idx)
        assert n == new.count()
        after = {p: os.path.getmtime(p)
                 for p in glob.glob(f"{idx}/base/*.parquet")}
        assert all(after[p] == t for p, t in before.items())  # untouched
        assert len(after) > len(before)                       # appended
        # sidecar books unchanged by append
        assert json.load(open(f"{idx}/_index.json"))["books"] == books

        got = sorted(map(tuple, similarity.search_index(
            spark, idx, q, k=5, refine=20, vectors=emb).collect()))
        want = sorted(map(tuple, similarity.pq_adc_topk(
            emb, q, k=5, dim=64, books=books, refine=20).collect()))
        assert got == want

    def test_probe_is_codes_only_without_refine(self, spark, sf_dir,
                                                tmp_path):
        """The raw-ADC probe must read ONLY the code table — no scan of
        the embeddings corpus appears in the executed plan (the whole
        point of the compressed index: dim·8 bytes/vector never move
        at query time)."""
        from incubator_pulsar_spark.session import read_table

        emb = read_table(spark, sf_dir, "embeddings")
        idx = str(tmp_path / "pq")
        similarity.pq_write_index(emb, idx, dim=64, m=4, ksub=16)
        # queries as literals so the ONLY parquet in the plan is the
        # index itself (probing from the corpus table would add its
        # own legitimate 3-row scan and mask the assertion)
        qrows = self._queries(emb).collect()
        q = spark.createDataFrame(
            [(r.query_id, list(r.query_vec)) for r in qrows],
            "query_id LONG, query_vec ARRAY<DOUBLE>")
        out = similarity.search_index(spark, idx, q, k=5)
        out.count()
        plan = out._jdf.queryExecution().executedPlan().toString()
        scans = re.findall(r"Scan parquet[^\n]*", plan)
        assert scans and all("embeddings" not in s for s in scans)


# ------------------------------------------------------ IVFADC index

class TestIVFPQ:
    def _queries(self, emb):
        return emb.filter(F.col("vec_id") < 3).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("query_vec"))

    def test_full_probe_equals_flat_pq(self, spark, sf_dir, tmp_path):
        """With nprobe = n_cells the candidate set is the whole corpus,
        so IVFADC must reproduce the flat PQ scan row for row (the
        codebooks are the same deterministic greedy training) — locks
        the cell routing to 'prunes, never perturbs'."""
        from incubator_pulsar_spark.session import read_table

        emb = read_table(spark, sf_dir, "embeddings")
        q = self._queries(emb)
        idx = str(tmp_path / "ivfpq")
        books = similarity.ivfpq_write_index(emb, idx, dim=64, m=4,
                                             ksub=16, n_cells=4)["books"]
        got = sorted(map(tuple, similarity.search_index(
            spark, idx, q, k=5, nprobe=4, refine=20,
            vectors=emb).collect()))
        want = sorted(map(tuple, similarity.pq_adc_topk(
            emb, q, k=5, dim=64, books=books, refine=20).collect()))
        assert got == want

    def test_probe_prunes_cell_partitions(self, spark, sf_dir, tmp_path):
        """A narrow probe must read ONLY the probed cell directories —
        PartitionFilters on the codes scan (directory pruning IS the
        inverted-file lookup, the ivf codec's contract)."""
        from incubator_pulsar_spark.session import read_table

        emb = read_table(spark, sf_dir, "embeddings")
        q = self._queries(emb)
        idx = str(tmp_path / "ivfpq")
        similarity.ivfpq_write_index(emb, idx, dim=64, m=4, ksub=16,
                                     n_cells=8)
        out = similarity.search_index(spark, idx, q, k=5, nprobe=2)
        out.count()
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters" in plan
        pf = plan.split("PartitionFilters:")[1].split("]")[0]
        assert "cell" in pf and pf.strip(" [") != "", (
            "IVFADC probe scan did not prune cell partitions")

    def test_append_is_incremental_and_consistent(self, spark, sf_dir,
                                                  tmp_path):
        """append_index on an ivfpq index: prior cell
        files byte-untouched, codes encoded with the FROZEN sidecar
        (residual flag honored), and a probe over build+append equals
        the reference probe of the full corpus under those frozen
        centroids+codebooks."""
        import glob
        import json

        from incubator_pulsar_spark.functions.similarity import (
            _ivfpq_encode, _ivfpq_probe)
        from incubator_pulsar_spark.session import read_table

        emb = read_table(spark, sf_dir, "embeddings")
        old = emb.filter(F.col("vec_id") % 5 != 0)
        new = emb.filter(F.col("vec_id") % 5 == 0)
        idx = str(tmp_path / "ivfpq")
        built = similarity.ivfpq_write_index(
            old, idx, dim=64, m=4, ksub=16, n_cells=4, residual=True)
        cents, books = built["centroids"], built["books"]
        before = {p: os.path.getmtime(p)
                  for p in glob.glob(f"{idx}/base/cell=*/*.parquet")}
        n = similarity.append_index(new, idx)
        assert n == new.count()
        after = {p: os.path.getmtime(p)
                 for p in glob.glob(f"{idx}/base/cell=*/*.parquet")}
        assert all(after[p] == t for p, t in before.items())  # untouched
        assert len(after) >= len(before)
        side = json.load(open(f"{idx}/_index.json"))
        assert side["books"] == books and side["residual"] is True

        q = self._queries(emb)
        got = sorted(map(tuple, similarity.search_index(
            spark, idx, q, k=5, nprobe=2).collect()))
        qv = q.selectExpr("query_id AS vec_id", "query_vec AS embedding")
        want = sorted(map(tuple, _ivfpq_probe(
            _ivfpq_encode(emb, cents, books, residual=True),
            qv.select(F.col("vec_id").alias("query_id"),
                      similarity.as_double_array(
                          F.col("embedding")).alias("qv")),
            cents, books, 5, nprobe=2, refine=None, vecs=None,
            residual=True).collect()))
        assert got == want

    def test_residual_codes_are_pq_codes_of_explicit_residuals(
            self, spark, sf_dir, tmp_path):
        """residual=True must encode EXACTLY v − centroid[cell]: the
        index's codes equal pq_encode() run on hand-computed residual
        vectors under the same codebooks."""
        import json

        from incubator_pulsar_spark.session import read_table

        emb = read_table(spark, sf_dir, "embeddings")
        idx = str(tmp_path / "ivfpqr")
        side = similarity.ivfpq_write_index(
            emb, idx, dim=64, m=4, ksub=16, n_cells=4, residual=True)
        cents, books = side["centroids"], side["books"]
        assert json.load(open(f"{idx}/_index.json"))["residual"] is True

        got = {r.vec_id: list(r.codes) for r in
               spark.read.parquet(f"{idx}/base").collect()}
        # hand-computed residuals → plain pq_encode under same books
        e = emb.select(
            F.col("vec_id"),
            similarity.as_double_array(F.col("embedding")).alias("vec"))
        from incubator_pulsar_spark.functions.similarity import (
            _attach_centroids, _nearest_cell, _residual)
        r = (_attach_centroids(e, cents)
             .withColumn("cell", _nearest_cell(F.col("vec")))
             .withColumn("rvec", _residual(F.col("vec")))
             .select("vec_id", "rvec"))
        want = {r_.vec_id: list(r_.codes) for r_ in similarity.pq_encode(
            r, books, id_col="vec_id", vec_col="rvec").collect()}
        assert got == want

    def test_residual_ingest_appends_residual_codes(self, spark, sf_dir,
                                                    tmp_path):
        """The ingest stream must honor the sidecar's residual flag —
        appended codes quantize residuals, not raw vectors."""
        from incubator_pulsar_spark.functions.similarity import \
            _ivfpq_encode
        from incubator_pulsar_spark.session import read_table
        from incubator_pulsar_spark.streaming.ann import ingest_batch

        emb = read_table(spark, sf_dir, "embeddings")
        base = emb.filter(F.col("vec_id") % 2 == 0)
        batch = emb.filter(F.col("vec_id") % 2 == 1)
        idx = str(tmp_path / "ivfpqr")
        out = str(tmp_path / "out")
        side = similarity.ivfpq_write_index(
            base, idx, dim=64, m=4, ksub=16, n_cells=4, residual=True)
        cents, books = side["centroids"], side["books"]
        ingest_batch(batch, 0, index_path=idx, out_path=out, k=3,
                     nprobe=2)
        got = {(r.vec_id): (list(r.codes), r.cell) for r in
               spark.read.parquet(f"{idx}/stream").collect()}
        want = {(r.vec_id): (list(r.codes), r.cell) for r in _ivfpq_encode(
            batch, cents, books, residual=True).collect()}
        assert got == want


# --------------------------------------------- Lloyd-refined codebooks

class TestLloydCodebooks:
    def test_deterministic_and_distinct_from_greedy(self, spark, sf_dir):
        from incubator_pulsar_spark.session import read_table

        emb = read_table(spark, sf_dir, "embeddings")
        b2a = similarity.pq_train_codebooks(emb, m=4, ksub=16, dim=64,
                                            lloyd_iters=2)
        b2b = similarity.pq_train_codebooks(emb, m=4, ksub=16, dim=64,
                                            lloyd_iters=2)
        b0 = similarity.pq_train_codebooks(emb, m=4, ksub=16, dim=64)
        assert b2a == b2b          # RNG-free, fully deterministic
        assert b2a != b0           # the sweeps actually moved codewords

    def test_lloyd_recall_at_least_greedy(self, spark, sf_dir):
        """Refine-100 recall@10 with Lloyd-refined books must be >= the
        greedy-only books' (measured 0.635 -> 0.785 at sf0.01; this
        fixture run is fully deterministic, so the assertion cannot
        flake). Ground truth = exact squared-L2 top-10."""
        from incubator_pulsar_spark.functions.similarity import (
            _d2, as_double_array)
        from incubator_pulsar_spark.session import read_table
        from pyspark.sql import Window

        emb = read_table(spark, sf_dir, "embeddings")
        q = emb.filter(F.col("vec_id") < 10).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("query_vec"))
        e = emb.select("vec_id",
                       as_double_array(F.col("embedding")).alias("v"))
        qq = q.select("query_id",
                      as_double_array(F.col("query_vec")).alias("qv"))
        w = Window.partitionBy("query_id").orderBy(
            F.col("d").asc(), F.col("vec_id"))
        truth = {(r.query_id, r.vec_id) for r in
                 e.crossJoin(F.broadcast(qq))
                 .select("query_id", "vec_id",
                         F.round(_d2(F.col("v"), F.col("qv")), 6)
                         .alias("d"))
                 .withColumn("r", F.row_number().over(w))
                 .filter("r <= 10").collect()}

        def recall(iters):
            got = {(r.query_id, r.vec_id) for r in similarity.pq_adc_topk(
                emb, q, k=10, dim=64, refine=50,
                lloyd_iters=iters).collect()}
            return len(got & truth) / len(truth)

        assert recall(2) >= recall(0)


# ------------------------- window_function mapInPandas pane machinery

class TestWindowFunctionPanes:
    """window_function was rewritten from groupBy().applyInPandas (one
    Arrow RecordBatch PER PANE — measured ~3 ms/pane of machinery, 8.5s
    for a trivial fn over 3,385 panes) to repartition + sort +
    mapInPandas with a group-boundary carry. These lock the semantics
    the rewrite must preserve."""

    def _schema(self):
        from pyspark.sql import types as T
        return T.StructType([
            T.StructField("k", T.StringType()),
            T.StructField("n", T.LongType()),
            T.StructField("total", T.DoubleType()),
        ])

    def _fn(self):
        import pandas as pd

        def agg(pdf: pd.DataFrame) -> pd.DataFrame:
            return pd.DataFrame({
                "k": [None if pd.isna(pdf["k"].iloc[0])
                      else pdf["k"].iloc[0]],
                "n": [len(pdf)],
                "total": [float(pdf["v"].sum())],
            })
        return agg

    def test_matches_grouped_map_including_null_keys(self, spark):
        """Every pane delivered exactly once, null keys form ONE pane
        (groupBy semantics), results identical to the grouped-map
        reference."""
        from incubator_pulsar_spark.functions.runtime import window_function

        rows = [("a", 1.0), ("b", 2.0), (None, 3.0), ("a", 4.0),
                (None, 5.0), ("c", 6.0), ("b", 7.0)]
        df = spark.createDataFrame(rows, "k STRING, v DOUBLE")
        got = sorted(map(tuple, window_function(
            df, self._fn(), self._schema(), group_by=["k"]).collect()),
            key=str)
        want = sorted(map(tuple, df.groupBy("k").applyInPandas(
            self._fn(), self._schema()).collect()), key=str)
        assert got == want
        assert (None, 2, 8.0) in got  # the two null-key rows, one pane

    def test_pane_spanning_arrow_batches_is_one_call(self, spark):
        """A pane larger than the Arrow batch size must still reach fn
        as ONE DataFrame (the carry logic), never split."""
        from incubator_pulsar_spark.functions.runtime import window_function

        old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
        try:
            df = spark.range(100).selectExpr(
                "CASE WHEN id < 60 THEN 'big' ELSE concat('s', id % 4) "
                "END AS k", "CAST(id AS DOUBLE) AS v")
            got = {r.k: (r.n, r.total) for r in window_function(
                df, self._fn(), self._schema(), group_by=["k"]).collect()}
            assert got["big"] == (60, float(sum(range(60))))
            assert sum(n for n, _ in got.values()) == 100
        finally:
            spark.conf.set(
                "spark.sql.execution.arrow.maxRecordsPerBatch", old)
