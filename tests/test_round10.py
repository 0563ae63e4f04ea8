"""Round-10: pane-boundary engine on native dtypes (VERDICT r9 #8 +
ADVICE r9 low on nested-float keys) + PQ pre-rotation (the OPQ 'RR'
signed-permutation baseline).

The window_function boundary detector was reworked from one hidden
canonical-string column per key (object-dtype comparison — measured
+50% on the sf0.1 median bench row) to native-dtype numpy comparison:
exact object/datetime64 columns compare directly, LONG keys through
two 32-bit halves (exact in float64 at any magnitude), float/double
keys keep the canonical string, nested keys go through to_json with
floats normalized recursively. Every case here is locked against the
groupBy().applyInPandas reference — the semantics the engine must
reproduce — including the ADVICE r9 nested-float case the old engine
got wrong (-0.0 vs 0.0 inside a struct key split one group into two
panes)."""

from __future__ import annotations

import datetime
from decimal import Decimal

import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from incubator_pulsar_spark.functions.runtime import window_function


def _schema(key_type):
    return T.StructType([
        T.StructField("k", key_type),
        T.StructField("n", T.LongType()),
        T.StructField("total", T.DoubleType()),
    ])


def _agg():
    def agg(pdf: pd.DataFrame) -> pd.DataFrame:
        k = pdf["k"].iloc[0]
        return pd.DataFrame({
            "k": [None if (pd.api.types.is_scalar(k) and pd.isna(k))
                  else k],
            "n": [len(pdf)],
            "total": [float(pdf["v"].sum())],
        })
    return agg


def _check_vs_groupby(spark, df, key_type):
    got = sorted(map(tuple, window_function(
        df, _agg(), _schema(key_type), group_by=["k"]).collect()),
        key=str)
    want = sorted(map(tuple, df.groupBy("k").applyInPandas(
        _agg(), _schema(key_type)).collect()), key=str)
    assert got == want
    return got


class TestPaneBoundaryDtypes:
    def test_long_keys_past_2_53_with_nulls(self, spark):
        """The hi/lo split must keep ADJACENT DISTINCT huge keys
        distinct even when the batch carries nulls (null-upcast to
        float64 — where 2^53+1 == 2^53+2)."""
        base = 9007199254740992                       # 2^53
        rows = [(base + 1, 1.0), (base + 1, 2.0), (base + 2, 4.0),
                (base + 3, 8.0), (None, 16.0), (None, 32.0),
                (-base - 7, 64.0), (1, 128.0)]
        df = spark.createDataFrame(rows, "k BIGINT, v DOUBLE")
        got = _check_vs_groupby(spark, df, T.LongType())
        assert (base + 1, 2, 3.0) in got
        assert (base + 2, 1, 4.0) in got              # NOT merged
        assert (None, 2, 48.0) in got

    def test_int_keys_with_nulls(self, spark):
        rows = [(2147483647, 1.0), (2147483646, 2.0), (None, 3.0),
                (0, 4.0), (0, 5.0)]
        df = spark.createDataFrame(rows, "k INT, v DOUBLE")
        got = _check_vs_groupby(spark, df, T.IntegerType())
        assert (0, 2, 9.0) in got

    def test_double_keys_null_nan_and_signed_zero(self, spark):
        """groupBy semantics: all NaNs one group, NULL a DIFFERENT
        group, -0.0 merged with 0.0."""
        rows = [(float("nan"), 1.0), (float("nan"), 2.0), (None, 4.0),
                (-0.0, 8.0), (0.0, 16.0), (1.5, 32.0)]
        df = spark.createDataFrame(rows, "k DOUBLE, v DOUBLE")
        got = window_function(df, _agg(), _schema(T.DoubleType()),
                              group_by=["k"]).collect()
        # pane values can't tell a NULL key from a NaN key (both are
        # NaN in the pane's float64 column — true of grouped-map too),
        # so assert the pane STRUCTURE: NaNs one pane of 2, NULL its
        # own pane of 1, the two zeros merged, 1.5 alone
        stats = sorted((r.n, r.total) for r in got)
        assert stats == [(1, 4.0), (1, 32.0), (2, 3.0), (2, 24.0)]

    def test_timestamp_date_decimal_bool_binary_keys(self, spark):
        ts = datetime.datetime(2024, 1, 1, 12, 0, 0)
        rows = [(ts, 1.0), (ts, 2.0),
                (ts + datetime.timedelta(microseconds=1), 4.0),
                (None, 8.0)]
        df = spark.createDataFrame(rows, "k TIMESTAMP, v DOUBLE")
        got = _check_vs_groupby(spark, df, T.TimestampType())
        assert len(got) == 3                           # us-exact split

        rows = [(datetime.date(2024, 1, 1), 1.0),
                (datetime.date(2024, 1, 2), 2.0), (None, 4.0),
                (datetime.date(2024, 1, 1), 8.0)]
        df = spark.createDataFrame(rows, "k DATE, v DOUBLE")
        _check_vs_groupby(spark, df, T.DateType())

        rows = [(Decimal("1.23"), 1.0), (Decimal("1.24"), 2.0),
                (Decimal("1.23"), 4.0), (None, 8.0)]
        df = spark.createDataFrame(
            rows, T.StructType([T.StructField("k", T.DecimalType(10, 2)),
                                T.StructField("v", T.DoubleType())]))
        _check_vs_groupby(spark, df, T.DecimalType(10, 2))

        rows = [(True, 1.0), (False, 2.0), (None, 4.0), (True, 8.0)]
        df = spark.createDataFrame(rows, "k BOOLEAN, v DOUBLE")
        _check_vs_groupby(spark, df, T.BooleanType())

        rows = [(b"ab", 1.0), (b"ac", 2.0), (None, 4.0), (b"ab", 8.0)]
        df = spark.createDataFrame(rows, "k BINARY, v DOUBLE")
        got = sorted(map(tuple, window_function(
            df, _agg(), _schema(T.BinaryType()),
            group_by=["k"]).collect()), key=str)
        assert len(got) == 3
        assert any(r[0] is not None and bytes(r[0]) == b"ab"
                   and r[1] == 2 and r[2] == 9.0 for r in got)

    def test_nested_struct_key_normalizes_signed_zero(self, spark):
        """ADVICE r9 low: a struct key holding -0.0 must pane with its
        +0.0 twin (one groupBy group), and nested NaNs must merge; a
        NULL struct stays distinct from a struct of nulls."""
        rows = [((1, -0.0), 1.0), ((1, 0.0), 2.0),
                ((1, float("nan")), 4.0), ((1, float("nan")), 8.0),
                ((1, None), 16.0), (None, 32.0), ((2, 0.5), 64.0)]
        df = spark.createDataFrame(
            rows, "k STRUCT<a INT, b DOUBLE>, v DOUBLE")
        got = window_function(
            df, _agg(),
            _schema(T.StructType([T.StructField("a", T.IntegerType()),
                                  T.StructField("b", T.DoubleType())])),
            group_by=["k"]).collect()
        stats = sorted((r.n, r.total) for r in got)
        # groups: {-0.0, 0.0} | {nan, nan} | {(1,null)} | {null} | {(2,.5)}
        assert stats == [(1, 16.0), (1, 32.0), (1, 64.0),
                         (2, 3.0), (2, 12.0)]

    def test_nested_array_key_matches_groupby(self, spark):
        rows = [([1.0, -0.0], 1.0), ([1.0, 0.0], 2.0),
                ([1.0, 2.0], 4.0), (None, 8.0), ([], 16.0)]
        df = spark.createDataFrame(rows, "k ARRAY<DOUBLE>, v DOUBLE")
        got = window_function(
            df, _agg(), _schema(T.ArrayType(T.DoubleType())),
            group_by=["k"]).collect()
        stats = sorted((r.n, r.total) for r in got)
        assert stats == [(1, 4.0), (1, 8.0), (1, 16.0), (2, 3.0)]

    def test_multi_key_boundary_or(self, spark):
        """Boundaries OR across key columns: a change in EITHER key
        splits the pane — and panes still span Arrow batches."""
        old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "5")
        try:
            df = spark.range(60).selectExpr(
                "id % 3 AS a", "CAST(id % 2 AS STRING) AS b",
                "CAST(id AS DOUBLE) AS v")
            schema = T.StructType([
                T.StructField("a", T.LongType()),
                T.StructField("b", T.StringType()),
                T.StructField("n", T.LongType()),
            ])

            def agg(pdf):
                return pd.DataFrame({"a": [pdf["a"].iloc[0]],
                                     "b": [pdf["b"].iloc[0]],
                                     "n": [len(pdf)]})

            got = sorted(map(tuple, window_function(
                df, agg, schema, group_by=["a", "b"]).collect()))
            want = sorted(map(tuple, df.groupBy("a", "b").applyInPandas(
                agg, schema).collect()))
            assert got == want and len(got) == 6
        finally:
            spark.conf.set(
                "spark.sql.execution.arrow.maxRecordsPerBatch", old)


# --------------------------------- PQ pre-rotation (OPQ 'RR' baseline)

class TestPQRotation:
    def test_rotation_is_deterministic_isometry(self):
        from incubator_pulsar_spark.functions.similarity import pq_rotation

        perm, signs = pq_rotation(64)
        assert (perm, signs) == pq_rotation(64)       # RNG-free
        assert sorted(perm) == list(range(64))        # a permutation
        assert set(signs) <= {-1, 1} and -1 in signs and 1 in signs

    def test_rotated_index_lifecycle_matches_one_shot(self, spark,
                                                      sf_dir, tmp_path):
        """write(rotate=True) + append + search == the one-shot
        pq_adc_topk(rotate=True) over the full corpus — append and
        probe both honor the rotation pinned in the sidecar."""
        from incubator_pulsar_spark.functions import similarity
        import json as _json

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet") \
            .select("vec_id", "embedding")
        q = emb.filter(F.col("vec_id") < 3).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("query_vec"))
        idx = str(tmp_path / "pqrot")
        books = similarity.pq_write_index(
            emb.filter(F.col("vec_id") % 5 != 0), idx,
            dim=64, m=4, ksub=16, rotate=True)["books"]
        similarity.append_index(
            emb.filter(F.col("vec_id") % 5 == 0), idx)

        got = sorted(map(tuple, similarity.search_index(
            spark, idx, q, k=5, refine=20, vectors=emb).collect()))
        # one-shot reference under the SAME (build-half) books: encode
        # everything rotated, rank, refine raw
        rot = similarity.pq_rotation(64)
        enc = similarity.pq_encode(emb, books, rotation=rot)
        qq = q.select("query_id", similarity.as_double_array(
            F.col("query_vec")).alias("qv"))
        vecs = emb.select("vec_id", similarity.as_double_array(
            F.col("embedding")).alias("_cv"))
        want = sorted(map(tuple, similarity._pq_adc_rank(
            enc, qq, books, 5, refine=20, vecs=vecs,
            rotation=rot).collect()))
        assert got == want
        # sidecar round-trips the exact rotation
        side = _json.load(open(f"{idx}/_index.json"))["rotation"]
        assert (side["perm"], side["signs"]) == rot

    def test_rotation_changes_codes_not_exact_distances(self, spark,
                                                        sf_dir):
        """The isometry contract: rotated and unrotated pipelines
        disagree on CODES (different subspace content) but produce
        IDENTICAL exact_d2 for any (query, candidate) pair that
        appears in both refine outputs — raw-space arithmetic is
        untouched by the rotation."""
        from incubator_pulsar_spark.functions import similarity

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet") \
            .select("vec_id", "embedding")
        q = emb.filter(F.col("vec_id") < 3).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("query_vec"))
        raw = similarity.pq_adc_topk(emb, q, k=10, dim=64, refine=100)
        rot = similarity.pq_adc_topk(emb, q, k=10, dim=64, refine=100,
                                     rotate=True)
        d_raw = {(r.query_id, r.vec_id): r.exact_d2 for r in raw.collect()}
        d_rot = {(r.query_id, r.vec_id): r.exact_d2 for r in rot.collect()}
        common = set(d_raw) & set(d_rot)
        assert common                                  # overlap exists
        assert all(d_raw[p] == d_rot[p] for p in common)

    def test_ingest_stream_honors_rotation_sidecar(self, spark, sf_dir,
                                                   tmp_path):
        """A stream batch appended to a ROTATED index must encode in
        rotated space (codes equal pq_encode with the sidecar
        rotation), or later probes would mix spaces silently."""
        from incubator_pulsar_spark.functions import similarity
        from incubator_pulsar_spark.streaming.ann import ingest_batch

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet") \
            .select("vec_id", "embedding")
        base = emb.filter(F.col("vec_id") % 2 == 0)
        batch = emb.filter(F.col("vec_id") % 2 == 1)
        idx, out = str(tmp_path / "idx"), str(tmp_path / "out")
        books = similarity.pq_write_index(base, idx, dim=64, m=4,
                                          ksub=16, rotate=True)["books"]
        ingest_batch(batch, 0, index_path=idx, out_path=out, k=3)
        got = {r.vec_id: list(r.codes) for r in
               spark.read.parquet(f"{idx}/stream").collect()}
        want = {r.vec_id: list(r.codes) for r in similarity.pq_encode(
            batch, books,
            rotation=similarity.pq_rotation(64)).collect()}
        assert got == want

    def test_rotation_balances_blocky_variance(self, spark):
        """The reason RR exists (OPQ §4: PQ's subspace split is
        arbitrary w.r.t. the data's variance layout): when all variance
        lives in ONE subspace-aligned block (here dims 0..15 = exactly
        subspace 0) the unrotated books spend 3×16 codewords on
        constants while 16 codewords face all 400 distinct subvectors;
        the rotation spreads the hot dims across all m subspaces.
        Measured on this fixture: pool quantization error 42.2M raw →
        19.6M rotated (×2.15). Deterministic, so the inequality cannot
        flake."""
        import hashlib

        from incubator_pulsar_spark.functions import similarity

        rows = []
        for i in range(400):
            h = hashlib.md5(f"v{i}".encode()).digest()
            vec = [float(h[j % 16]) if j < 16 else 0.0 for j in range(64)]
            rows.append((i, vec))
        emb = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")
        rot = similarity.pq_rotation(64)
        er = emb.select("vec_id", similarity._rotate_vec(
            similarity.as_double_array(F.col("embedding")), rot)
            .alias("embedding"))
        b_raw = similarity.pq_train_codebooks(emb, m=4, ksub=16, dim=64)
        b_rot = similarity.pq_train_codebooks(er, m=4, ksub=16, dim=64)
        e_raw = similarity._pool_quantization_error(emb, b_raw)
        e_rot = similarity._pool_quantization_error(er, b_rot)
        assert e_rot < e_raw


# --------------------------- MaxSim late-interaction retrieval (r10)

class TestMaxSim:
    def test_matches_bruteforce(self, spark):
        """score(q, d) = sum over q's tokens of max dot against d's
        tokens — locked against a python brute force on a small
        deterministic fixture (ragged doc-token bags included)."""
        import hashlib

        from incubator_pulsar_spark.functions.similarity import maxsim_topk

        def vec(seed):
            h = hashlib.md5(seed.encode()).digest()
            return [float(h[j]) / 255.0 for j in range(8)]

        docs = [(d, p, vec(f"d{d}p{p}"))
                for d in range(12) for p in range(1 + d % 3)]
        qs = [(q, p, vec(f"q{q}p{p}")) for q in range(2) for p in range(3)]
        ddf = spark.createDataFrame(
            docs, "doc_id LONG, token_pos INT, vec ARRAY<DOUBLE>")
        qdf = spark.createDataFrame(
            qs, "query_id LONG, token_pos INT, vec ARRAY<DOUBLE>")
        got = {(r.query_id, r.rank): (r.doc_id, r.score)
               for r in maxsim_topk(ddf, qdf, k=5,
                                    n_query_tokens=3).collect()}

        def dot(a, b):
            s = 0.0
            for x, y in zip(a, b):
                s += x * y
            return round(s, 9)

        want = {}
        for q in range(2):
            scores = []
            for d in range(12):
                dvecs = [v for dd, _, v in docs if dd == d]
                s = sum(max(dot(v, qv) for v in dvecs)
                        for qq, _, qv in qs if qq == q)
                scores.append((d, round(s, 6)))
            scores.sort(key=lambda t: (-t[1], t[0]))
            for rank, (d, s) in enumerate(scores[:5], 1):
                want[(q, rank)] = (d, s)
        assert got == want

    def test_plan_broadcasts_queries_no_smj(self, spark):
        """The scale contract: query tokens broadcast, no sort-merge
        join anywhere, aggregates partial map-side."""
        import hashlib

        from incubator_pulsar_spark.functions.similarity import maxsim_topk

        def vec(seed):
            h = hashlib.md5(seed.encode()).digest()
            return [float(h[j]) for j in range(8)]

        ddf = spark.createDataFrame(
            [(d, p, vec(f"d{d}p{p}")) for d in range(50) for p in range(2)],
            "doc_id LONG, token_pos INT, vec ARRAY<DOUBLE>")
        qdf = spark.createDataFrame(
            [(0, p, vec(f"qp{p}")) for p in range(2)],
            "query_id LONG, token_pos INT, vec ARRAY<DOUBLE>")
        out = maxsim_topk(ddf, qdf, k=3, n_query_tokens=2)
        out.count()
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
        assert "SortMergeJoin" not in plan

    def test_missing_query_token_position_yields_null_score(self, spark):
        """The documented contract: a query lacking token position i
        scores NULL (visible), never a silently renumbered rank."""
        from incubator_pulsar_spark.functions.similarity import maxsim_topk

        ddf = spark.createDataFrame(
            [(0, 0, [1.0, 0.0]), (1, 0, [0.0, 1.0])],
            "doc_id LONG, token_pos INT, vec ARRAY<DOUBLE>")
        qdf = spark.createDataFrame(
            [(7, 0, [1.0, 1.0])],       # declared 2 tokens, has only pos 0
            "query_id LONG, token_pos INT, vec ARRAY<DOUBLE>")
        rows = maxsim_topk(ddf, qdf, k=5, n_query_tokens=2).collect()
        assert rows and all(r.score is None for r in rows)

    def test_rotation_balances_blocky_residual_variance(self, spark):
        """The measured justification for composing rotation with
        IVFADC residual coding (ROADMAP r10 candidate #3's bar):
        clustered cells whose residual variance is concentrated in one
        subspace-aligned block — rotating the residual spreads it
        across all m subspaces (measured 54.0M → 33.0M pool error on
        this fixture). Deterministic fixture, cannot flake."""
        import hashlib

        from incubator_pulsar_spark.functions import similarity

        rows, vid = [], 0
        for c in range(8):
            hb = hashlib.md5(f"cell{c}".encode()).digest()
            base = [(hb[j % 16] - 127.5) * 8.0 for j in range(64)]
            for i in range(50):
                hr = hashlib.md5(f"r{c}-{i}".encode()).digest()
                vec = [base[j] + (float(hr[j]) if j < 16 else 0.0)
                       for j in range(64)]
                rows.append((vid, vec))
                vid += 1
        emb = spark.createDataFrame(rows,
                                    "vec_id LONG, embedding ARRAY<DOUBLE>")
        cents = similarity._seed_centroids(emb, n_cells=8,
                                           id_col="vec_id",
                                           vec_col="embedding")
        e = emb.select("vec_id", similarity.as_double_array(
            F.col("embedding")).alias("vec"))
        r = (similarity._attach_centroids(e, cents)
             .withColumn("cell", similarity._nearest_cell(F.col("vec")))
             .withColumn("rvec", similarity._residual(F.col("vec")))
             .select("vec_id", "rvec"))
        rot = similarity.pq_rotation(64)
        rr = r.select("vec_id", similarity._rotate_vec(F.col("rvec"), rot)
                      .alias("rvec"))
        b_res = similarity.pq_train_codebooks(
            r, m=4, ksub=16, dim=64, id_col="vec_id", vec_col="rvec")
        b_rot = similarity.pq_train_codebooks(
            rr, m=4, ksub=16, dim=64, id_col="vec_id", vec_col="rvec")
        e_res = similarity._pool_quantization_error(
            r, b_res, id_col="vec_id", vec_col="rvec")
        e_rot = similarity._pool_quantization_error(
            rr, b_rot, id_col="vec_id", vec_col="rvec")
        assert e_rot < e_res

    def test_ivfpq_append_and_ingest_honor_rotation_sidecar(
            self, spark, sf_dir, tmp_path):
        """Appends and stream batches to a rotated IVFADC index must
        encode rotated (residual) vectors — codes equal the reference
        encoder under the sidecar's pinned rotation — and probes over
        build+append must equal an explicitly-assembled reference."""
        import json as _json

        from incubator_pulsar_spark.functions import similarity
        from incubator_pulsar_spark.functions.similarity import (
            _ivfpq_encode, _ivfpq_probe)
        from incubator_pulsar_spark.streaming.ann import ingest_batch

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet") \
            .select("vec_id", "embedding")
        base = emb.filter(F.col("vec_id") % 3 == 0)
        b1 = emb.filter(F.col("vec_id") % 3 == 1)
        b2 = emb.filter(F.col("vec_id") % 3 == 2)
        idx, out = str(tmp_path / "idx"), str(tmp_path / "out")
        side = similarity.ivfpq_write_index(
            base, idx, dim=64, m=4, ksub=16, n_cells=4,
            residual=True, rotate=True)
        cents, books = side["centroids"], side["books"]
        assert side == _json.load(open(f"{idx}/_index.json"))
        rot = (side["rotation"]["perm"], side["rotation"]["signs"])
        assert rot == similarity.pq_rotation(64)

        similarity.append_index(b1, idx)
        ingest_batch(b2, 0, index_path=idx, out_path=out, k=3,
                     nprobe=2)
        got = {r.vec_id: (list(r.codes), r.cell) for r in
               spark.read.parquet(f"{idx}/stream").collect()}
        want = {r.vec_id: (list(r.codes), r.cell) for r in _ivfpq_encode(
            b2, cents, books, residual=True, rotation=rot).collect()}
        assert got == want

        q = emb.filter(F.col("vec_id") < 3).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("query_vec"))
        got_p = sorted(map(tuple, similarity.search_index(
            spark, idx, q, k=5, nprobe=2).collect()))
        qv = q.select("query_id", similarity.as_double_array(
            F.col("query_vec")).alias("qv"))
        want_p = sorted(map(tuple, _ivfpq_probe(
            _ivfpq_encode(emb, cents, books, residual=True, rotation=rot),
            qv, cents, books, 5, nprobe=2, refine=None, vecs=None,
            residual=True, rotation=rot).collect()))
        assert got_p == want_p
