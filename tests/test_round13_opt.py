"""Round-13 optimization locks: the Arrow PQ kernels are EXACT twins
of the fold-expression forms they replaced (pq_arrow vs the private
``*_fold`` reference functions, swapped in with ``monkeypatch``)."""

import os

import pytest
from pyspark.sql import functions as F

from incubator_pulsar_spark.functions import pq_arrow
from incubator_pulsar_spark.functions import similarity as S
from incubator_pulsar_spark.session import get_spark


SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


@pytest.fixture(scope="module")
def spark():
    return get_spark("test_round13_opt")


@pytest.fixture(scope="module")
def emb(spark):
    from incubator_pulsar_spark.session import read_table

    return read_table(spark, SF_DIR, "embeddings")


@pytest.fixture(scope="module")
def trained(emb):
    books = S.pq_train_codebooks(emb, m=4, ksub=16, dim=64)
    cents = S._seed_centroids(emb, n_cells=8, id_col="vec_id",
                              vec_col="embedding")
    return cents, books


def _rows(df):
    return sorted(map(tuple, df.collect()))


# production kernel -> its reference form; _both swaps in all of them
_REFERENCE = [
    (S, "pq_encode", S._pq_encode_fold),
    (S, "_ivfpq_encode", S._ivfpq_encode_fold),
    (S, "_pq_adc_rank", S._pq_adc_rank_fold),
    (S, "_ivfpq_probe", S._ivfpq_probe_fold),
    (S, "_sq8_encode_df", S._sq8_encode_fold),
    (S, "_sq8_scores", S._sq8_scores_fold),
    (pq_arrow, "assign_clusters", S._assign_clusters_fold),
]


@pytest.fixture
def _both(monkeypatch):
    def run(fn):
        a = _rows(fn())
        with monkeypatch.context() as m:
            for mod, name, ref in _REFERENCE:
                m.setattr(mod, name, ref)
            b = _rows(fn())
        return a, b
    return run


def _q(emb):
    return (emb.filter(F.col("vec_id") < 5)
            .select(F.col("vec_id").alias("query_id"),
                    S.as_double_array(F.col("embedding")).alias("qv")))


def test_encode_parity(emb, trained, _both):
    cents, books = trained
    rot = S.pq_rotation(64)
    for kw in ({}, {"rotation": rot}):
        a, b = _both(lambda: S.pq_encode(emb, books, **kw)
                     .select("vec_id", F.col("codes").cast("string")))
        assert a == b and len(a) > 0


def test_ivfpq_encode_parity(emb, trained, _both):
    cents, books = trained
    rot = S.pq_rotation(64)
    for kw in ({"residual": False}, {"residual": True, "rotation": rot}):
        a, b = _both(lambda: S._ivfpq_encode(emb, cents, books, **kw)
                     .select("vec_id", "cell",
                             F.col("codes").cast("string")))
        assert a == b and len(a) > 0


def test_adc_rank_parity(emb, trained, _both):
    _, books = trained
    q = _q(emb)
    enc = S.pq_encode(emb, books)
    vecs = emb.select("vec_id",
                      S.as_double_array(F.col("embedding")).alias("_cv"))
    a, b = _both(lambda: S._pq_adc_rank(enc, q, books, 10,
                                        refine=None, vecs=None))
    assert a == b and len(a) > 0
    a, b = _both(lambda: S._pq_adc_rank(enc, q, books, 10,
                                        refine=50, vecs=vecs))
    assert a == b and len(a) > 0


def test_ivfpq_probe_parity(emb, trained, _both):
    cents, books = trained
    rot = S.pq_rotation(64)
    q = _q(emb)
    vecs = emb.select("vec_id",
                      S.as_double_array(F.col("embedding")).alias("_cv"))
    enc = S._ivfpq_encode(emb, cents, books, residual=False)
    a, b = _both(lambda: S._ivfpq_probe(enc, q, cents, books, 10,
                                        nprobe=3, refine=None, vecs=None))
    assert a == b and len(a) > 0
    encr = S._ivfpq_encode(emb, cents, books, residual=True, rotation=rot)
    a, b = _both(lambda: S._ivfpq_probe(encr, q, cents, books, 10,
                                        nprobe=3, refine=50, vecs=vecs,
                                        residual=True, rotation=rot))
    assert a == b and len(a) > 0


def test_round_spark_twin():
    """round_spark == Spark F.round on doubles, including the exact
    .5-boundary band where binary scaling alone could flip."""
    import numpy as np

    from incubator_pulsar_spark.functions.pq_arrow import round_spark

    vals = [0.1234565, 0.12345649999, -0.1234565, 2.5e-7, -2.5e-7,
            1.9999995, 0.0, 123.4567894999, 123.4567895001,
            7.62939453125e-06]  # exact binary .5-boundary cases too
    # large-magnitude boundary cases (ADVICE r13): once |x·10^nd| >
    # ~8.6e9 the float64 scaling error exceeds the old fixed 1e-6
    # band, so the exact-Decimal path must be triggered by the
    # magnitude-relative band; shortest-repr .5-enders near x~16 at
    # nd=9 were the reproduced divergence class
    vals += [16.0000000005, 16.0000000015, 16.0000000025,
             128.0000000135, 1023.9999999995, 8.0000000045]
    spark = get_spark("test_round13_opt")
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    want = [r[0] for r in
            df.select(F.round(F.col("x"), 6)).collect()]
    got = list(round_spark(np.array(vals), 6))
    assert got == want
    want9 = [r[0] for r in
             df.select(F.round(F.col("x"), 9)).collect()]
    got9 = list(round_spark(np.array(vals), 9))
    assert got9 == want9


def test_sq8_parity(emb, _both):
    """SQ8 arrow scan + encode == the fold expression forms."""
    a, b = _both(lambda: S.sq8_topk(
        emb, emb.filter(F.col("vec_id") < 5)
        .select(F.col("vec_id").alias("query_id"),
                F.col("embedding").alias("query_vec")),
        k=10, dim=64, refine=50))
    assert a == b and len(a) > 0


def test_kmeans_parity(emb, _both):
    """kmeans arrow assignment == the fold expression assignment."""
    a, b = _both(lambda: S.kmeans_embeddings(emb, k=4, n_iter=2))
    assert a == b and len(a) > 0
