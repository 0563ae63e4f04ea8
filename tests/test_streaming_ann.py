"""Continuous-ingest ANN probe (streaming.ann): stream/batch parity +
replay idempotency — the quality-monitor discipline wired to the
similarity-search path (VERDICT r7 next-round #8)."""

from __future__ import annotations

from pyspark.sql import functions as F

from incubator_pulsar_spark.functions import similarity


def _q(df):
    return df.select(F.col("vec_id").alias("query_id"),
                     similarity.as_double_array(
                         F.col("embedding")).alias("qv"))


def _rank_against(enc_src, books, queries, k):
    """Reference: raw ADC top-k of `queries` against an explicitly
    encoded corpus — the batch semantics each stream batch must match."""
    return sorted(map(tuple, similarity._pq_adc_rank(
        similarity.pq_encode(enc_src, books), _q(queries), books, k,
        refine=None, vecs=None).collect()))


def test_pq_ingest_stream_matches_batch_and_replays_idempotently(
        spark, tmp_path, sf_dir):
    from incubator_pulsar_spark.streaming.ann import (
        ingest_batch, start_ingest_stream)

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet") \
        .select("vec_id", "embedding")
    base = emb.filter(F.col("vec_id") % 3 == 0)
    b1 = emb.filter(F.col("vec_id") % 3 == 1)
    b2 = emb.filter(F.col("vec_id") % 3 == 2)

    idx = str(tmp_path / "idx")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    src = str(tmp_path / "src")
    books = similarity.pq_write_index(base, idx, dim=64, m=4,
                                      ksub=16)["books"]

    def run():
        stream = spark.readStream.schema(emb.schema).parquet(src)
        q = start_ingest_stream(
            stream, index_path=idx, out_path=out, checkpoint_path=ckpt,
            k=5, available_now=True)
        q.awaitTermination(120)

    b1.write.mode("append").parquet(src)
    run()
    b2.write.mode("append").parquet(src)
    run()

    hits = spark.read.parquet(out)
    assert {r._batch_id for r in hits.select("_batch_id").distinct()
            .collect()} == {0, 1}

    # stream/batch parity: batch 0 probed the index as of BASE only;
    # batch 1 probed base ∪ b1 (its own rows excluded — no self-match)
    got0 = sorted(map(tuple, hits.filter(F.col("_batch_id") == 0)
                      .drop("_batch_id").collect()))
    got1 = sorted(map(tuple, hits.filter(F.col("_batch_id") == 1)
                      .drop("_batch_id").collect()))
    assert got0 == _rank_against(base, books, b1, 5)
    assert got1 == _rank_against(base.unionByName(b1), books, b2, 5)
    assert not any(r[0] == r[1] for r in got0 + got1)  # no self-match

    # the index end-state now covers all three subsets: a batch probe
    # over the persisted index equals the one-shot scan of the FULL
    # corpus under the same frozen books
    probe = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"))
    got_all = sorted(map(tuple, similarity.search_index(
        spark, idx, probe, k=5).collect()))
    want_all = sorted(map(tuple, similarity.pq_adc_topk(
        emb, probe, k=5, dim=64, books=books).collect()))
    assert got_all == want_all

    # replay idempotency: re-execute batch 0's body directly (the
    # crash-replay path). Probe output and stream codes must rewrite
    # themselves — same rows, no duplicates, batch-1 rows untouched.
    for _ in range(2):
        ingest_batch(b1, 0, index_path=idx, out_path=out, k=5)
    hits2 = spark.read.parquet(out)
    assert sorted(map(tuple, hits2.filter(F.col("_batch_id") == 0)
                      .drop("_batch_id").collect())) == got0
    assert sorted(map(tuple, hits2.filter(F.col("_batch_id") == 1)
                      .drop("_batch_id").collect())) == got1
    codes = spark.read.parquet(f"{idx}/stream")
    assert codes.count() == b1.count() + b2.count()


def _ivfpq_enc(df, cents, books):
    """Reference encoder: (vec_id, codes, cell) for an explicit corpus
    under FROZEN centroids+codebooks — what the index must contain."""
    from incubator_pulsar_spark.functions.similarity import (
        _attach_centroids, _attach_pq, _nearest_cell, _pq_codes)

    e = df.select(F.col("vec_id"),
                  similarity.as_double_array(F.col("embedding"))
                  .alias("vec"))
    e = (_attach_centroids(e, cents)
         .withColumn("cell", _nearest_cell(F.col("vec"))).drop("_cents"))
    return _attach_pq(e, books).select(
        "vec_id", "cell",
        _pq_codes(F.col("vec"), len(books), len(books[0][0]))
        .alias("codes"))


def test_ivfpq_ingest_stream_matches_batch_and_replays_idempotently(
        spark, tmp_path, sf_dir):
    from incubator_pulsar_spark.functions.similarity import _ivfpq_probe
    from incubator_pulsar_spark.streaming.ann import (
        ingest_batch, start_ingest_stream)

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet") \
        .select("vec_id", "embedding")
    base = emb.filter(F.col("vec_id") % 3 == 0)
    b1 = emb.filter(F.col("vec_id") % 3 == 1)
    b2 = emb.filter(F.col("vec_id") % 3 == 2)

    idx = str(tmp_path / "idx")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    src = str(tmp_path / "src")
    side = similarity.ivfpq_write_index(base, idx, dim=64, m=4,
                                        ksub=16, n_cells=4)
    cents, books = side["centroids"], side["books"]

    def run():
        stream = spark.readStream.schema(emb.schema).parquet(src)
        q = start_ingest_stream(
            stream, index_path=idx, out_path=out, checkpoint_path=ckpt,
            k=5, nprobe=2, available_now=True)
        q.awaitTermination(120)

    b1.write.mode("append").parquet(src)
    run()
    b2.write.mode("append").parquet(src)
    run()

    hits = spark.read.parquet(out)

    def want(prior, probe_batch):
        return sorted(map(tuple, _ivfpq_probe(
            _ivfpq_enc(prior, cents, books), _q(probe_batch),
            cents, books, 5, nprobe=2, refine=None, vecs=None).collect()))

    got0 = sorted(map(tuple, hits.filter(F.col("_batch_id") == 0)
                      .drop("_batch_id").collect()))
    got1 = sorted(map(tuple, hits.filter(F.col("_batch_id") == 1)
                      .drop("_batch_id").collect()))
    assert got0 == want(base, b1)
    assert got1 == want(base.unionByName(b1), b2)
    assert not any(r[0] == r[1] for r in got0 + got1)  # no self-match

    # end-state: a persisted-index probe over base ∪ both stream
    # batches equals the reference probe of the full corpus under the
    # same frozen centroids+codebooks
    probe = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"))
    got_all = sorted(map(tuple, similarity.search_index(
        spark, idx, probe, k=5, nprobe=2).collect()))
    want_all = sorted(map(tuple, _ivfpq_probe(
        _ivfpq_enc(emb, cents, books), _q(probe.selectExpr(
            "query_id AS vec_id", "query_vec AS embedding")),
        cents, books, 5, nprobe=2, refine=None, vecs=None).collect()))
    assert got_all == want_all

    # replay idempotency: re-run batch 0's body twice — hit rows and
    # stream code counts unchanged
    for _ in range(2):
        ingest_batch(b1, 0, index_path=idx, out_path=out, k=5,
                     nprobe=2)
    hits2 = spark.read.parquet(out)
    assert sorted(map(tuple, hits2.filter(F.col("_batch_id") == 0)
                      .drop("_batch_id").collect())) == got0
    assert spark.read.parquet(f"{idx}/stream").count() == \
        b1.count() + b2.count()
