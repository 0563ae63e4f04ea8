"""The persisted vector-index lifecycle, once for every codec.

``similarity.<family>_write_index`` / ``append_index`` /
``search_index`` and ``streaming.ann.ingest_batch`` share one sidecar
(``{path}/_index.json``, naming its codec) and one code table under
``{path}/base``. These tests parametrize the lifecycle contracts over
all five codecs — ivf, pq, ivfpq, bq and sq8:

1. the write returns the sidecar it wrote;
2. an append leaves every prior ``base/`` file byte-untouched;
3. an append encodes its batch ONCE (an accumulator in a mapInPandas
   stage upstream of the encode counts the rows that flow through);
4. ``search_index`` fails loudly on an argument the codec cannot use —
   ``refine=`` without ``vectors=``, ``nprobe=`` on a codec without
   cells, ``refine=`` on ivf (its scan is already exact cosine);
5. one ingest batch probes exactly the index as it stood before it and
   appends codes a later search reads.
"""

from __future__ import annotations

import glob
import json
import os

import pytest
from pyspark.sql import functions as F

from incubator_pulsar_spark.functions import similarity

CODECS = ["ivf", "pq", "ivfpq", "bq", "sq8"]


def _write(codec, emb, path):
    if codec == "ivf":
        return similarity.ivf_write_index(emb, path, n_cells=4)
    if codec == "pq":
        return similarity.pq_write_index(emb, path, dim=64, m=4, ksub=16)
    if codec == "ivfpq":
        return similarity.ivfpq_write_index(emb, path, dim=64, m=4,
                                            ksub=16, n_cells=4)
    if codec == "bq":
        return similarity.bq_write_index(emb, path, dim=64)
    return similarity.sq8_write_index(emb, path, dim=64)


def _emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet") \
        .select("vec_id", "embedding")


def _queries(emb):
    return emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"))


def _mtimes(path):
    return {p: os.path.getmtime(p)
            for p in glob.glob(f"{path}/base/**/*.parquet", recursive=True)}


@pytest.mark.parametrize("codec", CODECS)
def test_append_leaves_prior_files_untouched(spark, sf_dir, tmp_path,
                                             codec):
    emb = _emb(spark, sf_dir)
    idx = str(tmp_path / codec)
    side = _write(codec, emb.filter(F.col("vec_id") % 2 == 0), idx)
    assert side["codec"] == codec
    assert side == json.load(open(f"{idx}/_index.json"))

    before = _mtimes(idx)
    assert before
    similarity.append_index(emb.filter(F.col("vec_id") % 2 == 1), idx)
    after = _mtimes(idx)
    assert all(after[p] == t for p, t in before.items())
    assert len(after) > len(before)
    assert json.load(open(f"{idx}/_index.json")) == side


@pytest.mark.parametrize("codec", CODECS)
def test_append_encodes_once(spark, sf_dir, tmp_path, codec):
    """If the append pipeline ran twice (a count and then a write over
    an unpersisted frame), the accumulator would read 2n."""
    emb = _emb(spark, sf_dir)
    idx = str(tmp_path / codec)
    _write(codec, emb.filter(F.col("vec_id") % 5 != 0), idx)
    new = emb.filter(F.col("vec_id") % 5 == 0)
    acc = spark.sparkContext.accumulator(0)

    def count_rows(batches):
        for pdf in batches:
            acc.add(len(pdf))
            yield pdf

    n = similarity.append_index(new.mapInPandas(count_rows, new.schema),
                                idx)
    assert n == new.count()
    assert acc.value == n


_REJECTIONS = [
    pytest.param(c, {"refine": 20}, "needs vectors=",
                 id=f"refine_without_vectors-{c}")
    for c in ("pq", "ivfpq", "bq", "sq8")
] + [
    pytest.param(c, {"nprobe": 2}, "has no cells", id=f"nprobe-{c}")
    for c in ("pq", "bq", "sq8")
] + [
    pytest.param("ivf", {"refine": 20, "vectors": True}, "exact cosine",
                 id="refine-ivf"),
]


@pytest.fixture(scope="module")
def built(spark, sf_dir, tmp_path_factory):
    """One read-only index per codec, built on first use."""
    root = tmp_path_factory.mktemp("indexes")
    cache = {}

    def get(codec):
        if codec not in cache:
            cache[codec] = str(root / codec)
            _write(codec, _emb(spark, sf_dir), cache[codec])
        return cache[codec]
    return get


@pytest.mark.parametrize("codec,kwargs,match", _REJECTIONS)
def test_search_rejects_unusable_arguments(spark, sf_dir, built, codec,
                                           kwargs, match):
    emb = _emb(spark, sf_dir)
    if kwargs.get("vectors"):
        kwargs = {**kwargs, "vectors": emb}
    with pytest.raises(ValueError, match=match):
        similarity.search_index(spark, built(codec), _queries(emb), k=5,
                                **kwargs)


@pytest.mark.parametrize("codec", ["ivf", "bq", "sq8"])
def test_ingest_batch_probes_prior_state_and_appends(spark, sf_dir,
                                                     tmp_path, codec):
    """The ingest stream's batch body for the codecs whose streams are
    not gated (pq and ivfpq are, by the fold and rerank gates): batch
    0's hits equal a search of the index before the batch, and a
    search after it equals one over a twin index that appended the
    batch instead."""
    from incubator_pulsar_spark.streaming.ann import ingest_batch

    emb = _emb(spark, sf_dir)
    base = emb.filter(F.col("vec_id") % 2 == 0)
    batch = emb.filter(F.col("vec_id") % 2 == 1)
    idx, twin = str(tmp_path / "idx"), str(tmp_path / "twin")
    out = str(tmp_path / "out")
    _write(codec, base, idx)
    _write(codec, base, twin)

    as_queries = batch.select(F.col("vec_id").alias("query_id"),
                              F.col("embedding").alias("query_vec"))
    want0 = sorted(map(tuple, similarity.search_index(
        spark, twin, as_queries, k=5).collect()))
    ingest_batch(batch, 0, index_path=idx, out_path=out, k=5)
    got0 = sorted(map(tuple, spark.read.parquet(
        f"{out}/_batch_id=0").collect()))
    assert got0 == want0

    similarity.append_index(batch, twin)
    q = _queries(emb)
    got = sorted(map(tuple, similarity.search_index(
        spark, idx, q, k=5).collect()))
    want = sorted(map(tuple, similarity.search_index(
        spark, twin, q, k=5).collect()))
    assert got == want
