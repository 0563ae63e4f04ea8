"""Embedding similarity search over array<float> columns.

- ``cosine_topk``: exact brute-force top-k — the correctness baseline.
  Dot products are sequential folds over double arrays (deterministic,
  oracle-reproducible); broadcast the query side.
- ``lsh_bucket_topk``: random-hyperplane LSH bucketing — the scale path.
  Deterministic planes derived from md5 so runs are reproducible.
- ``ivf_topk``: IVF-style coarse quantization (k-means-lite with
  deterministic seed centroids): probe the nearest ``nprobe`` cells only.

Scale: brute force is O(N·Q·d) but embarrassingly parallel — fine for
Q small (broadcast queries, map-side only, no shuffle). LSH/IVF cut the
scanned fraction ~bucket-count-fold for large Q; both keep the big side
shuffle-free (bucket id is a map-side column; only the tiny query side
explodes to probes).

Persisted indexes (the end of this module): five codecs — ivf, pq,
ivfpq, bq and sq8 — share one lifecycle. ``<family>_write_index``
trains the codec's state and ends in one shared write: the code table
under ``{path}/base`` (partitioned by cell for ivf and ivfpq) and one
``{path}/_index.json`` sidecar that names the codec and holds its
state. ``append_index`` and ``search_index`` read the codec from the
sidecar. Indexes written before this layout (``_centroids.json``,
``_codebooks.json`` + ``_rotation.json``, ``_ivfpq.json``,
``_bq_meta.json``, ``_sq8_meta.json`` sidecars; ivf codes at the index
root) do not open: rebuild them from their corpus.
"""

from __future__ import annotations

import json
import os
from typing import Callable, NamedTuple

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..session import ensure_parallelism
from . import pq_arrow


def as_double_array(v: Column) -> Column:
    return F.transform(v, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product — deterministic order (index order)."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, x: acc + x)


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    na, nb = l2_norm(a), l2_norm(b)
    return F.when((na > 0) & (nb > 0), dot(a, b) / (na * nb)).otherwise(F.lit(0.0))


def cosine_topk(
    embeddings: DataFrame, queries: DataFrame, k: int = 10, *,
    id_col: str = "vec_id", vec_col: str = "embedding",
    query_id_col: str = "query_id", query_vec_col: str = "query_vec",
) -> DataFrame:
    """Exact top-k by cosine for each query vector.

    Broadcast the query side (small), map-side compute, then a top-k per
    query via window rank — the shuffle carries only (query, candidate,
    sim) rows, never the vectors. Deterministic tiebreak: (−sim, id).
    """
    e = ensure_parallelism(embeddings).select(
        F.col(id_col).alias("vec_id"), as_double_array(F.col(vec_col)).alias("vec"))
    q = queries.select(F.col(query_id_col).alias("query_id"),
                       as_double_array(F.col(query_vec_col)).alias("qvec"))
    scored = e.crossJoin(F.broadcast(q)).select(
        "query_id", "vec_id",
        F.round(cosine(F.col("vec"), F.col("qvec")), 6).alias("cosine_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine_sim").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "cosine_sim", "rank")
    )


def _hyperplanes(dim: int, n_planes: int, seed: str = "plane") -> list[list[float]]:
    """Deterministic pseudo-random unit-free hyperplanes from md5 bytes.

    Public trick: digest bytes → centered floats. No numpy RNG so the
    same planes regenerate anywhere (driver, executors, tests).
    """
    import hashlib

    planes = []
    for p in range(n_planes):
        vals: list[float] = []
        ctr = 0
        while len(vals) < dim:
            h = hashlib.md5(f"{seed}:{p}:{ctr}".encode()).digest()
            vals.extend(b - 127.5 for b in h)
            ctr += 1
        planes.append([v / 128.0 for v in vals[:dim]])
    return planes


def lsh_bucket_id(vec: Column, planes: list[list[float]]) -> Column:
    """Sign-of-projection bucket id (random hyperplane LSH, Charikar).

    Literal-plane form — measured FASTER than the data-column
    alternative at the plane counts this library uses (4-8 planes ≈
    256-512 literals: JIT constant-folds the dots, compile cost is
    negligible). ``with_lsh_bucket`` (data-column planes) is the form
    for LARGE plane sets, where literal codegen would dominate the way
    the 1024-entry centroid table did (see ``_attach_centroids``);
    pytest asserts the two agree bit-for-bit."""
    bucket = F.lit(0)
    for i, plane in enumerate(planes):
        proj = dot(vec, F.array(*[F.lit(v) for v in plane]))
        bucket = bucket + F.when(proj >= 0, F.lit(2 ** i)).otherwise(F.lit(0))
    return bucket.cast("int")


def with_lsh_bucket(df: DataFrame, vec_col: str, planes: list[list[float]],
                    out_col: str = "bucket") -> DataFrame:
    """Add the hyperplane-LSH bucket column with the planes shipped as
    broadcast DATA — the form for LARGE plane sets, where inlining
    ``n_planes × dim`` literals would pay codegen compilation the way
    the centroid table did (bloom.py / _attach_centroids lesson). At
    the 4-8 planes the gated queries use, the literal form measured
    slightly faster and is kept there. Values are identical to
    ``lsh_bucket_id``: same sequential fold per projection, same sign
    rule, same bit weights."""
    spark = df.sparkSession
    bdf = spark.createDataFrame([(planes,)], "_planes ARRAY<ARRAY<DOUBLE>>")
    weights = F.array(*[F.lit(2 ** i) for i in range(len(planes))])
    signs = F.transform(
        F.col("_planes"),
        lambda p: F.when(dot(F.col(vec_col), p) >= 0, 1).otherwise(0))
    bucket = F.aggregate(
        F.zip_with(signs, weights, lambda s, w: s * w),
        F.lit(0), lambda acc, x: acc + x).cast("int")
    return (df.crossJoin(F.broadcast(bdf))
            .withColumn(out_col, bucket).drop("_planes"))


def lsh_bucket_topk(
    embeddings: DataFrame, queries: DataFrame, k: int = 10, *, dim: int,
    n_planes: int = 6, hamming_probes: int = 0,
    id_col: str = "vec_id", vec_col: str = "embedding",
    query_id_col: str = "query_id", query_vec_col: str = "query_vec",
) -> DataFrame:
    """Approximate top-k: compare only candidates in the query's bucket.

    Embedding side gets a map-side bucket column (no shuffle of vectors);
    join on bucket; exact rank within. Recall < 1 by construction.
    ``hamming_probes=1`` is the standard multi-probe recall lever: each
    query ALSO probes the n_planes buckets one hyperplane-flip away
    (the most likely homes of near neighbors that straddle a plane),
    raising candidate volume ×(1+n_planes) on the tiny QUERY side only
    — the corpus never re-buckets, so the scale posture is unchanged.
    Deterministic (md5 planes + XOR probes), so the oracle replays it.
    """
    if hamming_probes not in (0, 1):
        raise ValueError("hamming_probes must be 0 or 1")
    planes = _hyperplanes(dim, n_planes)
    e = ensure_parallelism(embeddings).select(
        F.col(id_col).alias("vec_id"), as_double_array(F.col(vec_col)).alias("vec"))
    e = e.withColumn("bucket", lsh_bucket_id(F.col("vec"), planes))
    q = queries.select(F.col(query_id_col).alias("query_id"),
                       as_double_array(F.col(query_vec_col)).alias("qvec"))
    q = q.withColumn("bucket", lsh_bucket_id(F.col("qvec"), planes))
    if hamming_probes == 1:
        flips = F.array(F.lit(0), *[F.lit(2 ** i) for i in range(n_planes)])
        q = (q.withColumn("bucket",
                          F.explode(F.transform(
                              flips, lambda m: F.col("bucket").bitwiseXOR(m))))
             .withColumn("bucket", F.col("bucket").cast("int")))

    scored = e.join(F.broadcast(q), on="bucket").select(
        "query_id", "vec_id",
        F.round(cosine(F.col("vec"), F.col("qvec")), 6).alias("cosine_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine_sim").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "cosine_sim", "rank")
    )


def _seed_centroids_with_pool(embeddings: DataFrame, *, n_cells: int,
                              id_col: str, vec_col: str):
    """``_seed_centroids`` plus the unit-normalized seed pool it drew
    from — callers that need driver-side geometry estimates (e.g.
    ``knn_graph``'s prune='auto' decision) get them for free instead
    of a second corpus pass."""
    sample = (
        embeddings.select(F.col(id_col).alias("i"),
                          as_double_array(F.col(vec_col)).alias("v"))
        .orderBy("i").limit(10_000)  # bounded, deterministic seed pool
        .collect()
    )
    pool = np.array([r["v"] for r in sample])
    norms = np.linalg.norm(pool, axis=1)
    norms[norms == 0] = 1.0
    unit = pool / norms[:, None]
    chosen = [0]  # start from the lowest-id vector (deterministic)
    sims_to_chosen = np.round(unit @ unit[0], 9)
    for _ in range(1, min(n_cells, len(pool))):
        nxt = int(np.argmin(sims_to_chosen))  # farthest from chosen set
        chosen.append(nxt)
        sims_to_chosen = np.maximum(sims_to_chosen, np.round(unit @ unit[nxt], 9))
    return [pool[j].tolist() for j in chosen], unit


def _seed_centroids(embeddings: DataFrame, *, n_cells: int,
                    id_col: str, vec_col: str) -> list[list[float]]:
    """Deterministic greedy farthest-point centroid seeding over a
    bounded pool (k-means++ analogue without RNG or training
    iterations). Collecting the pool is a metadata-scale driver op.

    Every cosine is rounded to 9 decimals BEFORE any argmin/argmax
    comparison: BLAS pairwise summation and a SQL engine's sequential
    fold differ in the last ulp, and rounding makes the selection
    sequence exactly replayable in DuckDB (the ANN oracle unrolls this
    loop as SQL CTEs — see plans/queries.py ANN_IVF_SQL)."""
    cents, _ = _seed_centroids_with_pool(embeddings, n_cells=n_cells,
                                         id_col=id_col, vec_col=vec_col)
    return cents


def _attach_centroids(df: DataFrame, cents: list[list[float]]) -> DataFrame:
    """Ship the centroid table as a broadcast ARRAY<ARRAY<DOUBLE>> DATA
    column (``_cents``). The former literal form — 16 centroids × 64
    dims inlined as ~1k literal expressions — cost seconds of
    whole-stage-codegen compilation PER QUERY (the same measured
    pathology as the literal Bloom bitmap, functions/bloom.py); a data
    column compiles in milliseconds and computes identical values
    (same sequential folds, same round-9 snapping)."""
    spark = df.sparkSession
    bdf = spark.createDataFrame([(cents,)], "_cents ARRAY<ARRAY<DOUBLE>>")
    return df.crossJoin(F.broadcast(bdf))


def _cell_scores(vec: Column) -> Column:
    """Round-9 cosine against every centroid in the ``_cents`` column."""
    return F.transform(F.col("_cents"),
                       lambda c: F.round(cosine(vec, c), 9))


def _nearest_cell(vec: Column) -> Column:
    """argmax via array_position(scores, array_max(scores)) — deterministic."""
    s = _cell_scores(vec)
    return (F.array_position(s, F.array_max(s)) - 1).cast("int")


def _resolve_n_cells(embeddings: DataFrame, n_cells: int | None) -> int:
    """``n_cells=None`` → ``auto_n_cells`` over the corpus count. The
    count is one deliberate extra pass (the ``cosine_neardup_pairs``
    auto-sizing precedent); pass an explicit n_cells to skip it when
    the corpus size is already known."""
    if n_cells is not None:
        return n_cells
    return auto_n_cells(embeddings.count())


def ivf_topk(
    embeddings: DataFrame, queries: DataFrame, k: int = 10, *, dim: int,
    n_cells: int | None = None, nprobe: int = 4, id_col: str = "vec_id",
    vec_col: str = "embedding", query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """IVF-flat style ANN: assign vectors to coarse cells, probe the
    ``nprobe`` nearest cells per query.

    Measured recall@10 on the synthetic near-uniform test embeddings:
    0.63 at nprobe=3/8 cells (random baseline 0.375; uniform data has no
    cluster structure for ANY cell-probing index to exploit — on
    clustered real corpora the data-adaptive cells is where the win
    comes from). The inverted-file assignment is a map-side argmin over
    n_cells dots; only the query side explodes ×nprobe. At scale, cell
    id becomes a partition column so probes prune files — that layout is
    ``ivf_write_index``/``search_index`` below.

    ``n_cells`` defaults to ``auto_n_cells`` (cells ∝ corpus size).
    """
    n_cells = _resolve_n_cells(embeddings, n_cells)
    cents = _seed_centroids(embeddings, n_cells=n_cells,
                            id_col=id_col, vec_col=vec_col)
    e = _ivf_encode(ensure_parallelism(embeddings), {"centroids": cents},
                    id_col, vec_col)
    q = queries.select(F.col(query_id_col).alias("query_id"),
                       as_double_array(F.col(query_vec_col)).alias("qv"))
    return _ivf_scan(e, _ivf_probe_cells(q, cents, nprobe), k)


def _ivf_encode(df: DataFrame, side: dict, id_col: str,
                vec_col: str) -> DataFrame:
    """(vec_id, vec, cell): each vector in its round-9 nearest cell."""
    e = df.select(F.col(id_col).alias("vec_id"),
                  as_double_array(F.col(vec_col)).alias("vec"))
    return (_attach_centroids(e, side["centroids"])
            .withColumn("cell", _nearest_cell(F.col("vec"))).drop("_cents"))


def _ivf_probe_cells(q: DataFrame, cents: list[list[float]],
                     nprobe: int) -> DataFrame:
    """Explode each (query_id, qv) row to its ``nprobe`` nearest cells:
    sort (score, idx) pairs descending, so equal scores pick the higher
    cell index."""
    q = (_attach_centroids(q, cents)
         .withColumn("_scores", _cell_scores(F.col("qv"))).drop("_cents"))
    idx = F.sequence(F.lit(0), F.lit(len(cents) - 1))
    pairs = F.zip_with(q["_scores"], idx,
                       lambda s, i: F.struct(s.alias("s"), i.alias("i")))
    probes = F.slice(F.reverse(F.array_sort(pairs)), 1, nprobe)
    return (q.withColumn("cell",
                         F.explode(F.transform(probes, lambda p: p["i"])))
            .withColumn("cell", F.col("cell").cast("int")).drop("_scores"))


def _ivf_scan(e: DataFrame, q: DataFrame, k: int) -> DataFrame:
    """Exact cosine top-k of the probed cells: (vec_id, vec, cell) joined
    to the broadcast (query_id, qv, cell) probes, ties to the lowest id."""
    scored = e.join(F.broadcast(q), on="cell").select(
        "query_id", "vec_id",
        F.round(cosine(F.col("vec"), F.col("qv")), 6).alias("cosine_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine_sim").desc(),
                                               F.col("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "cosine_sim", "rank")
    )


def _ivf_rank(enc: DataFrame, q: DataFrame, side: dict, k: int, *,
              nprobe: int, refine: int | None,
              vecs: DataFrame | None) -> DataFrame:
    """Search half of the ivf codec: pick each query's nprobe cells,
    read ONLY those cell partitions (a literal ``cell IN (...)`` on the
    partition column prunes directories before the scan; queries are
    small by contract) and rank exact cosine within them."""
    q = _ivf_probe_cells(q, side["centroids"], nprobe)
    probe_cells = sorted({r["cell"] for r in
                          q.select("cell").distinct().collect()})
    return _ivf_scan(enc.filter(F.col("cell").isin(probe_cells)), q, k)


def ivf_write_index(
    embeddings: DataFrame, path: str, *, n_cells: int | None = None,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> dict:
    """Persist an IVF index: vectors partitioned BY CELL under
    ``{path}/base``, the centroids in the sidecar.

    This is the 100 TB form of the inverted file: ``cell`` is a
    partition directory, so a probe reads only nprobe/n_cells of the
    corpus — partition pruning IS the index lookup (``search_index``
    asserts PartitionFilters in its plan test). Build cost: one pass to
    assign cells (map-side argmin over n_cells dots) + one
    shuffle-free partitioned write. ``n_cells`` defaults to
    ``auto_n_cells`` (cells ∝ corpus size). Centroids are never
    re-seeded by ``append_index`` — the index keeps one consistent cell
    geometry so existing partitions stay valid (rebuild to
    re-cluster).
    """
    n_cells = _resolve_n_cells(embeddings, n_cells)
    cents = _seed_centroids(embeddings, n_cells=n_cells,
                            id_col=id_col, vec_col=vec_col)
    return _write_index(embeddings, path, {"codec": "ivf",
                                           "centroids": cents},
                        id_col=id_col, vec_col=vec_col)


def auto_n_cells(n_rows: int, *, target_cell: int = 4096,
                 lo: int = 8, hi: int = 4096) -> int:
    """Cell count that holds expected IVF cell occupancy near
    ``target_cell`` rows — the companion of ``auto_block_planes`` for
    the cell-partitioned family (``semantic_dedup``, ``knn_graph``,
    ``ivf_topk``, ``ivf_write_index``): within-cell pair work is
    ~N²/n_cells and parallelism is capped at n_cells, so a FIXED cell
    count both quadratically blows up per-cell work and serializes the
    sort as the corpus grows (measured: 3.3s→27.4s at 4× vectors with
    n_cells pinned — SCALING.md). Cells ∝ N holds per-cell work flat.

    ``hi`` defaults to 4096 because centroid seeding draws from a
    bounded 10k-vector driver pool (``_seed_centroids``); beyond
    hi·target_cell ≈ 16M vectors, raise the pool bound along with
    ``hi`` (the farthest-point loop is O(pool·n_cells·dim))."""
    import math

    return min(hi, max(lo, math.ceil(max(n_rows, 1) / target_cell)))


def auto_block_planes(n_rows: int, *, target_bucket: int = 4096,
                      lo: int = 4, hi: int = 24) -> int:
    """Plane count that holds expected LSH bucket occupancy near
    ``target_bucket`` rows: per-bucket pair work is ~N²/2^planes, so
    planes must grow with log2(N) or blocked near-dup goes quadratic
    (the ×5.7-at-10× finding in SCALING.md)."""
    import math

    return min(hi, max(lo, math.ceil(math.log2(max(n_rows, 1) / target_bucket))))


def _pair_dot_udf():
    """Arrow-batched pair dot product; marked nondeterministic so
    Catalyst evaluates it ONCE instead of duplicating it into pushed-down
    filter branches (measured 3× penalty when deterministic)."""

    @F.pandas_udf("double")
    def pd_dot(va: pd.Series, vb: pd.Series) -> pd.Series:
        return pd.Series((np.stack(va.to_numpy()) * np.stack(vb.to_numpy())).sum(axis=1))

    return pd_dot.asNondeterministic()


def _pair_cosine(va: str, na: str, vb: str, nb: str) -> Column:
    """Round-6 cosine of the fold form: the Arrow pair dot of vector
    columns ``va``/``vb`` over their precomputed norms ``na``/``nb``,
    0.0 when either norm is zero — the arithmetic the DuckDB oracle
    replays."""
    sim = F.when((F.col(na) > 0) & (F.col(nb) > 0),
                 _pair_dot_udf()(F.col(va), F.col(vb))
                 / (F.col(na) * F.col(nb))).otherwise(F.lit(0.0))
    return F.round(sim, 6)


def cosine_neardup_pairs(
    embeddings: DataFrame, threshold: float, *,
    id_col: str = "vec_id", vec_col: str = "embedding",
    block_planes: int | None = None, dim: int | None = None,
    strategy: str = "auto", gram_max_rows: int = 100_000,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (id_a < id_b, cosine ≥ threshold).

    Three physical strategies, one logical result:

    - ``block_planes=N`` — LSH-bucket blocking: only same-bucket pairs are
      compared (the 100 TB path; recall < 1 for pairs straddling a
      hyperplane — lower ``block_planes`` to raise recall).
    - ``strategy="gram"`` — broadcast the whole (ids, unit-vector matrix)
      to every task and matmul a partition's slice against it (the matrix
      analogue of a broadcast join). Fastest when the table fits in one
      executor's memory; numpy BLAS does the N² work.
    - ``strategy="join"`` — EXPLICIT-ONLY distributed pair join +
      Arrow-batched dot UDF: an O(N²) non-equi join (plans as a nested
      loop) that no automatic path ever selects — it exists for small
      corpora that need exact recall without a driver collect.
    - ``strategy="auto"`` — gram when count ≤ ``gram_max_rows``; above
      that the ONLY sane physical shape is the LSH-blocked equi-join,
      so auto routes there (dim inferred from the first vector).
      Approximate above the cutoff — recall < 1 for pairs straddling a
      hyperplane — because at that size exact all-pairs is the
      scale-killer, not an option. The plane count scales with the
      corpus: per-bucket pair work is ~N²/2^planes, so auto picks
      ``planes = clamp(ceil(log2(N / 4096)), 4, 24)`` to hold expected
      bucket occupancy near 4096 rows (measured: fixed 4 planes went
      ×5.7 on 10× vectors in SCALING.md; scaled planes hold the
      per-bucket load flat). Pin ``block_planes`` explicitly to trade
      compute back for recall.

    Sum order (BLAS/numpy vs sequential fold) differs only in the last
    ulp; outputs are rounded to 6 decimals, far above that noise.
    """
    e = ensure_parallelism(embeddings).select(
        F.col(id_col).alias("_id"), as_double_array(F.col(vec_col)).alias("_vec"))

    if strategy == "auto" and block_planes is None:
        n = e.count()
        if n <= gram_max_rows:
            strategy = "gram"
        else:
            block_planes = auto_block_planes(n)
            if dim is None:
                first = e.select(F.size("_vec").alias("d")).head()
                if first is None:
                    return e.sparkSession.createDataFrame(
                        [], "id_a long, id_b long, cosine_sim double")
                dim = first["d"]

    if block_planes is not None:
        if dim is None:
            raise ValueError("dim is required when block_planes is set")
        e = e.withColumn("_norm", l2_norm(F.col("_vec")))
        planes = _hyperplanes(dim, block_planes)
        a = e.select(F.col("_id").alias("id_a"), F.col("_vec").alias("_va"),
                     F.col("_norm").alias("_na"),
                     lsh_bucket_id(F.col("_vec"), planes).alias("_bkt"))
        b = e.select(F.col("_id").alias("id_b"), F.col("_vec").alias("_vb"),
                     F.col("_norm").alias("_nb"),
                     lsh_bucket_id(F.col("_vec"), planes).alias("_bkt"))
        joined = a.join(b, (a["_bkt"] == b["_bkt"]) & (F.col("id_a") < F.col("id_b")))
        return _neardup_from_pairs(joined, threshold)

    if strategy == "join":
        e = e.withColumn("_norm", l2_norm(F.col("_vec")))
        a = e.select(F.col("_id").alias("id_a"), F.col("_vec").alias("_va"),
                     F.col("_norm").alias("_na"))
        b = e.select(F.col("_id").alias("id_b"), F.col("_vec").alias("_vb"),
                     F.col("_norm").alias("_nb"))
        joined = a.join(b, F.col("id_a") < F.col("id_b"))
        return _neardup_from_pairs(joined, threshold)

    if strategy != "gram":
        raise ValueError(f"unknown strategy: {strategy!r}")

    import pandas as pd_mod

    rows = e.collect()
    ids = np.array([r["_id"] for r in rows], dtype=np.int64)
    mat = np.stack([np.asarray(r["_vec"], dtype=np.float64) for r in rows])
    order = np.argsort(ids)
    ids, mat = ids[order], mat[order]
    norms = np.linalg.norm(mat, axis=1)
    safe = norms.copy()
    safe[safe == 0] = 1.0
    unit = mat / safe[:, None]
    spark = embeddings.sparkSession
    bc = spark.sparkContext.broadcast((ids, unit, norms))
    # guard slightly below threshold inside the UDF, exact filter on the
    # HALF_UP-rounded column JVM-side (matches the oracle's round())
    guard = threshold - 1e-7

    def f(it):
        b_ids, b_unit, b_norms = bc.value
        pos = np.arange(len(b_ids))
        for pdf in it:
            idx = pdf["i"].to_numpy()
            sims = b_unit[idx] @ b_unit.T
            out_a, out_b, out_s = [], [], []
            for r, i in enumerate(idx):
                if b_norms[i] == 0:
                    continue
                mask = (pos > i) & (b_norms > 0) & (sims[r] >= guard)
                out_a.append(np.full(int(mask.sum()), b_ids[i]))
                out_b.append(b_ids[mask])
                out_s.append(sims[r][mask])
            if out_a:
                yield pd_mod.DataFrame({
                    "id_a": np.concatenate(out_a),
                    "id_b": np.concatenate(out_b),
                    "sim_raw": np.concatenate(out_s),
                })

    src = spark.range(len(ids)).select(F.col("id").cast("int").alias("i"))
    src = src.repartition(max(spark.sparkContext.defaultParallelism, 2))
    out = src.mapInPandas(f, "id_a long, id_b long, sim_raw double")
    return (
        out.select("id_a", "id_b", F.round("sim_raw", 6).alias("cosine_sim"))
        .filter(F.col("cosine_sim") >= F.lit(threshold))
        .orderBy("id_a", "id_b")
    )


def _neardup_from_pairs(joined: DataFrame, threshold: float) -> DataFrame:
    return (
        joined.select("id_a", "id_b", _pair_cosine(
            "_va", "_na", "_vb", "_nb").alias("cosine_sim"))
        .filter(F.col("cosine_sim") >= F.lit(threshold))
        .orderBy("id_a", "id_b")
    )


_KNN_MARGIN = 1e-5


def _knn_score(side: DataFrame, members: DataFrame, k: int) -> DataFrame:
    """Per-(src, cell) top-k of ``knn_graph``, scored in two stages
    inside one probers×members cogroup per cell (filter and refine).

    Stage one: a BLAS matmul gives every prober's approximate cosine
    to every member of the cell. Stage two: only the members within
    ``_KNN_MARGIN`` of the prober's k-th approximate cosine are
    rescored with the fold's own arithmetic (``_knn_score_fold``): the
    per-row numpy pair-dot tree, the product-then-divide denominator,
    the zero-norm rule and Spark's HALF_UP round-6 (``round_spark``).
    BLAS and pairwise sums differ by ~1e-14, far below the margin, so
    any member outside it is beaten by k members by at least one
    round-6 step: the rows are the fold's to the last bit.

    Vectors ship into the shuffle once per probe instead of once per
    candidate pair, and only k rows per (src, cell) come out. Cutting
    at k per cell is safe because the global window in ``knn_graph``
    ranks by the same (sim DESC, dst_id) key."""
    idt = members.schema["dst_id"].dataType
    out_schema = T.StructType([
        T.StructField("src_id", idt), T.StructField("dst_id", idt),
        T.StructField("cosine_sim", T.DoubleType())])

    def fn(left, right):
        if not len(left) or not len(right):
            return pd.DataFrame({"src_id": [], "dst_id": [],
                                 "cosine_sim": []})
        P = np.array(left["_vs"].to_list(), dtype="float64")
        M = np.array(right["_vd"].to_list(), dtype="float64")
        ns = left["_ns"].to_numpy(dtype="float64")
        nd = right["_nd"].to_numpy(dtype="float64")
        src, dst = left["src_id"].to_numpy(), right["dst_id"].to_numpy()
        # one integer code per id: the self-pair test and the dst_id
        # tiebreak run on ints whatever the id type
        code = np.unique(np.concatenate([src, dst]),
                         return_inverse=True)[1].reshape(-1)
        src_c, dst_c = code[:len(src)], code[len(src):]
        n_m = len(dst)
        kk = min(k, n_m)
        step = max(1, (1 << 22) // n_m)  # bounds the matrix per block
        ii_all, jj_all, sim_all = [], [], []
        for lo in range(0, len(src), step):
            hi = min(lo + step, len(src))
            with np.errstate(divide="ignore", invalid="ignore"):
                A = (P[lo:hi] @ M.T) / np.outer(ns[lo:hi], nd)
            A[(ns[lo:hi] <= 0)[:, None] | (nd <= 0)[None, :]] = 0.0
            self_ = src_c[lo:hi, None] == dst_c[None, :]
            A[self_] = -np.inf
            kth = np.partition(A, n_m - kk, axis=1)[:, n_m - kk]
            ii, jj = np.nonzero((A >= (kth - _KNN_MARGIN)[:, None])
                                & ~self_)
            ii += lo
            ok = (ns[ii] > 0) & (nd[jj] > 0)
            dots = (M[jj] * P[ii]).sum(axis=1)
            sims = np.where(ok, pq_arrow.round_spark(
                dots / np.where(ok, ns[ii] * nd[jj], 1.0), 6), 0.0)
            # per-prober (sim DESC, dst_id ASC) order, cut at k
            order = np.lexsort((dst_c[jj], -sims, ii))
            g = ii[order]  # sorted, so searchsorted finds group starts
            pick = order[np.arange(len(g)) - np.searchsorted(g, g) < k]
            ii_all.append(ii[pick])
            jj_all.append(jj[pick])
            sim_all.append(sims[pick])
        # ONE frame per cogroup (the GEMM-twin emit-batching lesson)
        return pd.DataFrame({"src_id": src[np.concatenate(ii_all)],
                             "dst_id": dst[np.concatenate(jj_all)],
                             "cosine_sim": np.concatenate(sim_all)})

    return (side.select("cell", "src_id", "_vs", "_ns")
            .groupBy("cell")
            .cogroup(members.groupBy("cell"))
            .applyInPandas(fn, out_schema))


def _knn_score_fold(side: DataFrame, members: DataFrame,
                    k: int) -> DataFrame:
    """Reference form of ``_knn_score``: the cell equi-join scores
    every (prober, member) pair with the Arrow pair-dot UDF, the
    arithmetic the DuckDB oracle replays. It emits every candidate
    pair (``k`` is unused; the window in ``knn_graph`` cuts). Parity
    tests swap it in for ``_knn_score``."""
    return (side.join(members, "cell")
            .filter(F.col("src_id") != F.col("dst_id"))
            .select("src_id", "dst_id", _pair_cosine(
                "_vs", "_ns", "_vd", "_nd").alias("cosine_sim")))


def knn_graph(
    embeddings: DataFrame, k: int = 5, *, n_cells: int | None = None,
    nprobe: int = 2, id_col: str = "vec_id", vec_col: str = "embedding",
    prune: bool | str = "auto",
) -> DataFrame:
    """Approximate k-NN GRAPH over the whole corpus — every vector's
    top-k neighbors (the build step of SemDeDup-style clustering,
    kNN-graph community detection, and graph-based ANN indexes).

    Same deterministic IVF machinery as ``ivf_topk``, but corpus-vs-
    corpus: ``ivf_topk`` broadcasts its QUERY side, which is only sane
    when queries ≪ corpus. Here the "query" side IS the corpus, so
    both sides key on cell and meet in a hash SHUFFLE join — the plan
    that scales when neither side is small. Each vector probes its
    ``nprobe`` nearest cells (recall lever — the top probe is the
    vector's own cell, modulo exact round-9 score ties), candidates
    rank by (cosine desc, id) within each source vector.

    ``prune=True`` skips SECONDARY probe cells that provably cannot
    contribute: with θ the src→centroid angle (the probe score) and r
    the cell's angular radius (min member→centroid cosine), no member
    of the cell can exceed cos(θ−r) = cosθ·cos r + sinθ·sin r. When
    that bound (+1e-6 fp margin) is strictly below the src's k-th best
    cosine among its BEST-cell candidates, the whole src×cell join is
    dropped before any pair dot is computed. The prune is conservative
    — bound < kth means ≥ k better candidates already exist — so the
    OUTPUT IS BIT-IDENTICAL to ``prune=False``; it pays one extra
    per-src aggregation over best-cell candidates and buys up to
    (nprobe−1)/nprobe of the candidate volume on clustered corpora
    (measured 1.7× on an 8-cluster fixture; on near-uniform
    embeddings radii approach 90°, the bound never fires, and the
    bookkeeping is pure overhead — measured +35%).

    ``prune="auto"`` (default) decides from the seed pool already on
    the driver — zero extra passes: pool vectors are assigned to cells
    with the same round-9 first-max rule, and pruning engages only
    when at least half the cells have an estimated radius tighter than
    60° (pool cos_r ≥ 0.5 — bounds can only fire on tight cells). The
    pool RADIUS ESTIMATE is used solely for this go/no-go choice; when
    engaged, the bound itself is recomputed EXACTLY over the full
    corpus, so exactness never depends on the pool.

    Scale: candidate volume is Σ_cells |cell|·|probers(cell)| ≈
    N²·nprobe/n_cells — n_cells ∝ N (cells of a few thousand) holds
    per-cell work flat, exactly the ``semantic_dedup`` contract;
    ``n_cells`` defaults to ``auto_n_cells`` so that contract holds
    without the caller remembering it.

    Scoring is ``_knn_score``: vectors ship into the shuffle once per
    probe (one probers×members cogroup per cell), a BLAS matmul picks
    each prober's candidates, and only those are rescored with the
    fold's bit-exact arithmetic — the rows the DuckDB oracle replays.

    Output: (src_id, dst_id, cosine_sim, rank), k rows per src.
    """
    if prune not in (True, False, "auto"):
        raise ValueError(f"prune must be True, False or 'auto': {prune!r}")
    n_cells = _resolve_n_cells(embeddings, n_cells)
    cents, pool_unit = _seed_centroids_with_pool(
        embeddings, n_cells=n_cells, id_col=id_col, vec_col=vec_col)
    if prune == "auto":
        cmat = np.array(cents)
        cnorm = np.linalg.norm(cmat, axis=1)
        cnorm[cnorm == 0] = 1.0
        # pool→centroid round-9 cosines, first-max assignment — the
        # numpy mirror of _nearest_cell's array_position rule
        sims = np.round(pool_unit @ (cmat / cnorm[:, None]).T, 9)
        assign = np.argmax(sims, axis=1)
        own = sims[np.arange(len(assign)), assign]
        tight = [float(own[assign == c].min()) >= 0.5
                 for c in range(len(cents)) if (assign == c).any()]
        prune = sum(tight) * 2 >= len(tight)
    e = ensure_parallelism(embeddings).select(
        F.col(id_col).alias("vec_id"), as_double_array(F.col(vec_col)).alias("vec"))
    e = (_attach_centroids(e, cents)
         .withColumn("_scores", _cell_scores(F.col("vec"))).drop("_cents"))

    # norms precomputed ONCE per vector (the fold-cosine would redo
    # both norms per candidate pair — measured 2× on the sf0.1 table)
    e = e.withColumn("_norm", l2_norm(F.col("vec")))
    members = e.select(F.col("vec_id").alias("dst_id"),
                       F.col("vec").alias("_vd"),
                       F.col("_norm").alias("_nd"),
                       _argmax_cell(F.col("_scores")).alias("cell"))
    idx = F.sequence(F.lit(0), F.lit(n_cells - 1))
    pairs = F.zip_with(e["_scores"], idx,
                       lambda s, i: F.struct(s.alias("s"), i.alias("i")))
    probes = F.slice(F.reverse(F.array_sort(pairs)), 1, nprobe)
    probers = (e.select(F.col("vec_id").alias("src_id"),
                        F.col("vec").alias("_vs"),
                        F.col("_norm").alias("_ns"),
                        F.posexplode(probes).alias("_prank", "_pr"))
               .select("src_id", "_vs", "_ns", "_prank",
                       F.col("_pr.i").cast("int").alias("cell"),
                       F.col("_pr.s").alias("_ps")))

    if not prune:
        scored = _knn_score(probers.drop("_prank", "_ps"), members, k)
    else:
        # angular radius per cell: each member's score for its OWN cell
        # is its max score = element_at(_scores, cell+1); the min over
        # members is cos(r). NULL-safe: min ignores NULLs, and a NULL
        # radius (degenerate cell) simply never prunes.
        own_score = F.element_at(
            F.col("_scores"), _argmax_cell(F.col("_scores")) + 1)
        radius = (e.select(_argmax_cell(F.col("_scores")).alias("cell"),
                           own_score.alias("_os"))
                  .groupBy("cell")
                  .agg(F.least(F.lit(1.0), F.greatest(F.lit(-1.0),
                       F.min("_os"))).alias("_cosr")))

        primary = probers.filter(F.col("_prank") == 0).drop("_prank", "_ps")
        # cand_a feeds BOTH the kth aggregate and the final union — two
        # subtree occurrences Catalyst does not dedup (the exchanges
        # differ), so without truncation every primary pair dot runs
        # twice (measured 1.3× total). localCheckpoint materializes the
        # (id, id, double) candidate rows once — the fuzzy.py
        # connected-components precedent.
        cand_a = _knn_score(primary, members, k).localCheckpoint(eager=False)
        wk = Window.partitionBy("src_id").orderBy(
            F.col("cosine_sim").desc(), F.col("dst_id"))
        kth = (cand_a.withColumn("_rn", F.row_number().over(wk))
               .filter(F.col("_rn") == k)
               .select("src_id", F.col("cosine_sim").alias("_kth")))

        costh = F.least(F.lit(1.0), F.greatest(F.lit(-1.0), F.col("_ps")))
        sin_ = lambda c: F.sqrt(F.greatest(F.lit(0.0), 1.0 - c * c))  # noqa: E731
        bound = F.when(costh >= F.col("_cosr"), F.lit(1.0)).otherwise(
            costh * F.col("_cosr") + sin_(costh) * sin_(F.col("_cosr")))
        secondary = (probers.filter(F.col("_prank") > 0)
                     .join(F.broadcast(radius), "cell", "left")
                     .join(kth, "src_id", "left")
                     .filter(F.col("_kth").isNull() | F.col("_cosr").isNull()
                             | (bound + F.lit(1e-6) >= F.col("_kth")))
                     .drop("_prank", "_ps", "_cosr", "_kth"))
        scored = cand_a.unionByName(_knn_score(secondary, members, k))

    w = Window.partitionBy("src_id").orderBy(F.col("cosine_sim").desc(),
                                             F.col("dst_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("src_id", "dst_id", "cosine_sim", "rank")
    )


def _argmax_cell(scores: Column) -> Column:
    """argmax via array_position(scores, array_max(scores)) — the same
    deterministic first-max rule as ``_nearest_cell``, over an already
    computed score array."""
    return (F.array_position(scores, F.array_max(scores)) - 1).cast("int")


def semantic_dedup(
    embeddings: DataFrame, threshold: float, *, n_cells: int | None = None,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023, public):
    cluster the corpus coarsely, then prune near-identical vectors
    WITHIN each cluster only — the clustering is what makes pairwise
    comparison tractable (the paper's point: k clusters cut the pair
    space by ~k).

    Clusters are the deterministic farthest-point IVF cells this module
    already uses (round-9 cosine snapping ⇒ the whole assignment is
    replayable in SQL — same machinery as ANN_IVF_SQL). The prune rule
    is the order-independent variant: drop x iff some SAME-CELL vector
    with a smaller id has cosine ≥ threshold; ``dup_of`` is the
    smallest such id. Unlike sequential greedy (whose kept set depends
    on scan order and is inherently serial), this rule is pure
    relational algebra — one within-cell pair join — at the cost of
    occasionally dropping both ends of a chain (x dropped for y even
    though y was itself dropped). For dedup that is the conservative
    direction (never keeps a duplicate).

    Scale: within-cell pair work is ~N²/n_cells — n_cells MUST grow
    with the corpus (SemDeDup uses 50k clusters at 100M embeddings;
    size cells to a few thousand vectors). ``n_cells`` defaults to
    ``auto_n_cells`` so that contract holds with default args. The
    pair join is an equi-join on cell; vectors ship once into it; the
    verdict join back is keyed on id.

    Pair dots run through the Arrow pair-dot UDF, the values the
    DuckDB oracle replays. This pair join is the only kernel: it
    broadcasts its small side and stays JVM-parallel, and per-cell
    gram-matrix kernels measured slower at every local corpus size
    (SCALING.md keeps their numbers).

    Output: (vec_id, cell, is_kept ∈ {0,1}, dup_of — smallest
    triggering id, −1 when kept).
    """
    n_cells = _resolve_n_cells(embeddings, n_cells)
    cents = _seed_centroids(embeddings, n_cells=n_cells,
                            id_col=id_col, vec_col=vec_col)
    e = ensure_parallelism(embeddings).select(
        F.col(id_col).alias("vec_id"), as_double_array(F.col(vec_col)).alias("vec"))
    e = (_attach_centroids(e, cents)
         .withColumn("cell", _nearest_cell(F.col("vec"))).drop("_cents"))
    e = e.withColumn("_norm", l2_norm(F.col("vec")))

    a = e.select(F.col("vec_id").alias("id_a"), F.col("cell"),
                 F.col("vec").alias("_va"), F.col("_norm").alias("_na"))
    b = e.select(F.col("vec_id").alias("id_b"), F.col("cell"),
                 F.col("vec").alias("_vb"), F.col("_norm").alias("_nb"))
    pairs = a.join(b, "cell").filter(F.col("id_a") < F.col("id_b"))
    dups = (
        pairs.select("id_b", _pair_cosine("_va", "_na", "_vb", "_nb")
                     .alias("_c"), "id_a")
        .filter(F.col("_c") >= F.lit(threshold))
        .groupBy("id_b").agg(F.min("id_a").alias("_dup_of"))
    )
    return (
        e.join(dups, e["vec_id"] == dups["id_b"], "left")
        .select("vec_id", "cell",
                F.when(F.col("_dup_of").isNull(), 1).otherwise(0)
                 .cast("int").alias("is_kept"),
                F.coalesce(F.col("_dup_of"), F.lit(-1)).cast("long")
                 .alias("dup_of"))
    )


def label_centroid_stats(
    embeddings: DataFrame, *, label_col: str = "label",
    vec_col: str = "embedding", id_col: str = "vec_id",
) -> DataFrame:
    """Per-label centroid + cluster-tightness stats — the evaluation
    pass of a clustering/labeling pipeline (how coherent is each
    label's region of embedding space?).

    Cross-engine exactness at every float boundary:
    - per-dim means go through exact DECIMAL sums over exact counts,
      then round(·, 6) — the centroid both engines see is identical;
    - the centroid ARRAY is reassembled in dim order (sort_array over
      (dim, value) structs), so the fold-based dot/norm sums run in the
      same sequence everywhere;
    - per-vector cosines round to 6 before the per-label mean, which
      sums them as exact DECIMAL(18,6).

    Scale shape: one posexplode (map-side) + a (label, dim) agg whose
    result is |labels|·dim rows, a broadcast join of that tiny centroid
    table back to the vectors, and one final per-label agg. The vectors
    themselves shuffle ZERO times.

    Output: label, n_vecs, centroid_norm, avg_cos_to_centroid.
    """
    e = ensure_parallelism(embeddings).select(
        F.col(label_col).alias("label"), F.col(id_col).alias("_id"),
        as_double_array(F.col(vec_col)).alias("vec"))
    dims = e.select("label", F.posexplode("vec").alias("d", "x"))
    m = dims.groupBy("label", "d").agg(
        F.round(F.sum(F.col("x").cast("decimal(27,12)")).cast("double")
                / F.count(F.lit(1)), 6).alias("m"))
    cent = m.groupBy("label").agg(
        F.transform(F.sort_array(F.collect_list(F.struct("d", "m"))),
                    lambda s: s["m"]).alias("carr"))
    joined = e.join(F.broadcast(cent), "label")
    cos_r = F.round(cosine(F.col("vec"), F.col("carr")), 6)
    return (
        joined.select("label", F.col("carr"), cos_r.alias("_c"))
        .groupBy("label")
        .agg(F.count(F.lit(1)).cast("long").alias("n_vecs"),
             F.round(F.sqrt(dot(F.first("carr"), F.first("carr"))), 6)
             .alias("centroid_norm"),
             F.round(F.sum(F.col("_c").cast("decimal(18,6)")).cast("double")
                     / F.count(F.lit(1)), 6).alias("avg_cos_to_centroid"))
    )


def kmeans_embeddings(embeddings: DataFrame, k: int = 8, n_iter: int = 2, *,
                      id_col: str = "vec_id",
                      vec_col: str = "embedding") -> DataFrame:
    """Spherical k-means (Lloyd's) over an embedding corpus —
    deterministic end to end, so a SQL oracle can replay every
    iteration exactly:

    - init: the greedy farthest-point seeds (``_seed_centroids`` —
      the same k-means++-analogue the IVF index uses, round-9 cosines,
      bounded 10k driver pool);
    - assign: argmax round-9 cosine to the current centroids, ties to
      the LOWEST cluster id (``pq_arrow.assign_clusters``, the exact
      twin of ``_nearest_cell``'s array_position rule);
    - update: per-dimension mean through ``decimal(27,12)`` sums
      rounded to 6 decimals (the ``label_centroid_stats`` parity
      trick — BLAS-vs-sequential fold noise can't leak into the next
      iteration), empty clusters keep their previous centroid.

    Scale shape per iteration: one map-side assignment (broadcast
    centroid table, no shuffle), one partial-aggregated (cluster, dim)
    mean — k·dim rows to the driver (bounded: clusters and dims are
    config-sized). No per-row Python; the explode is columnar.
    Returns (id, cluster, cosine_sim) — round-6 cosine to the FINAL
    centroid. The reference has no clustering op (closest analogue:
    the broker's namespace bundle split heuristics); this is
    engine-completeness for the embedding-pipeline family, matching
    scikit-learn's spherical-kmeans semantics under fixed iterations.
    """
    cents = _seed_centroids(embeddings, n_cells=k, id_col=id_col,
                            vec_col=vec_col)
    base = embeddings.select(F.col(id_col),
                             as_double_array(F.col(vec_col)).alias("__v"))
    dim = len(cents[0])
    for _ in range(n_iter):
        a = pq_arrow.assign_clusters(base, cents, id_col=id_col,
                                     vec_col="__v")
        m = (a.select("cluster", F.posexplode("__v").alias("d", "x"))
             .groupBy("cluster", "d")
             .agg(F.round(
                 F.sum(F.col("x").cast("decimal(27,12)")).cast("double")
                 / F.count(F.lit(1)), 6).alias("m"))
             .collect())
        means: dict[int, dict[int, float]] = {}
        for r in m:
            means.setdefault(r["cluster"], {})[r["d"]] = r["m"]
        cents = [
            [means[c][d] for d in range(dim)] if c in means else cents[c]
            for c in range(k)
        ]
    return pq_arrow.assign_clusters(base, cents, id_col=id_col,
                                    vec_col="__v", final_sim=True)


def _assign_clusters_fold(df: DataFrame, cents: list[list[float]], *,
                          id_col: str, vec_col: str,
                          final_sim: bool = False) -> DataFrame:
    """Reference form of ``pq_arrow.assign_clusters`` as column
    expressions (broadcast centroid column + ``_nearest_cell``).
    Parity tests swap it in."""
    out = (_attach_centroids(df, cents)
           .withColumn("cluster", _nearest_cell(F.col(vec_col))))
    if not final_sim:
        return out.drop("_cents")
    final_c = F.col("_cents")[F.col("cluster")]
    return out.select(
        F.col(id_col), F.col("cluster"),
        F.round(cosine(F.col(vec_col), final_c), 6).alias("cosine_sim"))


def kcenter_coreset(embeddings: DataFrame, k: int = 8, *,
                    id_col: str = "vec_id",
                    vec_col: str = "embedding") -> DataFrame:
    """Greedy k-center coreset selection + coverage report — the
    classic 2-approximation (Gonzalez 1985) for picking k maximally
    spread representatives of a corpus, the selection step of
    diversity-driven data curation (pick prototypes, then sample or
    label around them) and the seeding the IVF family already uses.

    The k centers come from the deterministic farthest-point loop
    (``_seed_centroids`` — round-9 cosines, bounded 10k driver pool);
    every corpus vector is then assigned to its nearest center
    (first-max ties, the ``_nearest_cell`` rule). The output is the
    per-center COVERAGE report: how many vectors each center
    represents and the worst (minimum, round-6) cosine among them —
    the angular coverage radius that certifies coreset quality.

    Scale: one driver-bounded seeding pass, then a map-side assignment
    (broadcast center table, no shuffle of vectors) and one k-row
    aggregate. Returns (center, n_covered, coverage_cos) — EXACTLY k
    rows: a center that covers zero vectors (possible with duplicate
    vectors, whose first-max tie sends both copies to the lower-indexed
    center) surfaces as (center, 0, NULL) instead of vanishing, so
    callers iterating k rows never miss one.
    """
    cents = _seed_centroids(embeddings, n_cells=k, id_col=id_col,
                            vec_col=vec_col)
    e = ensure_parallelism(embeddings).select(
        F.col(id_col).alias("vec_id"),
        as_double_array(F.col(vec_col)).alias("vec"))
    e = (_attach_centroids(e, cents)
         .withColumn("_scores", _cell_scores(F.col("vec")))
         .drop("_cents"))
    center = _argmax_cell(F.col("_scores"))
    own = F.element_at(F.col("_scores"), center + 1)  # round-9 cosine
    agg = (e.select(center.alias("center"), own.alias("_cos9"))
           .groupBy("center")
           .agg(F.count(F.lit(1)).cast("long").alias("n_covered"),
                F.round(F.min("_cos9"), 6).alias("coverage_cos")))
    spine = (embeddings.sparkSession.range(len(cents))
             .select(F.col("id").cast("int").alias("center")))
    # both sides of this join are <=k rows; broadcast the aggregate
    # (the build side of a LeftOuter BHJ) so the k-row spine never
    # plans through a SortMergeJoin (r7 verdict "What's wrong" #2)
    return (spine.join(F.broadcast(agg.withColumn(
                           "center", F.col("center").cast("int"))),
                       "center", "left")
            .select("center",
                    F.coalesce(F.col("n_covered"), F.lit(0))
                    .cast("long").alias("n_covered"),
                    "coverage_cos"))


def rrf_fuse(ranked_a: DataFrame, ranked_b: DataFrame, *,
             id_col: str = "doc_id", rank_col: str = "rank",
             k_const: int = 60, top: int | None = None) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al. 2009) of two ranked
    retrieval lists — the standard hybrid-search combiner (lexical
    BM25 + dense ANN) in RAG / data-curation stacks. Each list
    contributes 1/(k_const + rank) for ids it ranked; ids in only one
    list still score (the other term is 0).

    Inputs: two DataFrames carrying (id_col, rank_col); ranks are
    1-based. Output: (id, rank_a, rank_b, rrf_score, fused_rank),
    ordered by (score desc, id) with deterministic row_number ranks;
    absent ranks surface as 0 (not NULL — gate outputs must be
    hashable scalars). ``top`` truncates the fused list.

    Scale: retrieval outputs are top-k sized (thousands of rows, not
    corpus-sized), so the full-outer join is trivially small; fusion
    adds no pass over the corpus. The score is a 2-addend double sum
    in a fixed coalesce order — no aggregation-order nondeterminism.
    """
    a = ranked_a.select(F.col(id_col).alias("_id"),
                        F.col(rank_col).cast("long").alias("_ra"))
    b = ranked_b.select(F.col(id_col).alias("_id"),
                        F.col(rank_col).cast("long").alias("_rb"))
    fused = a.join(b, "_id", "full_outer")
    score = (F.coalesce(1.0 / (F.lit(float(k_const)) + F.col("_ra")),
                        F.lit(0.0))
             + F.coalesce(1.0 / (F.lit(float(k_const)) + F.col("_rb")),
                          F.lit(0.0)))
    w = Window.orderBy(F.col("rrf_score").desc(), F.col(id_col))
    out = (fused.select(
        F.col("_id").alias(id_col),
        F.coalesce(F.col("_ra"), F.lit(0)).cast("long").alias("rank_a"),
        F.coalesce(F.col("_rb"), F.lit(0)).cast("long").alias("rank_b"),
        F.round(score, 6).alias("rrf_score"))
        .withColumn("fused_rank",
                    F.row_number().over(w).cast("long")))
    if top is not None:
        out = out.filter(F.col("fused_rank") <= top)
    return out


# ---------------------------------------------------------------- PQ

def _d2(a: Column, b: Column) -> Column:
    """Squared L2 distance via the expansion dot(a,a) − 2·dot(a,b) +
    dot(b,b) — three sequential-fold dot products and two IEEE adds in
    a fixed order, so DuckDB's list_dot_product replays it exactly
    (the proven ``_sql_cos`` parity primitive; a zip-and-sum form
    would depend on the engines agreeing on a fourth fold order)."""
    return dot(a, a) - F.lit(2.0) * dot(a, b) + dot(b, b)


def pq_train_codebooks(embeddings: DataFrame, *, m: int = 4,
                       ksub: int = 16, dim: int,
                       lloyd_iters: int = 0,
                       id_col: str = "vec_id",
                       vec_col: str = "embedding") -> list[list[list[float]]]:
    """Train product-quantization codebooks (Jégou et al. 2011): split
    the ``dim`` dimensions into ``m`` contiguous subspaces and pick
    ``ksub`` codewords per subspace by the deterministic greedy
    farthest-point rule (maximize the minimum round-9 squared L2 to
    the already-chosen set, ties to the lowest pool id) over a bounded
    10k driver pool — the same RNG-free, SQL-replayable seeding
    discipline as ``_seed_centroids``, under PQ's native L2 metric.

    ``lloyd_iters`` runs that many deterministic k-means (Lloyd)
    refinement sweeps after the greedy seeding — the quality lever the
    paper trains with: farthest-point codewords sit on EXTREMES, Lloyd
    pulls them onto the mass (measured on the sf0.01 fixture: raw ADC
    recall@10 0.25 → 0.29 and refine-100 recall 0.635 → 0.785 at 2
    iterations). Every step is SQL-replayable: assignment is the
    round-9 first-min rule, each new codeword is the SEQUENTIAL
    (pool-id-order) float sum of its members divided by the count,
    rounded to 9 — empty clusters keep their codeword.

    Returns ``m × ksub × (dim/m)`` nested lists. Training is a
    driver-bounded metadata op regardless of corpus size."""
    if dim % m != 0:
        raise ValueError(f"dim={dim} not divisible by m={m}")
    dsub = dim // m
    sample = (
        embeddings.select(F.col(id_col).alias("i"),
                          as_double_array(F.col(vec_col)).alias("v"))
        .orderBy("i").limit(10_000)
        .collect()
    )
    pool = np.array([r["v"] for r in sample])
    books: list[list[list[float]]] = []
    for s in range(m):
        sub = pool[:, s * dsub:(s + 1) * dsub]
        # d2 via the same expansion the encoder uses (round-9 snap)
        self_dot = np.einsum("ij,ij->i", sub, sub)

        def d2_to(j):
            return np.round(self_dot - 2.0 * (sub @ sub[j]) + self_dot[j], 9)

        chosen = [0]
        min_d2 = d2_to(0)
        for _ in range(1, min(ksub, len(sub))):
            nxt = int(np.argmax(min_d2))  # farthest from chosen set
            chosen.append(nxt)
            min_d2 = np.minimum(min_d2, d2_to(nxt))
        cw = sub[chosen].copy()
        for _ in range(lloyd_iters):
            cwdot = np.einsum("ij,ij->i", cw, cw)
            dmat = np.round(self_dot[:, None] - 2.0 * (sub @ cw.T)
                            + cwdot[None, :], 9)
            assign = np.argmin(dmat, axis=1)  # first-min = lowest cw
            for j in range(len(cw)):
                sel = sub[assign == j]
                if not len(sel):
                    continue  # empty cluster keeps its codeword
                # SEQUENTIAL id-order fold, first element as the seed —
                # the exact IEEE order DuckDB's list_reduce replays
                acc = sel[0].copy()
                for row in sel[1:]:
                    acc = acc + row
                cw[j] = np.round(acc / len(sel), 9)
        books.append(cw.tolist())
    return books


def maxsim_topk(doc_tokens: DataFrame, query_tokens: DataFrame,
                k: int = 10, *, n_query_tokens: int,
                doc_id_col: str = "doc_id",
                query_id_col: str = "query_id",
                pos_col: str = "token_pos",
                vec_col: str = "vec") -> DataFrame:
    """Late-interaction (MaxSim) retrieval — ColBERT's scoring rule
    (Khattab & Zaharia, SIGIR 2020 §3.3): documents and queries are
    BAGS of token vectors; score(q, d) = Σ over q's tokens of the MAX
    dot product against any of d's tokens. Captures term-level
    matching that single-vector retrieval averages away — the standard
    reranker/retriever for token-level embedding models in
    training-data pipelines.

    Scale shape: the query token set broadcasts (queries ≪ corpus, the
    ``cosine_topk`` contract) and the doc-token scan is one map-side
    pass; the per-(query, doc, query-token) MAX and the per-(query,
    doc) score both partial-aggregate map-side, so the only shuffle
    carries (query, doc) aggregate rows — never token vectors — plus
    the per-query top-k window. At 100 TB the cost is one scan of the
    doc-token table × |broadcast query tokens| multiply-adds, the same
    envelope as ``cosine_topk`` with a token-count factor.

    Determinism: per-pair sims round-9 (the ``dot`` sequential fold);
    the per-query-token maxima are summed in FIXED token-position
    order via ``n_query_tokens`` pivot arms (the ADC lookup-sum
    pattern) so the IEEE order is replayable; final score round-6,
    ties to the lowest doc_id. Every query must present token
    positions 0..n_query_tokens-1 — a missing position yields a NULL
    score rather than a silently renumbered rank, and a position
    OUTSIDE that range fails the job loudly (ADVICE r10: an
    undercounted ``n_query_tokens`` would otherwise silently drop
    real token contributions — the asymmetric quiet twin of the NULL
    contract).

    Plan: the per-token MAX and the token pivot fuse into ONE
    (query, doc) aggregation — max(when(q_pos==i, sim)) over the pair
    IS that token's max — so the whole operator is one shuffle on
    (query, doc) plus the per-query top-k window."""
    scored = _maxsim_scores(doc_tokens, query_tokens,
                            n_query_tokens=n_query_tokens,
                            doc_id_col=doc_id_col,
                            query_id_col=query_id_col,
                            pos_col=pos_col, vec_col=vec_col)
    return _maxsim_rank(scored, k)


def _maxsim_scores(doc_tokens: DataFrame, query_tokens: DataFrame, *,
                   n_query_tokens: int, doc_id_col: str = "doc_id",
                   query_id_col: str = "query_id",
                   pos_col: str = "token_pos",
                   vec_col: str = "vec") -> DataFrame:
    """The fused MaxSim scoring stage of ``maxsim_topk`` without the
    final top-k window — (query_id, doc_id, score) for every pair.
    Shared by the batch operator and the streaming ingest (which ranks
    per micro-batch and defers the global top-k to the finalizer)."""
    d = doc_tokens.select(F.col(doc_id_col).alias("doc_id"),
                          as_double_array(F.col(vec_col)).alias("dv"))
    pos = F.col(pos_col).cast("int")
    checked_pos = F.when(
        (pos < 0) | (pos >= n_query_tokens),
        F.raise_error(F.concat(
            F.lit("maxsim: query token_pos "), pos.cast("string"),
            F.lit(f" outside [0, {n_query_tokens}) — n_query_tokens "
                  "undercounted; its sims would match no pivot arm "
                  "and silently vanish from the score")))
    ).otherwise(pos)
    q = query_tokens.select(F.col(query_id_col).alias("query_id"),
                            checked_pos.alias("q_pos"),
                            as_double_array(F.col(vec_col)).alias("qv"))
    sims = (d.crossJoin(F.broadcast(q))
            .select("query_id", "doc_id", "q_pos",
                    F.round(dot(F.col("dv"), F.col("qv")), 9)
                    .alias("sim")))
    arms = [F.max(F.when(F.col("q_pos") == i, F.col("sim")))
            .alias(f"_m{i}") for i in range(n_query_tokens)]
    scored = sims.groupBy("query_id", "doc_id").agg(*arms)
    score = F.col("_m0")
    for i in range(1, n_query_tokens):
        score = score + F.col(f"_m{i}")
    return scored.select("query_id", "doc_id",
                         F.round(score, 6).alias("score"))


def _maxsim_rank(scored: DataFrame, k: int) -> DataFrame:
    """Per-query top-k over (query_id, doc_id, score) — score desc,
    ties to the lowest doc_id (the maxsim_topk output contract)."""
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(),
                                               F.col("doc_id"))
    return (scored.withColumn("rank", F.row_number().over(w).cast("int"))
            .filter(F.col("rank") <= k))


def pq_rotation(dim: int) -> tuple[list[int], list[int]]:
    """Deterministic signed-permutation isometry for PQ pre-rotation —
    the 'RR' (random rotation) baseline of OPQ (Ge et al., CVPR 2013
    §4; also Jégou et al. 2011 §V-A's random-rotation variant): PQ's
    subspace split is sensitive to how variance and correlation land
    across the m contiguous slices, and a cheap isometry applied before
    the split decorrelates blocky layouts (e.g. concatenated feature
    groups) without changing any true distance. A full OPQ rotation
    trains R by alternating SVD sweeps — not replayable under this
    repo's exact-oracle discipline — while a signed permutation is an
    exact isometry on both engines: R(v)[j] = signs[j] · v[perm[j]],
    ‖R(a) − R(b)‖² = ‖a − b‖² bit-for-bit term-set-identical (the
    refine stage keeps RAW-order arithmetic, so final exact distances
    are byte-identical to the unrotated pipeline's).

    perm is the md5-sort of the dimension indexes and signs one md5
    bit each — RNG-free, reproducible everywhere from ``dim`` alone."""
    import hashlib

    perm = sorted(range(dim),
                  key=lambda j: hashlib.md5(f"pqrot{j}".encode())
                  .hexdigest())
    signs = [1 if hashlib.md5(f"pqsign{j}".encode()).digest()[0] % 2 == 0
             else -1 for j in range(dim)]
    return perm, signs


def _rotate_vec(vec: Column,
                rotation: tuple[list[int], list[int]]) -> Column:
    """Apply the signed permutation: output j = ±vec[perm[j]].
    Negation (not multiply) so the flip is the exact IEEE sign-bit
    toggle the oracle's ``-v[i]`` performs."""
    perm, signs = rotation
    return F.array(*[
        -F.element_at(vec, p + 1) if s < 0 else F.element_at(vec, p + 1)
        for p, s in zip(perm, signs)])


def opq_train_rotation(embeddings: DataFrame, *, dim: int, m: int = 4,
                       ksub: int = 16, iters: int = 8,
                       lloyd_iters: int = 2,
                       id_col: str = "vec_id",
                       vec_col: str = "embedding"
                       ) -> tuple[list[list[float]], list[float]]:
    """Full OPQ: TRAIN the pre-rotation instead of fixing a signed
    permutation (Ge et al., CVPR 2013, Alg. 1 — the non-parametric
    form; ``pq_rotation`` is its 'RR' baseline). Alternating
    minimization of ‖XR − X̂‖² over the deterministic 10k driver pool:

      1. rotate the pool by the current R, train PQ codebooks on it
         (the same greedy farthest-point + Lloyd rule as
         ``pq_train_codebooks``, vectorized numpy);
      2. reconstruct each rotated vector from its nearest codewords
         and solve the orthogonal Procrustes problem
         min_R ‖XRᵀ… − X̂‖ via one SVD of Xᵀ X̂ — the closed-form
         rotation update.

    Initialization is the ``pq_rotation`` signed permutation, so
    iteration 0 IS the RR configuration and the returned best-seen
    rotation can never be worse than RR on the training objective
    (the codebook step is a deterministic heuristic, not an exact
    minimizer, so the loop tracks the best iterate rather than
    assuming monotonicity). Everything is driver-bounded (10k × dim
    numpy) and RNG-free — deterministic for a given corpus.

    Returns ``(R, errors)``: R as ``dim × dim`` nested lists (rotated
    vector j = Σ_i R[j][i]·v[i] — apply distributed with
    ``rotate_embeddings``), and the per-iteration pool quantization
    errors (errors[0] = the RR baseline). OPQ-trained rotations are
    a pytest-gated quality lever, NOT threaded through the
    exact-oracle index gates: a trained dense R is not replayable as
    DuckDB CTEs the way the signed permutation is (PARITY r11), but
    the composition ``rotate_embeddings → pq_* (books trained in
    rotated space) → raw-vector refine`` is fully supported."""
    sample = (
        embeddings.select(F.col(id_col).alias("i"),
                          as_double_array(F.col(vec_col)).alias("v"))
        .orderBy("i").limit(10_000)
        .collect()
    )
    X = np.array([r["v"] for r in sample])
    dsub = dim // m
    if dim % m != 0:
        raise ValueError(f"dim={dim} not divisible by m={m}")

    def train_books(P):
        books = []
        for s in range(m):
            sub = P[:, s * dsub:(s + 1) * dsub]
            self_dot = np.einsum("ij,ij->i", sub, sub)

            def d2_to(j):
                return np.round(self_dot - 2.0 * (sub @ sub[j])
                                + self_dot[j], 9)

            chosen = [0]
            min_d2 = d2_to(0)
            for _ in range(1, min(ksub, len(sub))):
                nxt = int(np.argmax(min_d2))
                chosen.append(nxt)
                min_d2 = np.minimum(min_d2, d2_to(nxt))
            cw = sub[chosen].copy()
            for _ in range(lloyd_iters):
                cwdot = np.einsum("ij,ij->i", cw, cw)
                dmat = (self_dot[:, None] - 2.0 * (sub @ cw.T)
                        + cwdot[None, :])
                assign = np.argmin(dmat, axis=1)
                for j in range(len(cw)):
                    sel = sub[assign == j]
                    if len(sel):
                        cw[j] = sel.mean(axis=0)
            books.append(cw)
        return books

    def reconstruct(P, books):
        Xhat = np.empty_like(P)
        for s in range(m):
            sub = P[:, s * dsub:(s + 1) * dsub]
            cw = books[s]
            d = (np.einsum("ij,ij->i", sub, sub)[:, None]
                 - 2.0 * (sub @ cw.T)
                 + np.einsum("ij,ij->i", cw, cw)[None, :])
            Xhat[:, s * dsub:(s + 1) * dsub] = cw[np.argmin(d, axis=1)]
        return Xhat

    perm, signs = pq_rotation(dim)
    R = np.zeros((dim, dim))
    for j, (p, sg) in enumerate(zip(perm, signs)):
        R[j, p] = float(sg)

    errors: list[float] = []
    best_R, best_err = R, None
    for _ in range(iters + 1):
        Xr = X @ R.T
        books = train_books(Xr)
        Xhat = reconstruct(Xr, books)
        err = float(((Xr - Xhat) ** 2).sum())
        errors.append(err)
        if best_err is None or err < best_err:
            best_R, best_err = R, err
        # Procrustes update: min over orthogonal W of ||X W - Xhat||,
        # W = R^T -> W = U V^T from SVD(X^T Xhat), R = W^T
        U, _s, Vt = np.linalg.svd(X.T @ Xhat)
        R = (U @ Vt).T
    return best_R.tolist(), errors


def rotate_embeddings(df: DataFrame, R: list[list[float]], *,
                      vec_col: str = "embedding",
                      out_col: str | None = None) -> DataFrame:
    """Apply a DENSE rotation distributed, JVM-side: output j =
    Σ_i R[j][i]·v[i] as an exact sequential fold per output dim. The
    matrix ships as ONE broadcast data column — dim² literal
    expressions would re-hit the measured whole-stage-codegen trap
    (``_attach_centroids``) at 4096 literals for dim=64. Map-only:
    zero shuffles, zero Python. Pairs with ``opq_train_rotation``;
    the signed-permutation fast path stays ``_rotate_vec``."""
    spark = df.sparkSession
    bdf = spark.createDataFrame([(R,)], "_rotm ARRAY<ARRAY<DOUBLE>>")
    v = as_double_array(F.col(vec_col))
    rotated = F.transform(F.col("_rotm"), lambda row: F.aggregate(
        F.zip_with(row, v, lambda a, b: a * b),
        F.lit(0.0), lambda acc, x: acc + x))
    out = out_col or vec_col
    return (df.crossJoin(F.broadcast(bdf))
            .withColumn(out, rotated).drop("_rotm"))


def _apply_rotation(df: DataFrame, col: str, rotation) -> DataFrame:
    """Rotate an ARRAY<DOUBLE> column in place, dispatching on the
    rotation's form: a (perm, signs) tuple applies the exact
    signed-permutation column expression (``_rotate_vec`` — the
    oracle-replayable RR form); a dense matrix (list of rows, e.g.
    from ``opq_train_rotation``) applies the broadcast data-column
    projection (``rotate_embeddings``). ``None`` is a no-op. Every
    PQ/IVFADC rotation site routes through here so a pinned OPQ
    matrix flows through the whole index lifecycle."""
    if rotation is None:
        return df
    if isinstance(rotation, tuple):
        return df.withColumn(col, _rotate_vec(F.col(col), rotation))
    return rotate_embeddings(df, rotation, vec_col=col)


def _rotation_to_json(rotation) -> dict:
    if isinstance(rotation, tuple):
        return {"perm": rotation[0], "signs": rotation[1]}
    return {"matrix": rotation}


def _rotation_from_json(r: dict):
    if "matrix" in r:
        return r["matrix"]
    return r["perm"], r["signs"]


def _resolve_rotate(rotate, embeddings: DataFrame, *, dim: int, m: int,
                    ksub: int, id_col: str, vec_col: str):
    """The ``rotate=`` argument of the index builders: ``False`` → no
    rotation; ``True`` → the deterministic RR signed permutation
    (oracle-replayable); ``"opq"`` → train the full OPQ rotation on
    the 10k pool (``opq_train_rotation`` — pytest-gated quality
    lever); an explicit (perm, signs) tuple or dense matrix passes
    through (pin a rotation trained elsewhere)."""
    if rotate is False or rotate is None:
        return None
    if rotate is True:
        return pq_rotation(dim)
    if rotate == "opq":
        R, _errs = opq_train_rotation(embeddings, dim=dim, m=m,
                                      ksub=ksub, id_col=id_col,
                                      vec_col=vec_col)
        return R
    return rotate


def _side_rotation(side: dict):
    """The pinned rotation of an IVFADC sidecar, if any — (perm,
    signs) tuple or dense matrix."""
    r = side.get("rotation")
    return _rotation_from_json(r) if r else None


def _attach_pq(df: DataFrame, books: list[list[list[float]]]) -> DataFrame:
    """Codebooks as ONE broadcast data column (m × ksub × dsub doubles
    — the literal form would re-hit the measured codegen trap)."""
    spark = df.sparkSession
    bdf = spark.createDataFrame([(books,)],
                                "_pq ARRAY<ARRAY<ARRAY<DOUBLE>>>")
    return df.crossJoin(F.broadcast(bdf))


def _pq_codes(vec: Column, m: int, dsub: int) -> Column:
    """Per-subspace argmin-round-9-d2 codeword indexes (first-min ties
    — the array_position rule), as an ARRAY<INT> of length m."""
    def code_for(s: Column) -> Column:
        sub = F.slice(vec, s * dsub + 1, dsub)
        d2s = F.transform(F.element_at(F.col("_pq"), s + 1),
                          lambda cw: F.round(_d2(sub, cw), 9))
        return (F.array_position(d2s, F.array_min(d2s)) - 1).cast("int")

    return F.transform(F.sequence(F.lit(0), F.lit(m - 1)), code_for)


def pq_encode(embeddings: DataFrame, books: list[list[list[float]]], *,
              id_col: str = "vec_id", vec_col: str = "embedding",
              rotation: tuple[list[int], list[int]] | None = None
              ) -> DataFrame:
    """Encode every vector as its m PQ codeword indexes — map-only
    (codebooks in the task closure, no shuffle). dim·8 bytes/vector
    become m·log2(ksub) bits: the compression that lets a 100 TB
    embedding corpus's candidate scan live in memory. ``rotation``
    applies the ``pq_rotation`` signed permutation before the subspace
    split (the books must then have been trained in rotated space).

    Physical form: the Arrow kernel ``pq_arrow.encode_pq``, the exact
    twin of ``_pq_encode_fold`` (the higher-order-function column form
    evaluated INTERPRETED and dominated the measured encode cost)."""
    return pq_arrow.encode_pq(embeddings, books, id_col=id_col,
                              vec_col=vec_col, rotation=rotation)


def _pq_encode_fold(embeddings: DataFrame, books: list[list[list[float]]],
                    *, id_col: str = "vec_id", vec_col: str = "embedding",
                    rotation: tuple[list[int], list[int]] | None = None
                    ) -> DataFrame:
    """Reference form of ``pq_encode`` as column expressions — the
    arithmetic the DuckDB oracle replays. Parity tests swap it in."""
    m = len(books)
    dsub = len(books[0][0])
    e = embeddings.select(F.col(id_col).alias("vec_id"),
                          as_double_array(F.col(vec_col)).alias("vec"))
    e = _apply_rotation(e, "vec", rotation)
    return (_attach_pq(e, books)
            .select("vec_id", _pq_codes(F.col("vec"), m, dsub).alias("codes")))


def pq_adc_topk(embeddings: DataFrame, queries: DataFrame, k: int = 10, *,
                dim: int, m: int = 4, ksub: int = 16,
                books: list[list[list[float]]] | None = None,
                refine: int | None = None, lloyd_iters: int = 0,
                rotate: bool | str | tuple | list = False,
                id_col: str = "vec_id", vec_col: str = "embedding",
                query_id_col: str = "query_id",
                query_vec_col: str = "query_vec") -> DataFrame:
    """PQ asymmetric-distance (ADC) top-k: each query computes one
    m × ksub distance table against the codebooks; a candidate's
    approximate distance is the sum of m table lookups addressed by
    its codes — no candidate vector is ever touched at query time.

    ``refine=R`` adds the standard exact re-rank stage (IVFADC+R,
    Jégou et al. 2011 §V): the ADC scan keeps a per-query shortlist of
    R candidates, their TRUE vectors are fetched by an equi-join on id
    and re-ranked by exact squared L2 — only R vectors per query are
    ever touched, so at corpus scale the exact stage is O(Q·R·dim),
    not O(N). Quantization error then only costs recall when a true
    neighbor falls outside the ADC top-R (measured on the clustered
    test fixture: recall@10 0.24 raw → 0.74+ at R=100). Output gains
    an ``exact_d2`` column and ``rank`` ranks by it.

    Scale shape: corpus encodes map-side ONCE (reusable — persist the
    ``pq_encode`` output as the index); the query side broadcasts
    (queries ≪ corpus, the ``cosine_topk`` contract); the scan is a
    lookup-sum over broadcast tables, and the only shuffles are the
    per-query top-R/top-k windows (shortlist-sized) plus, in refine
    mode, one id equi-join that moves R·Q candidate vectors.
    Deterministic end to end (round-9 codeword argmins, round-6
    outputs, ties to the lowest id), so the DuckDB oracle replays
    training, encoding, the ADC scan and the refine stage exactly.
    ``rotate=True`` trains and encodes in ``pq_rotation`` space (the
    OPQ 'RR' baseline — balances subspace variance on blocky inputs);
    the refine stage and output distances stay raw-exact (isometry).
    Output: (query_id, vec_id, adc_d2, rank) — plus exact_d2 before
    rank in refine mode — ascending distance, k rows per query."""
    rotation = _resolve_rotate(rotate, embeddings, dim=dim, m=m,
                               ksub=ksub, id_col=id_col, vec_col=vec_col)
    train_src = embeddings
    if rotation is not None and books is None:
        train_src = _apply_rotation(
            embeddings.select(
                F.col(id_col).alias(id_col),
                as_double_array(F.col(vec_col)).alias(vec_col)),
            vec_col, rotation)
    if books is None:
        books = pq_train_codebooks(train_src, m=m, ksub=ksub, dim=dim,
                                   lloyd_iters=lloyd_iters,
                                   id_col=id_col, vec_col=vec_col)
    enc = pq_encode(embeddings, books, id_col=id_col, vec_col=vec_col,
                    rotation=rotation)
    q = queries.select(F.col(query_id_col).alias("query_id"),
                       as_double_array(F.col(query_vec_col)).alias("qv"))
    vecs = None
    if refine is not None:
        vecs = embeddings.select(
            F.col(id_col).alias("vec_id"),
            as_double_array(F.col(vec_col)).alias("_cv"))
    return _pq_adc_rank(enc, q, books, k, refine=refine, vecs=vecs,
                        rotation=rotation)


def _pq_query_table(q: DataFrame, books: list[list[list[float]]], *,
                    extra: tuple[str, ...] = ()) -> DataFrame:
    """Per-query ADC distance table: m rows of ksub round-9 d2 entries
    against the broadcast codebooks. ``extra`` carries routing columns
    (e.g. the probed ``cell``) through alongside (query_id, _qt)."""
    m = len(books)
    dsub = len(books[0][0])
    qtable = F.transform(
        F.sequence(F.lit(0), F.lit(m - 1)),
        lambda s: F.transform(
            F.element_at(F.col("_pq"), s + 1),
            lambda cw: F.round(_d2(F.slice(F.col("qv"), s * dsub + 1, dsub),
                                   cw), 9)))
    return _attach_pq(q, books).select("query_id", *extra,
                                       qtable.alias("_qt"))


def _pq_adc_expr() -> Column:
    """Approximate distance of one (codes, _qt) pair: sum of m table
    lookups addressed by the codes — fixed left-to-right IEEE fold."""
    return F.aggregate(
        F.zip_with(F.col("codes"), F.col("_qt"),
                   lambda c, row: F.element_at(row, c + 1)),
        F.lit(0.0), lambda acc, x: acc + x)


def _pq_rank_tail(scored: DataFrame, q: DataFrame, k: int, *,
                  refine: int | None,
                  vecs: DataFrame | None) -> DataFrame:
    """Top-k / refine tail shared by every PQ probe form: per-query
    shortlist windows over the ADC scores, optional exact re-rank
    against the true-vector source."""
    w = Window.partitionBy("query_id").orderBy(F.col("adc_d2").asc(),
                                               F.col("vec_id"))
    if refine is None:
        return (scored.withColumn("rank",
                                  F.row_number().over(w).cast("int"))
                .filter(F.col("rank") <= k)
                .select("query_id", "vec_id", "adc_d2", "rank"))
    if refine < k:
        raise ValueError(f"refine={refine} must be >= k={k}")
    shortlist = (scored.withColumn("_ar", F.row_number().over(w))
                 .filter(F.col("_ar") <= refine)
                 .drop("_ar"))
    # LEFT join + raise_error: the true-vector source must cover every
    # shortlisted index id — an inner join would silently DROP stale
    # ids (e.g. only the build-time corpus passed after appends) and
    # renumber ranks; instead the first uncovered id fails the job
    # loudly, executor-side, at zero extra cost (the check lives inside
    # the exact_d2 expression, no extra action).
    exact_val = F.when(
        F.col("_cv").isNull(),
        F.raise_error(F.concat(
            F.lit("pq refine: shortlisted vec_id "),
            F.col("vec_id").cast("string"),
            F.lit(" missing from vectors= — the true-vector table "
                  "must cover every id in the index"))),
    ).otherwise(F.round(_d2(F.col("_cv"), F.col("qv")), 6))
    exact = (shortlist.join(vecs, "vec_id", "left")
             .join(F.broadcast(q), "query_id")
             .select("query_id", "vec_id", "adc_d2",
                     exact_val.alias("exact_d2")))
    wr = Window.partitionBy("query_id").orderBy(F.col("exact_d2").asc(),
                                                F.col("vec_id"))
    return (exact.withColumn("rank", F.row_number().over(wr).cast("int"))
            .filter(F.col("rank") <= k)
            .select("query_id", "vec_id", "adc_d2", "exact_d2", "rank"))


def _pq_adc_rank(enc: DataFrame, q: DataFrame,
                 books: list[list[list[float]]], k: int, *,
                 refine: int | None, vecs: DataFrame | None,
                 rotation: tuple[list[int], list[int]] | None = None
                 ) -> DataFrame:
    """The query-time half of ``pq_adc_topk`` — ADC lookup-sum scan
    over an ALREADY-ENCODED corpus (``enc``: (vec_id, codes)), plus
    the optional exact refine against ``vecs`` (vec_id, _cv). Shared
    verbatim by the one-shot form and the pq codec's ``search_index``,
    so the persisted-index probe can never drift from the gated
    semantics.
    ``rotation`` rotates the QUERY TABLE into the codes' space; the
    refine stage stays in raw space (isometry — same exact
    distances, same raw-order arithmetic as the unrotated path).

    Physical form: the Arrow ADC-scan kernel — the query table is
    built driver-side from the collected query batch (the same
    boundedness as a ``F.broadcast(qt)``) and the scan runs vectorized
    (``pq_arrow.adc_scan``, exact twin of ``_pq_adc_rank_fold``)."""
    rows = q.collect()
    qids = [r["query_id"] for r in rows]
    qv = np.array([[float(x) for x in r["qv"]] for r in rows],
                  dtype=np.float64)
    if len(rows):
        qt = pq_arrow.query_table(pq_arrow.np_rotate(qv, rotation), books)
    else:
        qt = np.zeros((0, len(books), len(books[0])))
    scored = pq_arrow.adc_scan(enc, qids, q.schema["query_id"].dataType,
                               flat_qt=qt)
    return _pq_rank_tail(scored, q, k, refine=refine, vecs=vecs)


def _pq_adc_rank_fold(enc: DataFrame, q: DataFrame,
                      books: list[list[list[float]]], k: int, *,
                      refine: int | None, vecs: DataFrame | None,
                      rotation: tuple[list[int], list[int]] | None = None
                      ) -> DataFrame:
    """Reference form of ``_pq_adc_rank``: broadcast query table and
    a lookup-sum column expression. Parity tests swap it in."""
    qq = _apply_rotation(q, "qv", rotation)
    qt = _pq_query_table(qq, books)
    scored = (enc.crossJoin(F.broadcast(qt))
              .select("query_id", "vec_id",
                      F.round(_pq_adc_expr(), 6).alias("adc_d2")))
    return _pq_rank_tail(scored, q, k, refine=refine, vecs=vecs)


def pq_write_index(embeddings: DataFrame, path: str, *, dim: int,
                   m: int = 4, ksub: int = 16, lloyd_iters: int = 0,
                   rotate: bool | str | tuple | list = False,
                   id_col: str = "vec_id",
                   vec_col: str = "embedding") -> dict:
    """Persist a PQ index: the corpus's code table (vec_id, codes —
    m small ints per vector, the m·log2(ksub)-bit compressed form) flat
    under ``{path}/base``, the trained codebooks in the sidecar.

    This is the piece that makes ``pq_adc_topk`` a 100 TB operator
    instead of a per-query pipeline: training and encoding run ONCE
    (train is driver-bounded, encode is map-only), and every later
    probe reads only the code table — dim·8 bytes/vector never move
    again. True vectors stay in the corpus table; the refine stage
    fetches the R·Q it needs by id equi-join at search time
    (``search_index(vectors=...)``), so the index itself stays
    codes-only and memory-resident at any corpus size.

    ``rotate`` pins a pre-rotation in the sidecar — ``True`` the
    ``pq_rotation`` signed permutation (oracle-replayable), ``"opq"``
    the trained full OPQ dense matrix (``opq_train_rotation`` —
    pytest-gated quality lever), an explicit tuple/matrix a rotation
    trained elsewhere; appends, ingest batches and probes all
    encode/query in the pinned space."""
    rotation = _resolve_rotate(rotate, embeddings, dim=dim, m=m,
                               ksub=ksub, id_col=id_col, vec_col=vec_col)
    train_src = embeddings
    if rotation is not None:
        train_src = _apply_rotation(
            embeddings.select(
                F.col(id_col).alias(id_col),
                as_double_array(F.col(vec_col)).alias(vec_col)),
            vec_col, rotation)
    books = pq_train_codebooks(train_src, m=m, ksub=ksub, dim=dim,
                               lloyd_iters=lloyd_iters,
                               id_col=id_col, vec_col=vec_col)
    side = {"codec": "pq", "books": books}
    if rotation is not None:
        side["rotation"] = _rotation_to_json(rotation)
    return _write_index(embeddings, path, side,
                        id_col=id_col, vec_col=vec_col)


def _residual(vec: Column) -> Column:
    """v − centroid[cell], elementwise — requires ``_cents`` and
    ``cell`` attached. Exact IEEE subtraction, so DuckDB's
    list_transform(list_zip(...)) replays it bit-for-bit."""
    return F.zip_with(vec,
                      F.element_at(F.col("_cents"), F.col("cell") + 1),
                      lambda a, b: a - b)


def _ivfpq_encode(df: DataFrame, cents, books, *, residual: bool,
                  rotation: tuple[list[int], list[int]] | None = None,
                  id_col: str = "vec_id",
                  vec_col: str = "embedding") -> DataFrame:
    """Map-side IVFADC encoder: (vec_id, cell, codes) under frozen
    centroids + codebooks — shared by the index build, the ingest
    stream, and the tests' reference encoder. ``rotation`` applies the
    ``pq_rotation`` signed permutation to the PQ-ENCODE INPUT (the
    residual when ``residual`` else the raw vector) — cell assignment
    always happens in RAW space (the coarse quantizer is untouched by
    an isometry of its input anyway; keeping it raw keeps the
    directory layout identical with and without rotation).

    Physical form: the Arrow kernel ``pq_arrow.encode_ivfpq``, the
    exact twin of ``_ivfpq_encode_fold``."""
    return pq_arrow.encode_ivfpq(df, cents, books, residual=residual,
                                 rotation=rotation, id_col=id_col,
                                 vec_col=vec_col)


def _ivfpq_encode_fold(df: DataFrame, cents, books, *, residual: bool,
                       rotation: tuple[list[int], list[int]] | None = None,
                       id_col: str = "vec_id",
                       vec_col: str = "embedding") -> DataFrame:
    """Reference form of ``_ivfpq_encode`` as column expressions.
    Parity tests swap it in."""
    e = df.select(F.col(id_col).alias("vec_id"),
                  as_double_array(F.col(vec_col)).alias("vec"))
    e = (_attach_centroids(e, cents)
         .withColumn("cell", _nearest_cell(F.col("vec"))))
    if residual:
        e = e.withColumn("vec", _residual(F.col("vec")))
    e = e.drop("_cents")
    e = _apply_rotation(e, "vec", rotation)
    return _attach_pq(e, books).select(
        "vec_id", "cell",
        _pq_codes(F.col("vec"), len(books), len(books[0][0]))
        .alias("codes"))


def ivfpq_write_index(
    embeddings: DataFrame, path: str, *, dim: int,
    m: int = 4, ksub: int = 16, n_cells: int | None = None,
    residual: bool | str = False, lloyd_iters: int = 0,
    rotate: bool | str | tuple | list = False,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> dict:
    """IVFADC (Jégou et al. 2011 §IV — the non-exhaustive form the
    paper actually ships): coarse-quantize every vector to an IVF cell
    AND PQ-encode it, persisting the codes under ``{path}/base``
    PARTITIONED BY CELL, with the centroids + codebooks in the sidecar.

    This composes the two index families' scale properties: a probe
    prunes to nprobe/n_cells of the corpus via directory-level
    partition pruning (the ``ivf_write_index`` contract) and then
    scans only COMPRESSED codes within the pruned cells (the
    ``pq_write_index`` contract) — at 100 TB neither the full corpus
    nor even full-width vectors of the probed cells are ever read.
    Build cost: two driver-bounded trainings (centroid seeding +
    codebooks over the same 10k pool) and ONE map-side pass assigning
    cell + codes, then a partitioned write.

    ``residual=True`` is the paper's §IV-A form: codebooks train on
    and codes encode v − centroid[cell] instead of v. Residuals have
    far less energy than raw vectors (the coarse quantizer already
    explains the cell-level structure), so the same m·log2(ksub) bits
    quantize tighter on real embedding corpora — the standard IVFADC
    accuracy lever. The flag is pinned in the sidecar; probes and
    stream appends read it there.

    Measured caveat (honest numbers, sf0.01 fixture, nprobe=3,
    refine=100, recall@10): raw 0.530 / residual 0.455 (greedy books),
    raw 0.575 / residual 0.455 (lloyd_iters=2). On THIS synthetic
    corpus within-cell residuals are near-isotropic md5 noise, so the
    codes capture less than raw-vector cluster structure — the
    opposite of real embedding distributions, where cell-level
    structure dominates and residual coding is the documented win.

    ``residual="auto"`` turns that footgun into a measurement: train
    BOTH codebook sets on the same 10k pool, compare total round-9
    quantization error (the standard PQ training objective — sum over
    the pool of each subvector's d2 to its nearest codeword), pin the
    winner in the sidecar (``residual`` bool + the measured errors
    under ``residual_auto``), and build with it. Probes and stream
    appends read the pinned flag — after the build, "auto" behaves
    exactly like the explicit flag it resolved to. Cost: one extra
    driver-bounded training + two pool-sized error sums.

    ``rotate=True`` applies the ``pq_rotation`` signed permutation to
    the PQ-encode input (raw vectors, or residuals in residual mode —
    measured on a blocky-residual fixture: residual pool quantization
    error 54.0M → 33.0M rotated). Cell assignment stays in RAW space;
    the rotation pins in the sidecar so appends, ingest batches and
    probes all encode/query in the same space; the exact-refine stage
    is untouched (isometry)."""
    n_cells = _resolve_n_cells(embeddings, n_cells)
    cents = _seed_centroids(embeddings, n_cells=n_cells,
                            id_col=id_col, vec_col=vec_col)
    if rotate == "opq" and residual:
        raise ValueError(
            "ivfpq_write_index(rotate='opq', residual=...): the OPQ "
            "objective must be trained in the space the codes quantize "
            "— residuals — but auto-training here would use raw "
            "vectors. Train it explicitly (opq_train_rotation over "
            "v - centroid[cell]) and pass the matrix as rotate=")
    rotation = _resolve_rotate(rotate, embeddings, dim=dim, m=m,
                               ksub=ksub, id_col=id_col, vec_col=vec_col)

    def rotated(df, vc):
        if rotation is None:
            return df
        return _apply_rotation(
            df.select("vec_id", as_double_array(F.col(vc)).alias(vc)),
            vc, rotation)

    auto_info = None
    r = None
    raw = embeddings.select(F.col(id_col).alias("vec_id"),
                            F.col(vec_col).alias("pqv"))
    if residual:                         # True or "auto"
        e = embeddings.select(
            F.col(id_col).alias("vec_id"),
            as_double_array(F.col(vec_col)).alias("vec"))
        r = (_attach_centroids(e, cents)
             .withColumn("cell", _nearest_cell(F.col("vec")))
             .withColumn("pqv", _residual(F.col("vec")))
             .select("vec_id", "pqv"))
    raw = rotated(raw, "pqv")
    r = rotated(r, "pqv") if r is not None else None
    if residual == "auto":
        books_raw = pq_train_codebooks(raw, m=m, ksub=ksub,
                                       dim=dim, lloyd_iters=lloyd_iters,
                                       id_col="vec_id", vec_col="pqv")
        books_res = pq_train_codebooks(r, m=m, ksub=ksub, dim=dim,
                                       lloyd_iters=lloyd_iters,
                                       id_col="vec_id", vec_col="pqv")
        raw_err = _pool_quantization_error(
            raw, books_raw, id_col="vec_id", vec_col="pqv")
        res_err = _pool_quantization_error(
            r, books_res, id_col="vec_id", vec_col="pqv")
        residual = bool(res_err < raw_err)
        books = books_res if residual else books_raw
        auto_info = {"raw_err": raw_err, "residual_err": res_err}
    elif residual:
        books = pq_train_codebooks(r, m=m, ksub=ksub, dim=dim,
                                   lloyd_iters=lloyd_iters,
                                   id_col="vec_id", vec_col="pqv")
    else:
        books = pq_train_codebooks(raw, m=m, ksub=ksub, dim=dim,
                                   lloyd_iters=lloyd_iters,
                                   id_col="vec_id", vec_col="pqv")
    side = {"codec": "ivfpq", "centroids": cents, "books": books,
            "residual": residual}
    if rotation is not None:
        side["rotation"] = _rotation_to_json(rotation)
    if auto_info is not None:
        side["residual_auto"] = auto_info
    return _write_index(embeddings, path, side,
                        id_col=id_col, vec_col=vec_col)


def _pool_quantization_error(embeddings: DataFrame,
                             books: list[list[list[float]]], *,
                             id_col: str = "vec_id",
                             vec_col: str = "embedding") -> float:
    """Total PQ quantization error over the deterministic 10k training
    pool: sum over pool vectors and subspaces of the round-9 squared
    L2 to the nearest codeword — the objective ``residual="auto"``
    compares. Driver-bounded numpy over the same pool
    ``pq_train_codebooks`` trains on."""
    m = len(books)
    dsub = len(books[0][0])
    sample = (
        embeddings.select(F.col(id_col).alias("i"),
                          as_double_array(F.col(vec_col)).alias("v"))
        .orderBy("i").limit(10_000)
        .collect()
    )
    pool = np.array([r["v"] for r in sample])
    total = 0.0
    for s in range(m):
        sub = pool[:, s * dsub:(s + 1) * dsub]
        cw = np.array(books[s])
        self_dot = np.einsum("ij,ij->i", sub, sub)
        cwdot = np.einsum("ij,ij->i", cw, cw)
        dmat = np.round(self_dot[:, None] - 2.0 * (sub @ cw.T)
                        + cwdot[None, :], 9)
        total += float(dmat.min(axis=1).sum())
    return total


def _ivfpq_probe(enc: DataFrame, q: DataFrame, cents, books, k: int, *,
                 nprobe: int, refine: int | None,
                 vecs: DataFrame | None,
                 residual: bool = False,
                 rotation: tuple[list[int], list[int]] | None = None
                 ) -> DataFrame:
    """The probe half of the ivfpq codec's ``search_index`` over an
    already-loaded (vec_id, codes, cell) table — shared with the
    continuous-ingest stream. Selects nprobe cells per query
    driver-side, restricts ``enc`` to the probed-cell union (a
    partition-column IN filter when ``enc`` comes straight off the index
    — directory pruning), then ADC-ranks via the cell equi-join. With
    ``residual`` the per-(query, cell) distance table is built from q −
    centroid[cell] — one table per probed cell, the §IV-A query-time
    cost — while the exact refine stage still compares RAW vectors
    (quantization never touches it). ``rotation`` rotates the
    query-table input into the codes' space (after the residual
    subtraction when both are set), mirroring ``_ivfpq_encode``; cell
    selection and refine stay raw.

    Physical form: the Arrow ADC-scan kernel — probe cells AND
    per-(query, cell) distance tables are computed driver-side from
    the collected query batch (the same boundedness as a broadcast;
    the partition-pruning ``cell IN`` filter on ``enc`` is kept), and
    the scan runs vectorized (``pq_arrow.adc_scan``, exact twin of
    ``_ivfpq_probe_fold``)."""
    rows = q.collect()
    qids = [r["query_id"] for r in rows]
    qv = np.array([[float(x) for x in r["qv"]] for r in rows],
                  dtype=np.float64)
    if not len(rows):
        return _pq_rank_tail(
            pq_arrow.adc_scan(enc, [], q.schema["query_id"].dataType,
                              cell_tables={}),
            q, k, refine=refine, vecs=vecs)
    probes = pq_arrow.select_probe_cells(qv, cents, nprobe)
    probe_cells = sorted({c for ps in probes for c in ps})
    enc = enc.filter(F.col("cell").isin(probe_cells))
    C = np.asarray(cents, dtype=np.float64)
    cell_tables = {}
    for c in probe_cells:
        qpos = np.array([i for i, ps in enumerate(probes) if c in ps])
        sub = qv[qpos]
        if residual:
            sub = sub - C[c]
        sub = pq_arrow.np_rotate(sub, rotation)
        cell_tables[c] = (qpos, pq_arrow.query_table(sub, books))
    scored = pq_arrow.adc_scan(enc, qids, q.schema["query_id"].dataType,
                               cell_tables=cell_tables)
    return _pq_rank_tail(scored, q, k, refine=refine, vecs=vecs)


def _ivfpq_probe_fold(enc: DataFrame, q: DataFrame, cents, books, k: int,
                      *, nprobe: int, refine: int | None,
                      vecs: DataFrame | None, residual: bool = False,
                      rotation: tuple[list[int], list[int]] | None = None
                      ) -> DataFrame:
    """Reference form of ``_ivfpq_probe``: probe selection, residual
    and distance tables as column expressions, joined on cell. Parity
    tests swap it in."""
    qc = (_attach_centroids(q, cents)
          .withColumn("_scores", _cell_scores(F.col("qv"))))
    idx = F.sequence(F.lit(0), F.lit(len(cents) - 1))
    pairs = F.zip_with(qc["_scores"], idx,
                       lambda s, i: F.struct(s.alias("s"), i.alias("i")))
    probes = F.slice(F.reverse(F.array_sort(pairs)), 1, nprobe)
    qe = (qc.withColumn("cell",
                        F.explode(F.transform(probes, lambda p: p["i"])))
          .withColumn("cell", F.col("cell").cast("int")).drop("_scores"))
    if residual:
        qe = qe.withColumn("qv", _residual(F.col("qv")))
    qe = _apply_rotation(qe, "qv", rotation)
    qe = qe.drop("_cents")

    probe_cells = sorted(
        {r["cell"] for r in qe.select("cell").distinct().collect()})
    enc = enc.filter(F.col("cell").isin(probe_cells))

    qt = _pq_query_table(qe, books, extra=("cell",))
    scored = (enc.join(F.broadcast(qt), "cell")
              .select("query_id", "vec_id",
                      F.round(_pq_adc_expr(), 6).alias("adc_d2")))
    return _pq_rank_tail(scored, q, k, refine=refine, vecs=vecs)


# --------------------------------------------------------------------------
# Binary quantization (sign-bit codes + Hamming shortlist)
#
# The 1-bit analogue of the PQ family: each dimension contributes one
# sign bit, packed 64 bits to a long, so a d-dim vector compresses to
# d/64 longs (64 floats -> 1 long, a 256x cut vs float32 x4). Hamming
# distance over the packed words (bit_count of XOR) is a monotone proxy
# for angular distance on zero-centered embeddings; an exact-cosine
# refine over the Hamming shortlist restores exact ranking. This is the
# memory-bandwidth-optimal scan shape at 100 TB: the shortlist pass
# reads ONLY the packed signature column (columnar pruning leaves the
# float vectors untouched), and the refine pass joins back just the
# R x Q shortlisted true vectors.

def binarize_embeddings(df: DataFrame, *, id_col: str = "vec_id",
                        vec_col: str = "embedding", dim: int,
                        threshold: float = 0.0,
                        out_col: str = "sig") -> DataFrame:
    """(id, sig: array<long>) — bit j of word w set iff
    vec[w*64 + j] > threshold. Map-only JVM column expressions
    (transform-with-index + shiftleft + bitwise OR fold); no Python.
    (Measured r13: the Arrow twin LOST here — bit packing is cheap
    enough that the Python stage costs more than it saves; see
    OPTIMIZATION_r13.md.)"""
    n_words = (dim + 63) // 64
    v = as_double_array(F.col(vec_col))
    words = []
    for w in range(n_words):
        bits = F.slice(v, w * 64 + 1, min(64, dim - w * 64))
        packed = F.aggregate(
            F.transform(
                bits,
                lambda x, i: F.when(
                    x > F.lit(float(threshold)),
                    # F.shiftleft only takes a literal bit count; the SQL
                    # function accepts a column second arg
                    F.call_function("shiftleft", F.lit(1).cast("long"), i))
                .otherwise(F.lit(0).cast("long"))),
            F.lit(0).cast("long"),
            lambda acc, b: acc.bitwiseOR(b))
        words.append(packed)
    return df.select(F.col(id_col).alias("vec_id"),
                     F.array(*words).alias(out_col))


def hamming(sig_a: Column, sig_b: Column) -> Column:
    """Popcount of XOR across packed words — exact integer arithmetic."""
    return F.aggregate(
        F.zip_with(sig_a, sig_b, lambda a, b: F.bit_count(a.bitwiseXOR(b))),
        F.lit(0).cast("long"), lambda acc, x: acc + x.cast("long"))


def hamming_topk(embeddings: DataFrame, queries: DataFrame, k: int = 10, *,
                 dim: int, threshold: float = 0.0, refine: int | None = None,
                 id_col: str = "vec_id", vec_col: str = "embedding",
                 query_id_col: str = "query_id",
                 query_vec_col: str = "query_vec") -> DataFrame:
    """Top-k by Hamming distance over sign-bit signatures; with
    ``refine=R`` the R-deep Hamming shortlist is exact-cosine re-ranked
    (true vectors joined back for shortlist ids only) and the final
    top-k ordering is (cosine DESC, vec_id) — the ``pq_adc_topk``
    refine contract. Deterministic throughout: Hamming ties break on
    vec_id.

    Plan shape: corpus binarizes map-side, query signatures broadcast,
    one top-k window per query — the ``cosine_topk`` envelope with the
    per-pair work cut from d multiplies to d/64 XOR+popcounts."""
    e = binarize_embeddings(ensure_parallelism(embeddings), id_col=id_col,
                            vec_col=vec_col, dim=dim, threshold=threshold)
    vecs = None
    if refine is not None:
        vecs = embeddings.select(F.col(id_col).alias("vec_id"),
                                 as_double_array(F.col(vec_col)).alias("_cv"))
    return _hamming_rank(e, queries, k, dim=dim, threshold=threshold,
                         refine=refine, vecs=vecs,
                         query_id_col=query_id_col,
                         query_vec_col=query_vec_col)


def _hamming_rank(sig_table: DataFrame, queries: DataFrame, k: int, *,
                  dim: int, threshold: float, refine: int | None,
                  vecs: DataFrame | None,
                  query_id_col: str = "query_id",
                  query_vec_col: str = "query_vec") -> DataFrame:
    """Shared rank body for the one-shot and persisted-index forms:
    (sig_table: vec_id, sig) × broadcast query signatures → Hamming
    window, optional exact-cosine refine over the shortlist."""
    q = binarize_embeddings(queries, id_col=query_id_col,
                            vec_col=query_vec_col, dim=dim,
                            threshold=threshold, out_col="qsig") \
        .withColumnRenamed("vec_id", "query_id")
    scored = sig_table.crossJoin(F.broadcast(q)).select(
        "query_id", "vec_id",
        hamming(F.col("sig"), F.col("qsig")).alias("hamming_dist"))
    w = Window.partitionBy("query_id").orderBy("hamming_dist", "vec_id")
    if refine is None:
        return (scored.withColumn("rank", F.row_number().over(w))
                .filter(F.col("rank") <= k)
                .select("query_id", "vec_id", "hamming_dist", "rank"))
    short = (scored.withColumn("_hr", F.row_number().over(w))
             .filter(F.col("_hr") <= refine)
             .drop("_hr"))
    qv = queries.select(F.col(query_id_col).alias("query_id"),
                        as_double_array(F.col(query_vec_col)).alias("_qv"))
    ref = (short.join(vecs, on="vec_id").join(F.broadcast(qv), on="query_id")
           .select("query_id", "vec_id", "hamming_dist",
                   F.round(cosine(F.col("_cv"), F.col("_qv")), 6)
                   .alias("cosine_sim")))
    rw = Window.partitionBy("query_id").orderBy(F.col("cosine_sim").desc(),
                                                F.col("vec_id"))
    return (ref.withColumn("rank", F.row_number().over(rw))
            .filter(F.col("rank") <= k)
            .select("query_id", "vec_id", "hamming_dist", "cosine_sim",
                    "rank"))


def bq_write_index(embeddings: DataFrame, path: str, *, dim: int,
                   threshold: float = 0.0, id_col: str = "vec_id",
                   vec_col: str = "embedding") -> dict:
    """Persist a binary-quantization index: the packed sign-bit
    signature table (vec_id, sig: d/64 longs — 256× smaller than
    float32×4) under ``{path}/base``, (dim, threshold) in the sidecar.
    Unlike PQ there is NO training state — the signature of a vector
    is a pure function of (vector, threshold) — so appends need no
    frozen-codebook discipline and the index can never drift from its
    quantizer."""
    return _write_index(ensure_parallelism(embeddings), path,
                        {"codec": "bq", "dim": dim, "threshold": threshold},
                        id_col=id_col, vec_col=vec_col)


# --------------------------------------------------------------------------
# SQ8 symmetric scalar quantization
#
# Per-dimension affine quantization to uint8 (the faiss
# ScalarQuantizer QT_8bit shape): code = floor((x - min_d) * 255 /
# (max_d - min_d) + 0.5), clamped to [0, 255]. SYMMETRIC distance
# (query quantized with the same grid) keeps the whole scan in exact
# integer arithmetic — sum of squared code deltas — so the ranking is
# bit-reproducible on any engine (the asymmetric float form trades
# that for slightly better recall; here exactness wins because the
# oracle gate demands it and the refine pass restores true ranking
# anyway). Train stats are per-dim MIN/MAX — exact, order-independent
# aggregates (never mean/std, which are float-fold order-dependent).

def sq8_train(embeddings: DataFrame, *, dim: int,
              vec_col: str = "embedding") -> tuple[list[float], list[float]]:
    """Per-dim (min, max) over the corpus — one aggregate scan, 2*dim
    doubles to the driver (bounded metadata, like the PQ 10k pool)."""
    v = as_double_array(F.col(vec_col))
    aggs = []
    for d in range(dim):
        aggs.append(F.min(v[d]).alias(f"mn{d}"))
        aggs.append(F.max(v[d]).alias(f"mx{d}"))
    row = embeddings.agg(*aggs).collect()[0]
    if row["mn0"] is None:
        raise ValueError("sq8_train: empty corpus (no rows to train "
                         "the per-dim grid on)")
    mins = [float(row[f"mn{d}"]) for d in range(dim)]
    maxs = [float(row[f"mx{d}"]) for d in range(dim)]
    return mins, maxs


def _sq8_attach_grid(df: DataFrame, mins: list[float],
                     maxs: list[float]) -> DataFrame:
    """Grid as ONE broadcast data column (literal-array codegen is
    ~30ms/KB per query — see the centroid lesson, r4b)."""
    spark = df.sparkSession
    grid = spark.createDataFrame(
        [(list(map(float, mins)), list(map(float, maxs)))],
        "_sq_mins array<double>, _sq_maxs array<double>")
    return df.crossJoin(F.broadcast(grid))


def sq8_encode_col(vec: Column, mins: Column, maxs: Column) -> Column:
    """codes: array<int> — floor((x-mn)*255/(mx-mn)+0.5) clamped;
    degenerate dims (mx == mn) encode 0. The +0.5-floor idiom is used
    instead of round() because floor is HALF-mode-free and identical
    across engines (Spark rounds HALF_UP, DuckDB HALF_EVEN)."""
    return F.zip_with(
        vec, F.zip_with(mins, maxs, lambda a, b: F.struct(a.alias("mn"),
                                                          b.alias("mx"))),
        lambda x, g: F.when(
            g["mx"] > g["mn"],
            F.greatest(F.lit(0).cast("int"), F.least(
                F.lit(255).cast("int"),
                F.floor((x - g["mn"]) * F.lit(255.0) / (g["mx"] - g["mn"])
                        + F.lit(0.5)).cast("int")))
        ).otherwise(F.lit(0).cast("int")))


def _sq8_encode_df(df: DataFrame, mins, maxs, *, id_col: str,
                   vec_col: str) -> DataFrame:
    """(vec_id, codes) under the frozen grid — the Arrow kernel
    ``pq_arrow.encode_sq8``, the same IEEE ops as ``_sq8_encode_fold``."""
    return pq_arrow.encode_sq8(df, mins, maxs, id_col=id_col,
                               vec_col=vec_col)


def _sq8_encode_fold(df: DataFrame, mins, maxs, *, id_col: str,
                     vec_col: str) -> DataFrame:
    """Reference form of ``_sq8_encode_df``: the broadcast-grid
    ``sq8_encode_col`` expression. Parity tests swap it in."""
    return _sq8_attach_grid(
        df.select(F.col(id_col).alias("vec_id"),
                  as_double_array(F.col(vec_col)).alias("_v")),
        mins, maxs
    ).select("vec_id", sq8_encode_col(F.col("_v"), F.col("_sq_mins"),
                                      F.col("_sq_maxs")).alias("codes"))


def sq8_topk(embeddings: DataFrame, queries: DataFrame, k: int = 10, *,
             dim: int, train: tuple[list[float], list[float]] | None = None,
             refine: int | None = None,
             id_col: str = "vec_id", vec_col: str = "embedding",
             query_id_col: str = "query_id",
             query_vec_col: str = "query_vec") -> DataFrame:
    """Top-k by symmetric SQ8 squared distance (integer-exact), ties to
    the lowest vec_id; ``refine=R`` re-ranks the R-deep shortlist by
    exact cosine. Corpus encodes map-side under the broadcast grid;
    only (query, vec, dist) rows shuffle."""
    if train is None:
        train = sq8_train(embeddings, dim=dim, vec_col=vec_col)
    mins, maxs = train
    e = _sq8_encode_df(ensure_parallelism(embeddings), mins, maxs,
                       id_col=id_col, vec_col=vec_col)
    vecs = None
    if refine is not None:
        vecs = embeddings.select(F.col(id_col).alias("vec_id"),
                                 as_double_array(F.col(vec_col)).alias("_cv"))
    return _sq8_rank(e, queries, k, train=train, refine=refine, vecs=vecs,
                     query_id_col=query_id_col,
                     query_vec_col=query_vec_col)


def _sq8_scores(codes_table: DataFrame, queries: DataFrame,
                train: tuple[list[float], list[float]], *,
                query_id_col: str, query_vec_col: str) -> DataFrame:
    """(query_id, vec_id, sq8_dist) for every (query, code row): the
    query codes are computed driver-side from the collected query
    batch and the integer scan runs in the Arrow kernel
    (``pq_arrow.int_scan``, exact twin of ``_sq8_scores_fold``)."""
    mins, maxs = train
    qrows = (queries.select(F.col(query_id_col).alias("query_id"),
                            as_double_array(F.col(query_vec_col))
                            .alias("_qv")).collect())
    qv = np.array([[float(x) for x in r["_qv"]] for r in qrows],
                  dtype=np.float64)
    qcodes = (pq_arrow.sq8_codes_np(qv, mins, maxs) if len(qrows)
              else np.zeros((0, len(mins)), dtype=np.int64))
    return pq_arrow.int_scan(
        codes_table, [r["query_id"] for r in qrows], qcodes,
        queries.select(F.col(query_id_col).alias("q")).schema["q"]
        .dataType, code_col="codes", out_col="sq8_dist", metric="sq8")


def _sq8_scores_fold(codes_table: DataFrame, queries: DataFrame,
                     train: tuple[list[float], list[float]], *,
                     query_id_col: str, query_vec_col: str) -> DataFrame:
    """Reference form of ``_sq8_scores``: broadcast query codes and an
    integer fold expression. Parity tests swap it in."""
    mins, maxs = train
    q = _sq8_attach_grid(
        queries.select(F.col(query_id_col).alias("query_id"),
                       as_double_array(F.col(query_vec_col))
                       .alias("_qv")),
        mins, maxs
    ).select("query_id",
             sq8_encode_col(F.col("_qv"), F.col("_sq_mins"),
                            F.col("_sq_maxs")).alias("qcodes"))
    return codes_table.crossJoin(F.broadcast(q)).select(
        "query_id", "vec_id",
        F.aggregate(
            F.zip_with(F.col("codes"), F.col("qcodes"),
                       lambda a, b: ((a - b) * (a - b)).cast("long")),
            F.lit(0).cast("long"), lambda acc, x: acc + x)
        .alias("sq8_dist"))


def _sq8_rank(codes_table: DataFrame, queries: DataFrame, k: int, *,
              train: tuple[list[float], list[float]],
              refine: int | None, vecs: DataFrame | None,
              query_id_col: str = "query_id",
              query_vec_col: str = "query_vec") -> DataFrame:
    """Shared rank body for the one-shot and persisted-index SQ8 forms:
    (codes_table: vec_id, codes) × broadcast query codes → integer
    distance window, optional exact-cosine refine."""
    scored = _sq8_scores(codes_table, queries, train,
                         query_id_col=query_id_col,
                         query_vec_col=query_vec_col)
    w = Window.partitionBy("query_id").orderBy("sq8_dist", "vec_id")
    if refine is None:
        return (scored.withColumn("rank", F.row_number().over(w))
                .filter(F.col("rank") <= k)
                .select("query_id", "vec_id", "sq8_dist", "rank"))
    short = (scored.withColumn("_sr", F.row_number().over(w))
             .filter(F.col("_sr") <= refine).drop("_sr"))
    qv = queries.select(F.col(query_id_col).alias("query_id"),
                        as_double_array(F.col(query_vec_col)).alias("_qv"))
    ref = (short.join(vecs, on="vec_id").join(F.broadcast(qv), on="query_id")
           .select("query_id", "vec_id", "sq8_dist",
                   F.round(cosine(F.col("_cv"), F.col("_qv")), 6)
                   .alias("cosine_sim")))
    rw = Window.partitionBy("query_id").orderBy(F.col("cosine_sim").desc(),
                                                F.col("vec_id"))
    return (ref.withColumn("rank", F.row_number().over(rw))
            .filter(F.col("rank") <= k)
            .select("query_id", "vec_id", "sq8_dist", "cosine_sim", "rank"))


def cosine_topk_gemm(embeddings: DataFrame, queries: DataFrame,
                     k: int = 10, *,
                     id_col: str = "vec_id", vec_col: str = "embedding",
                     query_id_col: str = "query_id",
                     query_vec_col: str = "query_vec") -> DataFrame:
    """Brute-force cosine top-k via blocked matrix multiply — the
    LARGE-QUERY-SET twin of ``cosine_topk``.

    ``cosine_topk``'s per-pair fold expressions are the right shape for
    a handful of queries (broadcast, map-side, oracle-exact
    sequential folds), but at Q in the hundreds-plus the JVM evaluates
    Q·N fold lambdas; here each corpus partition instead runs ONE numpy
    GEMM (Arrow batch × broadcast query matrix — BLAS, ~100 GFLOP/s per
    core) and emits only its per-partition top-k per query, so the
    shuffle carries ≤ partitions·Q·k rows and the final window
    resolves the global top-k. Measured on the 20k-vector fixture,
    k=10: Q=2,000 fold 69.8 s vs GEMM 1.2 s steady (×58); the full
    20k×20k corpus×corpus (400M pairs) GEMM runs in 6.4 s where the
    fold form extrapolates to ~12 minutes (SCALING.md).

    The query matrix collects to the driver (Q·dim·8 bytes — the
    documented bound; at Q beyond ~10⁵ rows switch to the ANN family).
    np.dot's pairwise summation differs from the sequential fold in
    the last ulp, so this variant is pytest-parity-gated against
    ``cosine_topk`` (identical output on the fixture corpora at
    round-6) rather than DuckDB-oracle-gated — use ``cosine_topk``
    where exact-oracle discipline matters, this where Q·N does.
    Ties break (cosine DESC, vec_id) like every ranker here. Id columns
    are type-agnostic (long / string / UUID-as-string): the output
    schema derives from the input schemas and ids are never coerced.
    """
    import pandas as pd
    from pyspark.sql import types as T

    # id columns keep their INPUT types (long, string, UUID-as-string…)
    # end to end — the schema derives from the inputs and the pandas
    # side never coerces ids to int64, matching the id-agnostic
    # contract of cosine_topk and every other ranker in this module
    qid_type = queries.schema[query_id_col].dataType
    vid_type = embeddings.schema[id_col].dataType
    partial_schema = T.StructType([
        T.StructField("query_id", qid_type),
        T.StructField("vec_id", vid_type),
        T.StructField("cosine_sim", T.DoubleType()),
    ])
    q_rows = queries.select(F.col(query_id_col).alias("query_id"),
                            as_double_array(F.col(query_vec_col))
                            .alias("qv")).collect()
    if not q_rows:
        return embeddings.sparkSession.createDataFrame(
            [], partial_schema.add("rank", T.IntegerType()))
    q_ids = np.array([r.query_id for r in q_rows], dtype=object)
    Q = np.array([r.qv for r in q_rows], dtype="float64")
    qn = np.linalg.norm(Q, axis=1)
    qn[qn == 0] = 1.0
    Qt = (Q / qn[:, None]).T  # dim × Q, pre-normalized
    sc = embeddings.sparkSession.sparkContext
    bq = sc.broadcast((q_ids, Qt))

    def part(batches):
        q_ids_l, Qt_l = bq.value
        nq = len(q_ids_l)
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.array(pdf["_v"].to_list(), dtype="float64")
            ids = pdf["vec_id"].to_numpy()  # native dtype — ids stay as-is
            xn = np.linalg.norm(X, axis=1)
            xn[xn == 0] = 1.0
            # round BEFORE selection so partition-level tie-breaks see
            # the same values the global window ranks on
            S = np.round((X / xn[:, None]) @ Qt_l, 6)  # n × Q
            n = len(ids)
            kk = min(k, n)
            q_out, v_out, s_out = [], [], []
            for j in range(nq):
                col = S[:, j]
                if kk < n:
                    cand = np.argpartition(-col, kk - 1)[:kk]
                    # ties at the boundary: argpartition picks an
                    # arbitrary subset of equal sims — widen to ALL
                    # rows at ≥ the boundary value, then break exactly
                    cand = np.where(col >= col[cand].min())[0]
                else:
                    cand = np.arange(n)
                order = cand[np.lexsort((ids[cand], -col[cand]))][:kk]
                q_out.append(np.full(len(order), q_ids_l[j],
                                     dtype=object))
                v_out.append(ids[order])
                s_out.append(col[order])
            yield pd.DataFrame({
                "query_id": np.concatenate(q_out),
                "vec_id": np.concatenate(v_out),
                "cosine_sim": np.concatenate(s_out),
            })

    e = ensure_parallelism(embeddings).select(
        F.col(id_col).alias("vec_id"),
        as_double_array(F.col(vec_col)).alias("_v"))
    partial = e.mapInPandas(part, partial_schema)
    w = Window.partitionBy("query_id").orderBy(F.col("cosine_sim").desc(),
                                               F.col("vec_id"))
    return (partial.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "vec_id", "cosine_sim", "rank"))


def sq8_write_index(embeddings: DataFrame, path: str, *, dim: int,
                    id_col: str = "vec_id",
                    vec_col: str = "embedding") -> dict:
    """Persist an SQ8 index: uint8 code table under ``{path}/base``,
    the trained per-dim (min, max) grid in the sidecar — the
    4×-compression rung of the persisted ladder. The grid trains on
    THIS corpus (exact min/max aggregates) and is frozen: appends
    encode under it so existing codes stay valid (out-of-range values
    clamp to the edge cells — the standard SQ drift behavior; rebuild
    when drift warrants)."""
    mins, maxs = sq8_train(embeddings, dim=dim, vec_col=vec_col)
    return _write_index(ensure_parallelism(embeddings), path,
                        {"codec": "sq8", "dim": dim, "mins": mins,
                         "maxs": maxs},
                        id_col=id_col, vec_col=vec_col)


# --------------------------------------------------------------------------
# Persisted vector indexes: one lifecycle, five codecs
#
# A codec is what really differs between the index families: how the
# trained state in its sidecar encodes a frame to (vec_id, codes…[,
# cell]), and how it ranks those codes against queries. The rest is
# written once below: ``{path}/_index.json`` (the sidecar, naming its
# codec), the code table under ``{path}/base`` (partitioned by cell
# when the codec has cells, so a probe's ``cell IN (...)`` prunes
# directories), the single-encode append, and the code-table read that
# ``streaming.ann``'s ingest stream extends with
# ``{path}/stream/_batch_id=N``.

_SIDECAR = "_index.json"


class _Codec(NamedTuple):
    encode: Callable   # (df, side, id_col, vec_col) -> code frame
    rank: Callable     # (enc, q, side, k, *, nprobe, refine, vecs) -> top-k
    codes: tuple       # code-table columns between vec_id and cell
    cells: bool        # base/ is partitioned by cell; search takes nprobe=
    refines: bool      # search takes refine= (re-rank against vectors=)


def _pq_encode_side(df, side, id_col, vec_col):
    return pq_encode(df, side["books"], id_col=id_col, vec_col=vec_col,
                     rotation=_side_rotation(side))


def _pq_rank_side(enc, q, side, k, *, nprobe, refine, vecs):
    return _pq_adc_rank(enc, q, side["books"], k, refine=refine, vecs=vecs,
                        rotation=_side_rotation(side))


def _ivfpq_encode_side(df, side, id_col, vec_col):
    return _ivfpq_encode(df, side["centroids"], side["books"],
                         residual=side["residual"],
                         rotation=_side_rotation(side),
                         id_col=id_col, vec_col=vec_col)


def _ivfpq_rank_side(enc, q, side, k, *, nprobe, refine, vecs):
    return _ivfpq_probe(enc, q, side["centroids"], side["books"], k,
                        nprobe=nprobe, refine=refine, vecs=vecs,
                        residual=side["residual"],
                        rotation=_side_rotation(side))


def _bq_encode_side(df, side, id_col, vec_col):
    return binarize_embeddings(df, id_col=id_col, vec_col=vec_col,
                               dim=side["dim"], threshold=side["threshold"])


def _bq_rank_side(enc, q, side, k, *, nprobe, refine, vecs):
    return _hamming_rank(enc, q, k, dim=side["dim"],
                         threshold=side["threshold"], refine=refine,
                         vecs=vecs, query_vec_col="qv")


def _sq8_encode_side(df, side, id_col, vec_col):
    return _sq8_encode_df(df, side["mins"], side["maxs"], id_col=id_col,
                          vec_col=vec_col)


def _sq8_rank_side(enc, q, side, k, *, nprobe, refine, vecs):
    return _sq8_rank(enc, q, k, train=(side["mins"], side["maxs"]),
                     refine=refine, vecs=vecs, query_vec_col="qv")


_CODECS = {
    "ivf": _Codec(_ivf_encode, _ivf_rank, ("vec",), True, False),
    "pq": _Codec(_pq_encode_side, _pq_rank_side, ("codes",), False, True),
    "ivfpq": _Codec(_ivfpq_encode_side, _ivfpq_rank_side, ("codes",),
                    True, True),
    "bq": _Codec(_bq_encode_side, _bq_rank_side, ("sig",), False, True),
    "sq8": _Codec(_sq8_encode_side, _sq8_rank_side, ("codes",), False, True),
}


def _read_sidecar(path: str) -> dict:
    with open(os.path.join(path, _SIDECAR)) as f:
        return json.load(f)


def _write_codes(enc: DataFrame, dest: str, side: dict, mode: str) -> None:
    w = enc.write.mode(mode)
    if _CODECS[side["codec"]].cells:
        w = w.partitionBy("cell")
    w.parquet(dest)


def _write_index(embeddings: DataFrame, path: str, side: dict, *,
                 id_col: str, vec_col: str) -> dict:
    """The one write every ``<family>_write_index`` ends in: encode the
    corpus under the trained ``side``, overwrite ``{path}/base``, then
    write the sidecar. Returns the sidecar."""
    enc = _CODECS[side["codec"]].encode(embeddings, side, id_col, vec_col)
    _write_codes(enc, os.path.join(path, "base"), side, "overwrite")
    with open(os.path.join(path, _SIDECAR), "w") as f:
        json.dump(side, f)
    return side


def append_index(embeddings: DataFrame, path: str, *,
                 id_col: str = "vec_id", vec_col: str = "embedding") -> int:
    """Append a NEW batch of vectors to a persisted index of any codec
    without touching the existing data: the batch encodes under the
    sidecar's FROZEN state (centroids, codebooks, rotation, grid,
    threshold — never retrained, so existing codes stay valid; rebuild
    when drift warrants) and the write appends only the new rows, into
    their cell partitions when the codec has cells. Every prior file
    stays byte-identical; cost is O(batch), never O(corpus).

    The encoded batch is persisted so the row count and the write read
    ONE encode. Returns the number of vectors appended."""
    side = _read_sidecar(path)
    enc = _CODECS[side["codec"]].encode(embeddings, side, id_col, vec_col)
    enc.persist()
    try:
        n = enc.count()
        _write_codes(enc, os.path.join(path, "base"), side, "append")
    finally:
        enc.unpersist()
    return n


def _read_codes(spark, path: str, side: dict, *,
                max_stream_batch: int | None = None) -> DataFrame:
    """The full code table of a persisted index: ``base`` plus, when
    the continuous-ingest stream has appended any,
    ``stream/_batch_id=N`` (``…/cell=C`` for cell codecs).
    ``max_stream_batch`` (exclusive) keeps only STRICTLY EARLIER stream
    batches — the replay-stability filter of
    ``streaming.ann.ingest_batch``."""
    codec = _CODECS[side["codec"]]
    cols = ("vec_id", *codec.codes, *(("cell",) if codec.cells else ()))
    enc = spark.read.parquet(os.path.join(path, "base")).select(*cols)
    stream_root = os.path.join(path, "stream")
    if os.path.isdir(stream_root):
        s = spark.read.parquet(stream_root)
        if max_stream_batch is not None:
            s = s.filter(F.col("_batch_id") < max_stream_batch)
        enc = enc.unionByName(s.select(*cols))
    return enc


def _search_codes(enc: DataFrame, side: dict, queries: DataFrame, k: int,
                  *, nprobe: int | None, refine: int | None,
                  vectors: DataFrame | None, id_col: str, vec_col: str,
                  query_id_col: str, query_vec_col: str) -> DataFrame:
    """Rank a loaded code table against ``queries`` with the sidecar's
    codec; rejects the arguments that codec cannot use."""
    name = side["codec"]
    codec = _CODECS[name]
    if nprobe is not None and not codec.cells:
        raise ValueError(f"nprobe={nprobe}: the {name} codec has no "
                         f"cells, its scan reads every code")
    if refine is not None and not codec.refines:
        raise ValueError(f"refine={refine}: the {name} codec already "
                         f"ranks by exact cosine")
    if refine is not None and vectors is None:
        raise ValueError("refine mode needs vectors= (the corpus table "
                         "with the true vectors)")
    q = queries.select(F.col(query_id_col).alias("query_id"),
                       as_double_array(F.col(query_vec_col)).alias("qv"))
    vecs = None
    if refine is not None:
        vecs = vectors.select(F.col(id_col).alias("vec_id"),
                              as_double_array(F.col(vec_col)).alias("_cv"))
    return codec.rank(enc, q, side, k,
                      nprobe=4 if nprobe is None else nprobe,
                      refine=refine, vecs=vecs)


def search_index(spark, path: str, queries: DataFrame, k: int = 10, *,
                 nprobe: int | None = None, refine: int | None = None,
                 vectors: DataFrame | None = None,
                 id_col: str = "vec_id", vec_col: str = "embedding",
                 query_id_col: str = "query_id",
                 query_vec_col: str = "query_vec") -> DataFrame:
    """Probe a persisted index with the codec its sidecar names.

    - ``ivf``: exact cosine within each query's ``nprobe`` nearest
      cells → (query_id, vec_id, cosine_sim, rank).
    - ``pq``: ADC lookup-sum over every code → (…, adc_d2, rank).
    - ``ivfpq``: ADC within the ``nprobe`` nearest cells (residual and
      rotation as pinned) → (…, adc_d2, rank).
    - ``bq``: Hamming over the packed signatures → (…, hamming_dist,
      rank).
    - ``sq8``: integer squared distance of the symmetric codes →
      (…, sq8_dist, rank).

    Cell codecs read only the probed ``cell=C`` directories; ``nprobe``
    defaults to 4 there and is a ``ValueError`` elsewhere. ``refine=R``
    (every codec but ivf, whose scan is already exact) re-ranks each
    query's R-deep shortlist against ``vectors`` — the corpus table of
    TRUE vectors, touched only for the R·Q shortlisted ids: pq/ivfpq
    add ``exact_d2`` (squared L2), bq/sq8 add ``cosine_sim``. Output
    rows equal the one-shot operators' (``ivf_topk``,
    ``pq_adc_topk``, ``hamming_topk``, ``sq8_topk``) for the same
    trained state; ties break to the lowest id."""
    side = _read_sidecar(path)
    return _search_codes(_read_codes(spark, path, side), side, queries, k,
                         nprobe=nprobe, refine=refine, vectors=vectors,
                         id_col=id_col, vec_col=vec_col,
                         query_id_col=query_id_col,
                         query_vec_col=query_vec_col)
