"""Continuous-ingest similarity search: per-micro-batch ANN probe +
index maintenance over a persisted vector index.

The batch lifecycle (``functions.similarity``'s ``<family>_write_index``
/ ``append_index`` / ``search_index``) covers build-time and periodic
maintenance; this module covers the case where embeddings ARRIVE as a
stream (fresh crawl vectors, embedding-service output) and each batch
must (1) find its nearest neighbors among EVERYTHING ingested earlier
and (2) join the index itself — the similarity-search twin of
``streaming.corpus.start_neardup_candidates_stream``, under the same
replay discipline:

- probe strictly-earlier state only (``_batch_id < batch_id``): on a
  crash REPLAY this batch's own codes are already on disk, and
  including them would change the candidate set vs the first run
  (every vector would match itself at distance 0);
- both the probe output and the index append land under explicit
  ``_batch_id=N`` directories with mode("overwrite") — a replayed
  batch rewrites its own directories idempotently (the late.py
  pattern, shared with the quality monitor and neardup streams).

Any codec ingests; the index's sidecar picks the encoder and the
probe, and cell codecs (ivf, ivfpq) append under
``stream/_batch_id=N/cell=C`` so later probes keep directory-level
pruning over streamed rows too. For the ADC codecs (pq, ivfpq) the
streaming probe is the raw ADC scan (codes only — dim·8 bytes/vector
never move), and EXACT re-ranking of the accumulated candidate log is
a periodic batch job (``rerank_candidate_log``) — the same
continuous/periodic split the neardup stream makes between candidate
generation and exact verification, and the reference makes between
its data plane and compaction. A second periodic job,
``fold_stream``, compacts the accumulated ``stream/_batch_id=N``
directories so probe-side file counts stay flat on a long-lived
ingest (the ``compact_minhash_index`` discipline).

Per-batch cost is O(batch · index-codes): the scan reads only the
code table, the trained state broadcasts once, and the only shuffle
is the per-query top-k window. The corpus's raw vectors are never
rescanned.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.similarity import (_CODECS, _maxsim_rank, _maxsim_scores,
                                    _read_codes, _read_sidecar,
                                    _search_codes, _write_codes,
                                    as_double_array)


def ingest_batch(batch_df: DataFrame, batch_id: int, *, index_path: str,
                 out_path: str, k: int = 10, nprobe: int | None = None,
                 id_col: str = "vec_id",
                 vec_col: str = "embedding") -> None:
    """One micro-batch of the ingest stream, public so a crash REPLAY
    is directly testable: probe the index as it stood BEFORE this
    batch (base + stream batches < batch_id; ``nprobe`` cells per query
    for cell codecs, as in ``search_index``), write this batch's top-k
    under ``out/_batch_id=N``, then append this batch's codes under
    ``index/stream/_batch_id=N`` — both overwrites, so a re-run of the
    same (rows, batch_id) rewrites itself byte-for-byte."""
    spark = batch_df.sparkSession
    side = _read_sidecar(index_path)
    prior = _read_codes(spark, index_path, side, max_stream_batch=batch_id)
    hits = _search_codes(prior, side, batch_df, k, nprobe=nprobe,
                         refine=None, vectors=None, id_col=id_col,
                         vec_col=vec_col, query_id_col=id_col,
                         query_vec_col=vec_col)
    hits.write.mode("overwrite").parquet(
        os.path.join(out_path, f"_batch_id={batch_id}"))

    own = _CODECS[side["codec"]].encode(batch_df, side, id_col, vec_col)
    _write_codes(own, os.path.join(index_path, "stream",
                                   f"_batch_id={batch_id}"),
                 side, "overwrite")


def start_ingest_stream(
    embeddings: DataFrame, *, index_path: str, out_path: str,
    checkpoint_path: str, k: int = 10, nprobe: int | None = None,
    id_col: str = "vec_id", vec_col: str = "embedding",
    available_now: bool = False,
):
    """Continuous ingest over a stream of embedding rows. The index at
    ``index_path`` must exist (a ``<family>_write_index`` — its trained
    state is frozen there; stream batches encode with it, never
    retrain). Returns the StreamingQuery."""
    def process(batch_df, batch_id: int) -> None:
        ingest_batch(batch_df, batch_id, index_path=index_path,
                     out_path=out_path, k=k, nprobe=nprobe,
                     id_col=id_col, vec_col=vec_col)

    writer = (embeddings.writeStream.foreachBatch(process)
              .option("checkpointLocation", checkpoint_path))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def _checkpoint_committed_through(checkpoint_path: str) -> int:
    """Highest batch id of the CONTIGUOUS committed prefix in the
    checkpoint's ``commits/`` directory — Spark writes ``commits/N``
    only after batch N's foreachBatch completed, so this listing is
    the authoritative record of what will NOT replay. The contiguous
    prefix (not the bare max) guards a manually-pruned or corrupted
    commit log: a gap means Spark could replay from the gap, so
    batches above it must stay fold-protected (ADVICE r10). Spark's
    own retention keeps a contiguous recent window, so on a healthy
    checkpoint prefix == max. Returns -1 when nothing is committed
    yet (the fold then protects every batch)."""
    commits = os.path.join(checkpoint_path, "commits")
    if not os.path.isdir(commits):
        return -1
    ids = sorted(int(f) for f in os.listdir(commits) if f.isdigit())
    if not ids:
        return -1
    # Spark deletes OLD commit files per its retention policy, so the
    # prefix starts at the lowest RETAINED id, and ids below it are
    # committed by definition (retention only trims the committed past)
    through = ids[0]
    for i in ids[1:]:
        if i != through + 1:
            break
        through = i
    return through


_FOLD_MANIFEST = "_fold_manifest.json"


def _recover_fold(stream_root: str, old: str) -> None:
    """Recover from a crash anywhere inside ``_fold_stream_dirs``'s
    swap. Two windows: (a) between the two renames — ``old`` is the
    complete pre-fold snapshot and ``stream_root`` is absent, so the
    snapshot restores wholesale; (b) after the second rename but
    before the protected-tail restore finished — BOTH exist, and
    ``old`` may still hold ``_batch_id`` directories excluded from the
    fold. The fold manifest (written into the folded directory BEFORE
    the swap) records which batch ids are already inside
    ``_batch_id=-1``; every other batch directory in ``old`` moves
    back before ``old`` is deleted — deleting first lost the
    protected tail permanently (ADVICE r9 medium)."""
    import shutil as _shutil

    if not os.path.exists(old):
        return
    if not os.path.exists(stream_root):        # window (a)
        os.rename(old, stream_root)
        return
    man = os.path.join(stream_root, _FOLD_MANIFEST)   # window (b)
    if not os.path.exists(man):
        # structurally unreachable (the manifest lands inside the
        # folded dir before the swap); refuse to guess which batches
        # are folded rather than silently duplicate or drop rows
        raise RuntimeError(
            f"fold recovery: {old} and {stream_root} both exist but "
            f"{man} is missing — reconcile the directories manually")
    with open(man) as f:
        folded = set(json.load(f)["folded"])
    for d in os.listdir(old):
        if not d.startswith("_batch_id="):
            continue
        i = int(d.split("=", 1)[1])
        dst = os.path.join(stream_root, d)
        if i in folded or os.path.exists(dst):
            continue
        os.rename(os.path.join(old, d), dst)   # protected tail
    _shutil.rmtree(old)
    os.remove(man)


def _fold_stream_dirs(spark, stream_root: str, *,
                      partition_cols: tuple[str, ...],
                      committed_through: int | None = None) -> int:
    """Consolidate a STOPPED ingest stream's per-batch directories
    (``_batch_id=N``) into one ``_batch_id=-1`` directory — the
    index-maintenance pass that keeps probe-side file/directory counts
    flat as micro-batches accumulate. Same correctness argument as
    ``functions.fuzzy.compact_minhash_index``: −1 is strictly smaller
    than every real batch id, so the "probe strictly-earlier batches"
    replay filter always sees folded rows, and the next batch id (from
    the checkpoint) is larger than anything folded.

    ``committed_through`` bounds the fold to batch ids ≤ it, protecting
    a possibly-uncommitted tail that a crash-restart would REPLAY —
    replaying a batch whose codes were folded into ``_batch_id=-1``
    would re-append them (duplicate index rows) and let its probe see
    its own codes (self-match at distance 0). The public fold
    functions derive it from the stream checkpoint's ``commits/``
    listing; ``None`` folds everything and is safe only after a CLEAN
    termination (availableNow drain or query.stop() after the last
    commit).

    Crash safety: the folded layout is written to a tmp directory with
    a manifest of the folded ids, swapped in with two whole-directory
    renames, and only then is the pre-fold snapshot deleted —
    ``_recover_fold`` finishes an interrupted swap on the next call,
    including restoring a protected tail the crash stranded in the
    snapshot. Returns the number of batch directories folded (0 =
    no-op)."""
    import shutil as _shutil

    old = stream_root + ".pre-fold"
    _recover_fold(stream_root, old)
    if not os.path.isdir(stream_root):
        return 0
    ids = sorted(int(d.split("=", 1)[1])
                 for d in os.listdir(stream_root)
                 if d.startswith("_batch_id="))
    fold = [i for i in ids
            if committed_through is None or i <= committed_through]
    if len(fold) <= 1:
        return 0
    keep = [i for i in ids if i not in fold]
    tmp = stream_root + ".fold-tmp"
    _shutil.rmtree(tmp, ignore_errors=True)
    df = spark.read.option("basePath", stream_root).parquet(
        *[os.path.join(stream_root, f"_batch_id={i}") for i in fold])
    df = df.withColumn("_batch_id", F.lit(-1))
    if partition_cols:
        # one task per partition value -> one folded file per cell,
        # instead of (tasks x cells) small files
        df = df.repartition(*[F.col(c) for c in partition_cols])
    (df.write.mode("overwrite")
       .partitionBy("_batch_id", *partition_cols).parquet(tmp))
    # manifest BEFORE the swap: recovery must be able to tell folded
    # batch dirs (already inside _batch_id=-1) from the protected tail
    # it has to move back (underscore-prefixed -> invisible to reads)
    with open(os.path.join(tmp, _FOLD_MANIFEST), "w") as f:
        json.dump({"folded": fold}, f)
    os.rename(stream_root, old)
    os.rename(tmp, stream_root)
    for i in keep:                      # protected tail, if excluded
        os.rename(os.path.join(old, f"_batch_id={i}"),
                  os.path.join(stream_root, f"_batch_id={i}"))
    _shutil.rmtree(old)
    os.remove(os.path.join(stream_root, _FOLD_MANIFEST))
    return len(fold)


def _resolve_committed(checkpoint_path: str | None,
                       committed_through: int | None) -> int | None:
    if committed_through is not None:
        return committed_through
    if checkpoint_path is not None:
        return _checkpoint_committed_through(checkpoint_path)
    return None


def fold_stream(spark, index_path: str, *,
                checkpoint_path: str | None = None,
                committed_through: int | None = None) -> int:
    """Fold the ingest stream's ``stream/_batch_id=N`` directories into
    ``stream/_batch_id=-1`` (``_fold_stream_dirs``) — without this, a
    long-lived 100 TB ingest accumulates one directory per micro-batch
    forever and every probe lists and unions all of them (the classic
    small-file blow-up the LSH near-dup stream's
    ``compact_minhash_index`` already solves). Probe results are
    byte-identical before/after: the fold moves rows between
    directories, never changes them. Cell codecs keep their CELL
    partitioning (``_batch_id=-1/cell=C``), so directory-level cell
    pruning — the whole point of the coarse quantizer — survives the
    fold.

    Pass ``checkpoint_path`` (the ingest stream's checkpoint) to fold
    ONLY batches the stream has committed — the safe default for a
    stream that may restart: an uncommitted batch will REPLAY, and a
    replay over its own folded codes duplicates them. An explicit
    ``committed_through`` overrides; both ``None`` folds everything
    and is safe only after a clean termination."""
    cells = _CODECS[_read_sidecar(index_path)["codec"]].cells
    return _fold_stream_dirs(
        spark, os.path.join(index_path, "stream"),
        partition_cols=("cell",) if cells else (),
        committed_through=_resolve_committed(checkpoint_path,
                                             committed_through))


def rerank_candidate_log(spark, out_path: str, vectors: DataFrame, *,
                         k: int = 10, id_col: str = "vec_id",
                         vec_col: str = "embedding",
                         report_path: str | None = None,
                         batch_ids: list[int] | None = None,
                         retire: bool = False) -> DataFrame:
    """Periodic EXACT re-rank over the ingest stream's candidate log —
    the batch half of the continuous/periodic split this module's
    header promises: a pq or ivfpq ingest stream emits raw-ADC top-k
    per batch (approximate, codes-only); this job reads the ``out/_batch_id=N``
    directories, fetches TRUE vectors for exactly the logged (query,
    candidate) pairs by id equi-join, and re-ranks each query's
    accumulated shortlist by exact squared L2 — the ``refine=`` stage
    of ``search_index``, applied to the log instead of a fresh
    scan. The log deduplicates on (query_id, vec_id) first: a query
    probed in more than one ingest batch logs the same candidate once
    per batch, and ranking the raw pairs would let duplicates crowd
    real neighbors out of the top-k.

    Scale shape: the job moves O(|log|) candidate rows plus one
    per-query rank window. The id joins against ``vectors`` are plain
    equi-joins — at gate scale AQE broadcasts the (small) log side and
    the corpus is read once with no shuffle; with an UNBOUNDED
    accumulated log the joins degrade to sort-merge and the corpus
    itself shuffles, so the per-run input must be BOUNDED by the
    caller: pass ``batch_ids`` to rerank a window of batches, and
    ``retire=True`` (requires ``report_path``) to move the processed
    ``_batch_id=N`` directories under ``out/.reranked/`` after the
    report is written — the next default run then reads only
    unprocessed batches, the same keep-the-listing-flat discipline as
    the index fold. Retirement is retry-idempotent: the report lands
    before any rename, and a crash mid-retire leaves a half-retired
    window that the SAME ``batch_ids`` retry reads seamlessly (live
    dirs preferred, already-retired dirs accepted as done), regenerates
    the identical report, and finishes retiring — it never raises on
    an already-retired id and never double-counts one (ADVICE r10). ``vectors`` must cover every id in the log
    (queries and candidates) — an uncovered id fails the job loudly
    rather than silently renumbering ranks, the ``_pq_rank_tail``
    refine contract. Output (query_id, vec_id, adc_d2, exact_d2,
    rank), rank ≤ k by (exact_d2 asc, vec_id) — row-identical to a
    refined probe over the same deduplicated shortlist.
    ``report_path`` additionally persists the report as parquet."""
    from ..functions.similarity import _d2

    def _ids(root):
        if not os.path.isdir(root):
            return set()
        return {int(d.split("=", 1)[1]) for d in os.listdir(root)
                if d.startswith("_batch_id=")}

    retired_root = os.path.join(out_path, ".reranked")
    present, retired = _ids(out_path), _ids(retired_root)
    todo = sorted(present) if batch_ids is None else sorted(batch_ids)
    # an explicitly-requested batch may already sit under .reranked/ —
    # a retire interrupted between renames leaves the window half
    # retired, and the RETRY with the same batch_ids must regenerate
    # the identical report and finish the retirement, not raise
    # (ADVICE r10). A batch present in BOTH places was replayed after
    # its first retire — the live rewrite supersedes the stale copy.
    missing = set(todo) - present - retired
    if missing:
        raise ValueError(f"rerank: batch_ids {sorted(missing)} not "
                         f"present under {out_path} (live "
                         f"{sorted(present)}, retired {sorted(retired)})")
    if retire and report_path is None:
        raise ValueError("retire=True requires report_path= — retiring "
                         "log directories behind a lazy DataFrame would "
                         "drop the rows before they are read")
    if not todo:
        raise ValueError(f"rerank: no unprocessed _batch_id=N "
                         f"directories under {out_path}")

    # two reads (live vs retired roots) — `.reranked` is deliberately
    # hidden from a basePath=out_path scan, so a retired batch must be
    # read under its own base; only the data columns survive the union
    live_ids = [i for i in todo if i in present]
    retired_ids = [i for i in todo if i not in present]
    cols = ["query_id", "vec_id", "adc_d2"]
    sides = []
    if live_ids:
        sides.append(spark.read.option("basePath", out_path).parquet(
            *[os.path.join(out_path, f"_batch_id={i}")
              for i in live_ids]).select(*cols))
    if retired_ids:
        sides.append(spark.read.option("basePath", retired_root).parquet(
            *[os.path.join(retired_root, f"_batch_id={i}")
              for i in retired_ids]).select(*cols))
    raw = sides[0]
    for s in sides[1:]:
        raw = raw.unionByName(s)
    log = (raw.groupBy("query_id", "vec_id")
           .agg(F.min("adc_d2").alias("adc_d2")))
    vecs = vectors.select(F.col(id_col).alias("vec_id"),
                          as_double_array(F.col(vec_col)).alias("_cv"))
    qv = vectors.select(F.col(id_col).alias("query_id"),
                        as_double_array(F.col(vec_col)).alias("qv"))

    def covered(col: str, val):
        return F.when(val.isNull(), F.raise_error(F.concat(
            F.lit(f"rerank: logged {col} "),
            F.col(col).cast("string"),
            F.lit(" missing from vectors= — the true-vector table "
                  "must cover every id in the candidate log")),
        )).otherwise(val)

    exact = (log.join(vecs, "vec_id", "left")
             .join(qv, "query_id", "left")
             .select("query_id", "vec_id", "adc_d2",
                     F.round(_d2(covered("vec_id", F.col("_cv")),
                                 covered("query_id", F.col("qv"))), 6)
                     .alias("exact_d2")))
    from pyspark.sql import Window
    w = Window.partitionBy("query_id").orderBy(F.col("exact_d2").asc(),
                                               F.col("vec_id"))
    report = (exact.withColumn("rank",
                               F.row_number().over(w).cast("int"))
              .filter(F.col("rank") <= k))
    if report_path is not None:
        report.write.mode("overwrite").parquet(report_path)
        if retire:
            import shutil as _shutil

            os.makedirs(retired_root, exist_ok=True)
            for i in live_ids:    # retired_ids are already done
                dst = os.path.join(retired_root, f"_batch_id={i}")
                if os.path.exists(dst):
                    # a batch REPLAYED after its first retire rewrote
                    # its live dir; the new rewrite supersedes the
                    # stale retired copy
                    _shutil.rmtree(dst)
                os.rename(os.path.join(out_path, f"_batch_id={i}"), dst)
        return spark.read.parquet(report_path)
    return report


def maxsim_ingest_batch(batch_df: DataFrame, batch_id: int, *,
                        query_tokens: DataFrame, out_path: str,
                        n_query_tokens: int, k: int = 10,
                        doc_id_col: str = "doc_id",
                        tokens_col: str = "tokens") -> None:
    """One micro-batch of the streaming MaxSim retriever — the
    late-interaction twin of ``ingest_batch``, public so a crash
    REPLAY is directly testable. Incoming rows carry a WHOLE document
    token bag each (``tokens`` = array of token vectors) — the natural
    multi-vector document row, and the atomicity that makes per-batch
    scoring exact: a doc's per-query-token maxima never straddle a
    batch boundary. The batch's bags explode map-side, score against
    the broadcast query token set (``_maxsim_scores`` — the fused
    one-aggregation plan of the batch operator), and the batch's
    per-query TOP-K lands under ``out/_batch_id=N`` with
    mode("overwrite") — a replayed batch rewrites its own directory
    idempotently (the module-header replay discipline).

    Per-batch top-k is lossless for the GLOBAL top-k because batches
    hold disjoint docs: top-k(∪ batches) = top-k(∪ per-batch top-ks) —
    so the accumulated log stays O(batches · queries · k) regardless
    of corpus size, and ``maxsim_topk_from_log`` finalizes in one
    window over it. Unlike the ANN ingest there is no index state to
    probe: MaxSim scoring is embarrassingly incremental, which is why
    this stream needs no strictly-earlier filter."""
    dt = (batch_df.select(F.col(doc_id_col).alias("doc_id"),
                          F.posexplode(F.col(tokens_col))
                          .alias("token_pos", "vec")))
    scored = _maxsim_scores(dt, query_tokens,
                            n_query_tokens=n_query_tokens)
    _maxsim_rank(scored, k).drop("rank").write.mode("overwrite").parquet(
        os.path.join(out_path, f"_batch_id={batch_id}"))


def start_maxsim_stream(
    docs: DataFrame, *, query_tokens: DataFrame, out_path: str,
    checkpoint_path: str, n_query_tokens: int, k: int = 10,
    doc_id_col: str = "doc_id", tokens_col: str = "tokens",
    available_now: bool = False,
):
    """Continuous late-interaction retrieval: each arriving micro-batch
    of multi-vector documents is MaxSim-scored against a FIXED
    broadcast query token set and its per-query top-k appended to the
    candidate log — the standing-query shape (new corpus vs known
    queries) of a training-data dedup/retrieval pipeline. Returns the
    StreamingQuery; finalize with ``maxsim_topk_from_log``."""
    def process(batch_df, batch_id: int) -> None:
        maxsim_ingest_batch(batch_df, batch_id,
                            query_tokens=query_tokens,
                            out_path=out_path,
                            n_query_tokens=n_query_tokens, k=k,
                            doc_id_col=doc_id_col,
                            tokens_col=tokens_col)

    writer = (docs.writeStream.foreachBatch(process)
              .option("checkpointLocation", checkpoint_path))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def maxsim_topk_from_log(spark, out_path: str, k: int = 10) -> DataFrame:
    """Global per-query top-k over the streaming MaxSim candidate log —
    one window over O(batches · queries · k) logged rows (never the
    corpus), exact because per-batch top-k loses nothing across
    disjoint batches. Output (query_id, doc_id, score, rank) — the
    ``maxsim_topk`` contract, so stream-then-finalize is row-identical
    to the batch operator over the union of the ingested batches."""
    present = sorted(int(d.split("=", 1)[1])
                     for d in os.listdir(out_path)
                     if d.startswith("_batch_id="))
    if not present:
        raise ValueError(f"maxsim log: no _batch_id=N directories "
                         f"under {out_path}")
    log = spark.read.option("basePath", out_path).parquet(
        *[os.path.join(out_path, f"_batch_id={i}") for i in present])
    return _maxsim_rank(log.select("query_id", "doc_id", "score"), k)
