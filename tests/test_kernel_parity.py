"""One production kernel per similarity operator.

``knn_graph`` scores with the two-stage ``_knn_score``; its fold
pair-dot form survives only as the private ``_knn_score_fold``
reference, swapped in here with ``monkeypatch``. No environment
variable selects a physical form: only ``session.py`` reads the
environment, for deployment settings."""

from __future__ import annotations

import ast
import os
import pathlib
import random

import pytest

from incubator_pulsar_spark.functions import similarity as S
from incubator_pulsar_spark.session import read_table


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _knn_both(monkeypatch, emb, **kw):
    got = _rows(S.knn_graph(emb, **kw))
    with monkeypatch.context() as m:
        m.setattr(S, "_knn_score", S._knn_score_fold)
        want = _rows(S.knn_graph(emb, **kw))
    return got, want


def _string_id_corpus(spark):
    rng = random.Random(3)
    return spark.createDataFrame(
        [(f"v{i:02d}", [rng.uniform(-1, 1) for _ in range(8)])
         for i in range(50)],
        "vec_id string, embedding array<double>")


GATE = {"k": 5, "n_cells": 16, "nprobe": 2}  # knn_graph_embeddings
KNN_CASES = {
    "gate_sf0.001": ("sf0.001", GATE),
    "gate_sf0.01": ("sf0.01", GATE),
    "cells8": ("sf0.001", {"k": 5, "n_cells": 8, "nprobe": 2}),
    "pruned": ("sf0.001", {"k": 3, "n_cells": 8, "nprobe": 3,
                           "prune": True}),
    "string_ids": (None, {"k": 3, "n_cells": 4, "nprobe": 2}),
}


@pytest.mark.parametrize("case", list(KNN_CASES))
def test_knn_scorer_matches_fold(spark, sf_dir, monkeypatch, case):
    sf, kw = KNN_CASES[case]
    if sf is None:
        emb = _string_id_corpus(spark)
    else:
        emb = read_table(spark, os.path.join(os.path.dirname(sf_dir), sf),
                         "embeddings")
    got, want = _knn_both(monkeypatch, emb, **kw)
    assert got == want
    assert len(got) > 0


def test_knn_scorer_duplicates_zero_vectors_and_ties(spark, monkeypatch):
    """Near-duplicates, exact duplicates and a scaled duplicate all
    round to cosine 1.0; zero vectors score 0.0 against everything;
    orthogonal members tie at 0.0. Every prober's k-th cosine is a tie
    that dst_id must break, and the near-duplicates (ids 1, 2) sit just
    below the exact duplicates before rounding, so only the margin
    keeps them for the exact stage where they win on id."""
    vecs = {
        1: [1.0, 1e-7, 0.0, 0.0], 2: [1.0, 1e-3, 0.0, 0.0],
        3: [1.0, 0.0, 0.0, 0.0], 4: [1.0, 0.0, 0.0, 0.0],
        5: [1.0, 0.0, 0.0, 0.0], 6: [2.0, 0.0, 0.0, 0.0],
        7: [0.0, 0.0, 0.0, 0.0], 8: [0.0, 0.0, 0.0, 0.0],
        9: [0.0, 1.0, 0.0, 0.0], 10: [0.0, 1.0, 0.0, 0.0],
        11: [0.0, 0.0, 1.0, 0.0], 12: [-1.0, 0.0, 0.0, 0.0],
    }
    emb = spark.createDataFrame(list(vecs.items()),
                                "vec_id long, embedding array<double>")
    got, want = _knn_both(monkeypatch, emb, k=3, n_cells=2, nprobe=2,
                          prune=False)
    assert got == want
    by_src = {}
    for src, dst, sim, rank in got:
        by_src.setdefault(src, []).append((rank, dst, sim))
    # five members round to 1.0 against vec 3: the smallest ids win
    assert sorted(by_src[3]) == [(1, 1, 1.0), (2, 2, 1.0), (3, 4, 1.0)]
    # a zero vector scores 0.0 against every member
    assert sorted(by_src[7]) == [(1, 1, 0.0), (2, 2, 0.0), (3, 3, 0.0)]
    # vec 11 is orthogonal to every member: all tie at 0.0
    assert sorted(by_src[11]) == [(1, 1, 0.0), (2, 2, 0.0), (3, 3, 0.0)]


def test_only_session_reads_the_environment():
    """Physical-form switches are code, not environment: no module of
    the package except ``session.py`` (SPARK_GRAFT_CPUS,
    SPARK_GRAFT_DRIVER_MEM) reads ``os.environ`` or ``os.getenv``."""
    pkg = pathlib.Path(S.__file__).resolve().parents[1]
    offenders = []
    for path in sorted(pkg.rglob("*.py")):
        if path == pkg / "session.py":
            continue
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.ImportFrom) and node.module == "os":
                names = [a.name for a in node.names]
            elif isinstance(node, ast.Attribute):
                names = [node.attr]
            else:
                continue
            if {"environ", "getenv"} & set(names):
                offenders.append(f"{path.relative_to(pkg)}:{node.lineno}")
    assert not offenders, offenders
