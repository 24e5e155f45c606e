"""The persisted vector-index lifecycle (operators/vindex.py), driven
the same way across all six kinds on a small synthetic corpus: the
fast-tier crash-recovery pin for the index subsystem, plus the
append/repair/staleness contract every kind now shares."""

from __future__ import annotations

import os
import shutil

import numpy as np
import pytest
from pyspark.sql import functions as F

from timescale_cdc_spark.operators.vindex import (
    IvfIndex,
    IvfPqIndex,
    IvfSq8Index,
    LshIndex,
    PqIndex,
    Sq8Index,
)

DIM = 32

#: (class, build kwargs, topk kwargs) — every probe covers all cells so
#: results are deterministic on a 400-vector corpus
KINDS = {
    "ivf_flat": (IvfIndex, {"n_clusters": 8}, {"n_probe": 8}),
    "lsh": (LshIndex, {"num_planes": 32, "chunks": 4}, {}),
    "pq": (PqIndex, {"m": 2, "k_sub": 8}, {"rerank": 50}),
    "ivf_pq": (IvfPqIndex, {"n_cells": 8, "m": 2, "k_sub": 8},
               {"n_probe": 8, "rerank": 50}),
    "sq8": (Sq8Index, {}, {"rerank": 50}),
    "ivf_sq8": (IvfSq8Index, {"n_cells": 8}, {"n_probe": 8, "rerank": 50}),
}


@pytest.fixture(scope="module")
def corpus(spark):
    """400 unit vectors in 8 tight clusters, 32 dims (deliberately not
    the 64 of the fixture embeddings)."""
    rng = np.random.default_rng(7)
    centers = rng.standard_normal((8, DIM))
    vecs = centers[np.arange(400) % 8] + 0.1 * rng.standard_normal((400, DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    ).cache()


def _rows(df):
    return {tuple(r) for r in df.collect()}


def test_lsh_index_infers_dim(spark, corpus, tmp_path):
    """LshIndex takes its sketch dimension from the corpus: a 32-dim
    build and query work, and a vector queried under a fresh id finds
    itself at rank 1 with cosine 1.0."""
    idx = LshIndex(spark, str(tmp_path / "lsh32")).build(corpus)
    assert idx.meta()["dim"] == DIM
    q = corpus.filter(F.col("vec_id") == 3).select(
        F.lit(10_000).cast("long").alias("vec_id"), "embedding"
    )
    [top] = idx.topk(q, k=1).collect()
    assert (top["c_id"], top["cos"]) == (3, 1.0)


@pytest.mark.parametrize("kind", sorted(KINDS))
def test_compact_recovers_half_swapped_tables(spark, corpus, tmp_path, kind):
    """build → delete 10% → crash left every stored table half-swapped
    (only ``._purge_old`` holds the data, a stale ``._purge_tmp`` sits
    beside it) → compact() restores, purges and clears the tombstones:
    top-K equals the pre-crash result and the deleted ids are
    physically gone."""
    cls, bkw, qkw = KINDS[kind]
    path = str(tmp_path / kind)
    idx = cls(spark, path).build(corpus, **bkw)
    queries = corpus.filter(F.col("vec_id") < 5)
    dead = list(range(5, 400, 10))  # 10%, none of them a query
    assert idx.delete(dead) == len(dead)
    before = _rows(idx.topk(queries, k=5, **qkw))
    assert before and not {r[1] for r in before} & set(dead)

    tables = idx._tables
    for t in tables:
        live = os.path.join(path, t)
        os.rename(live, live + "._purge_old")
        shutil.copytree(live + "._purge_old", live + "._purge_tmp")

    n_live = 400 - len(dead)
    rows_per_id = bkw.get("chunks", 1)  # LSH stores one row per band
    assert idx.compact() == n_live * rows_per_id
    assert not os.path.isdir(os.path.join(path, "tombstones"))
    for t in tables:
        assert not os.path.exists(os.path.join(path, t + "._purge_old"))
        assert not os.path.exists(os.path.join(path, t + "._purge_tmp"))
        bare = spark.read.parquet(os.path.join(path, t)).agg(
            F.countDistinct("c_id").alias("ids"),
            F.sum(F.col("c_id").isin(dead).cast("int")).alias("dead"),
        ).first()
        assert (bare["ids"], bare["dead"]) == (n_live, 0)
    assert _rows(idx.topk(queries, k=5, **qkw)) == before


@pytest.mark.slow
@pytest.mark.parametrize("kind", sorted(KINDS))
def test_append_repair_staleness(spark, corpus, tmp_path, kind):
    """Every kind appends onto its frozen state: an appended vector is
    served at rank 1 at once, staleness() reports the live appended
    share (a rebuild only for fitted kinds, and for LSH never), and
    repair() has nothing to do after a clean append."""
    cls, bkw, qkw = KINDS[kind]
    idx = cls(spark, str(tmp_path / kind)).build(
        corpus.filter(F.col("vec_id") % 3 != 0), **bkw
    )
    assert idx.staleness()["appended_fraction"] == 0.0
    idx.append(corpus.filter(F.col("vec_id") % 3 == 0))
    s = idx.staleness()
    assert s["n_now"] == 400
    assert s["appended_fraction"] == pytest.approx(134 / 400)
    assert s["rebuild_recommended"] == idx.fitted
    assert idx.repair() == 0
    q = corpus.filter(F.col("vec_id") == 3).select(
        F.lit(10_000).cast("long").alias("vec_id"), "embedding"
    )
    [top] = idx.topk(q, k=1, **qkw).collect()
    assert (top["c_id"], top["cos"]) == (3, 1.0)
