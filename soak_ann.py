#!/usr/bin/env python3
"""ANN scale soak (round 6): multi-probe hyperplane LSH at 1M vectors
on a CLUSTERED corpus — the distribution ANN indexes exist for.

The fixture embeddings are uniformly random unit vectors: the
information-theoretic worst case for angular LSH (top-5 neighbors
barely closer than random points), where high recall forces a large
candidate fraction regardless of banding (measured in SCALE.md). Real
embedding corpora are clustered; there the SAME operator with wider
bands achieves high recall while touching a sub-percent candidate
fraction. This soak generates a 10k-cluster corpus (intra-cluster
cosine ~0.85-0.9), runs the REGISTERED operator with its scale
parameterization (width 16 bands + 3 margin-directed flips), and
scores recall against the exact corpus-once matmul baseline.

The sketch is one numpy matmul per Arrow batch and the re-rank is the
exact JVM cosine; vectors are synthesized deterministically from
xxhash64 so the run is reproducible without fixture files.

Usage: python soak_ann.py [n_vecs] [n_clusters]
"""

from __future__ import annotations

import json
import sys
import time

from pyspark.sql import functions as F

from timescale_cdc_spark.operators.similarity import (
    brute_force_topk_matmul,
    hyperplane_lsh_topk,
)
from timescale_cdc_spark.session import get_spark

DIM = 64


def _h(col, salt_cols, lo=-1.0, hi=1.0):
    """Deterministic pseudo-uniform in [lo, hi) from xxhash64."""
    span = hi - lo
    return (
        (F.pmod(F.xxhash64(col, *salt_cols), F.lit(2_000_001)) - 1_000_000)
        / 1_000_000.0
    ) * (span / 2.0)


def synth_clustered_vecs(spark, n: int, n_clusters: int, noise: float = 0.0625):
    """Unit vectors in ``n_clusters`` groups: member = normalize(
    center(cluster_id) + noise). noise std 0.0625/dim-component puts
    intra-cluster cosine ≈ 0.85-0.9 — tight, realistic clusters."""
    cluster = F.pmod(F.col("id"), F.lit(n_clusters))
    comps = [
        _h(cluster, [F.lit(d)]) + F.lit(noise) * _h(F.col("id"), [F.lit(d + DIM)])
        for d in range(DIM)
    ]
    raw = F.array(*[c.cast("double") for c in comps])
    norm = F.sqrt(
        F.aggregate(
            F.transform(raw, lambda x: x * x), F.lit(0.0), lambda a, v: a + v
        )
    )
    return spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.transform(raw, lambda x: (x / norm).cast("float")).alias("embedding"),
    )


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    n_clusters = int(sys.argv[2]) if len(sys.argv) > 2 else 10_000
    spark = get_spark(app_name="soak_ann")

    vecs = synth_clustered_vecs(spark, n, n_clusters).persist()
    vecs.count()
    queries = vecs.filter(F.col("vec_id") < 10)

    t0 = time.time()
    exact = {
        (r.q_id, r.c_id)
        for r in brute_force_topk_matmul(vecs, queries, k=5).collect()
    }
    t_exact = time.time() - t0

    # Scale parameterization: 16-bit bands keep buckets ~n/65k; the 3
    # margin-directed flips buy the recall banding alone would lose.
    t0 = time.time()
    approx = {
        (r.q_id, r.c_id)
        for r in hyperplane_lsh_topk(
            vecs, queries, k=5, num_planes=192, chunks=12, n_flip=3
        ).collect()
    }
    t_lsh = time.time() - t0
    recall = len(exact & approx) / len(exact)

    # Persisted index: the corpus sketch amortizes across query
    # batches — build once, then each batch pays only the probe join +
    # exact re-rank over the touch-bounded candidates.
    import tempfile

    from timescale_cdc_spark.operators.ann_index import LshIndex

    with tempfile.TemporaryDirectory() as d:
        t0 = time.time()
        idx = LshIndex(spark, f"{d}/lsh").build(
            vecs, num_planes=192, chunks=12, n_flip=3
        )
        t_build = time.time() - t0
        t0 = time.time()
        approx = {(r.q_id, r.c_id) for r in idx.topk(queries, k=5).collect()}
        t_query = time.time() - t0
        recall_idx = len(exact & approx) / len(exact)

    # Product quantization (round 7): 32× compression (64×f32 → 8
    # bytes of codes at m=8/k_sub=256), ADC scan over codes + exact
    # re-rank. The quantizers train on a sample (the standard move —
    # codebooks need cluster shapes, not every point). rerank=200
    # matters on THIS corpus: clusters are ~n/n_clusters tight members
    # whose within-cluster ordering plain PQ can't resolve (the codes
    # spend their entropy on cluster location — the reason FAISS
    # IVF-PQ encodes residuals), so the exact re-rank shortlist must
    # cover a cluster; 50 scored 0.48, 200 scores 1.0 at 100k×1k.
    from timescale_cdc_spark.operators.pq import PqIndex

    with tempfile.TemporaryDirectory() as d:
        t0 = time.time()
        pq = PqIndex(spark, f"{d}/pq").build(
            vecs, m=8, k_sub=256,
            sample_fraction=min(1.0, 50_000 / max(n, 1)),
        )
        t_pq_build = time.time() - t0
        t0 = time.time()
        approx = {
            (r.q_id, r.c_id)
            for r in pq.topk(queries, k=5, rerank=200).collect()
        }
        t_pq_query = time.time() - t0
        recall_pq = len(exact & approx) / len(exact)

    # IVF-PQ (residual encoding): coarse cells + PQ over residuals —
    # the probed scan reads n_probe/n_cells of the ALREADY-32×-
    # compressed codes (the two reductions multiply at scale).
    from timescale_cdc_spark.operators.pq import IvfPqIndex

    with tempfile.TemporaryDirectory() as d:
        t0 = time.time()
        ivfpq = IvfPqIndex(spark, f"{d}/ivfpq").build(
            vecs, n_cells=256, m=8, k_sub=16,
            sample_fraction=min(1.0, 50_000 / max(n, 1)),
        )
        t_ivfpq_build = time.time() - t0
        t0 = time.time()
        approx = {
            (r.q_id, r.c_id)
            for r in ivfpq.topk(
                queries, k=5, n_probe=8, rerank=200
            ).collect()
        }
        t_ivfpq_query = time.time() - t0
        recall_ivfpq = len(exact & approx) / len(exact)

    # SQ8 scalar quantization (round 10): per-dimension int8 codes —
    # 4× less scan I/O than float32 with near-lossless candidate
    # ranking (int8 error ≪ inter-point angular gaps even inside
    # tight clusters), so unlike PQ it needs no residual trick to
    # resolve within-cluster order.
    from timescale_cdc_spark.operators.similarity import sq8_topk

    t0 = time.time()
    approx = {
        (r.q_id, r.c_id)
        for r in sq8_topk(vecs, queries, k=5, rerank=200).collect()
    }
    t_sq8 = time.time() - t0
    recall_sq8 = len(exact & approx) / len(exact)

    # Persisted SQ8 (round 11, VERDICT r10 #4): bounds + encode paid
    # ONCE at build; each query batch reads compressed codes off disk
    # — the amortization the one-shot sq8_topk pays per call.
    from timescale_cdc_spark.operators.similarity import Sq8Index

    with tempfile.TemporaryDirectory() as d:
        t0 = time.time()
        sq8i = Sq8Index(spark, f"{d}/sq8").build(vecs)
        t_sq8i_build = time.time() - t0
        t0 = time.time()
        approx = {
            (r.q_id, r.c_id)
            for r in sq8i.topk(queries, k=5, rerank=200).collect()
        }
        t_sq8i_query = time.time() - t0
        recall_sq8i = len(exact & approx) / len(exact)

    # IVF-SQ8 (round 11): coarse cells prune the scan to
    # n_probe/n_cells partitions of residual int8 codes — the SQ
    # analog of IVF-PQ, trading PQ's 8-byte codes for dim-byte codes
    # that need no codebook training and resolve within-cell order
    # without deep books.
    from timescale_cdc_spark.operators.similarity import IvfSq8Index

    with tempfile.TemporaryDirectory() as d:
        t0 = time.time()
        ivfsq8 = IvfSq8Index(spark, f"{d}/ivfsq8").build(
            vecs, n_cells=256,
            sample_fraction=min(1.0, 50_000 / max(n, 1)),
        )
        t_ivfsq8_build = time.time() - t0
        t0 = time.time()
        approx = {
            (r.q_id, r.c_id)
            for r in ivfsq8.topk(
                queries, k=5, n_probe=8, rerank=200
            ).collect()
        }
        t_ivfsq8_query = time.time() - t0
        recall_ivfsq8 = len(exact & approx) / len(exact)

    print(
        json.dumps(
            {
                "n_vecs": n,
                "n_clusters": n_clusters,
                "exact_matmul_sec": round(t_exact, 2),
                "lsh_sec": round(t_lsh, 2),
                "lsh_config": {"planes": 192, "bands": 12, "width": 16, "flips": 3},
                "recall_at_5": recall,
                "lsh_index_build_sec": round(t_build, 2),
                "lsh_index_query_sec": round(t_query, 2),
                "lsh_index_recall_at_5": recall_idx,
                "pq_config": {"m": 8, "k_sub": 256, "rerank": 200},
                "pq_build_sec": round(t_pq_build, 2),
                "pq_query_sec": round(t_pq_query, 2),
                "pq_recall_at_5": recall_pq,
                "ivfpq_config": {
                    "n_cells": 256, "m": 8, "k_sub": 16,
                    "n_probe": 8, "rerank": 200,
                },
                "ivfpq_build_sec": round(t_ivfpq_build, 2),
                "ivfpq_query_sec": round(t_ivfpq_query, 2),
                "ivfpq_recall_at_5": recall_ivfpq,
                "sq8_config": {"rerank": 200},
                "sq8_sec": round(t_sq8, 2),
                "sq8_recall_at_5": recall_sq8,
                "sq8_index_build_sec": round(t_sq8i_build, 2),
                "sq8_index_query_sec": round(t_sq8i_query, 2),
                "sq8_index_recall_at_5": recall_sq8i,
                "ivfsq8_config": {"n_cells": 256, "n_probe": 8,
                                  "rerank": 200},
                "ivfsq8_build_sec": round(t_ivfsq8_build, 2),
                "ivfsq8_query_sec": round(t_ivfsq8_query, 2),
                "ivfsq8_recall_at_5": recall_ivfsq8,
            }
        )
    )


if __name__ == "__main__":
    main()
