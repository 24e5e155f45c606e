#!/usr/bin/env python3
"""Tier C soak: dedup + similarity at generated scale (the driver
fixtures hold only 500 documents/embeddings — this validates the
100 TB-shape claims on orders of magnitude more data). Prints one JSON
line.

Corpus: ``n_docs`` synthetic documents (~80 words from a 1k-word
vocabulary, fully deterministic via xxhash64-derived choices) with 1%
planted near-duplicates; ``n_vecs`` deterministic pseudo-random unit
vectors (dim 64).

Usage: python bench_llm.py [n_docs] [n_vecs]
"""

from __future__ import annotations

import json
import sys
import time

from pyspark.sql import functions as F

from timescale_cdc_spark.operators.ann_index import IvfIndex
from timescale_cdc_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    simhash_pairs,
)
from timescale_cdc_spark.operators.similarity import (
    brute_force_topk,
    brute_force_topk_matmul,
    ivf_topk,
)
from timescale_cdc_spark.session import get_spark


def synth_docs(spark, n: int):
    """Deterministic docs: word k of doc i = vocab[xxhash64(i, k) % 1000];
    docs with id % 100 == 0 get a near-copy (id + n) with one word
    appended."""
    words_per_doc = 80
    base = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ",
            *[
                F.concat(
                    F.lit("w"),
                    F.pmod(F.xxhash64(F.col("id"), F.lit(k)), F.lit(1000)).cast(
                        "string"
                    ),
                )
                for k in range(words_per_doc)
            ],
        ).alias("text"),
    )
    near = base.filter(F.col("doc_id") % 100 == 0).select(
        (F.col("doc_id") + n).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zzextra")).alias("text"),
    )
    return base.unionByName(near)


def synth_vecs(spark, n: int, dim: int = 64):
    comps = [
        (F.pmod(F.xxhash64(F.col("id"), F.lit(d)), F.lit(2_000_001)) - 1_000_000)
        / 1_000_000.0
        for d in range(dim)
    ]
    return spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.array(*[c.cast("float") for c in comps]).alias("embedding"),
    )


def main() -> None:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 100_000
    n_vecs = int(sys.argv[2]) if len(sys.argv) > 2 else 1_000_000
    spark = get_spark(app_name="bench_llm")

    docs = synth_docs(spark, n_docs).persist()
    total_docs = docs.count()

    t0 = time.perf_counter()
    kept = exact_dedup(docs, "text", "doc_id").count()
    t_exact = time.perf_counter() - t0

    t0 = time.perf_counter()
    pairs = minhash_lsh_pairs(docs, "text", "doc_id", threshold=0.5)
    n_pairs = pairs.count()
    t_minhash = time.perf_counter() - t0
    # recall on the planted 1%: near-copies share ~77/79 shingles (j≈0.95)
    planted_found = pairs.filter(
        (F.col("id_b") - F.col("id_a") == n_docs) & (F.col("id_a") % 100 == 0)
    ).count()
    planted_total = total_docs - n_docs

    t0 = time.perf_counter()
    n_sim_pairs = simhash_pairs(docs, "text", "doc_id", max_hamming=3).count()
    t_simhash = time.perf_counter() - t0

    vecs = synth_vecs(spark, n_vecs).persist()
    vecs.count()
    queries = vecs.filter(F.col("vec_id") < 10)
    t0 = time.perf_counter()
    brute_force_topk(vecs, queries, k=5).count()
    t_brute = time.perf_counter() - t0
    t0 = time.perf_counter()
    brute_force_topk_matmul(vecs, queries, k=5).count()
    t_brute_matmul = time.perf_counter() - t0
    t0 = time.perf_counter()
    ivf_topk(vecs, queries, k=5, n_clusters=64, n_probe=8).count()
    t_ivf = time.perf_counter() - t0

    # Persisted index: quantizer fit + layout once, then query-only.
    import shutil
    import tempfile

    idx_dir = tempfile.mkdtemp(prefix="ivf_soak_")
    try:
        t0 = time.perf_counter()
        idx = IvfIndex(spark, idx_dir).build(
            vecs, n_clusters=64, sample_fraction=0.1
        )
        t_ivf_build = time.perf_counter() - t0
        t0 = time.perf_counter()
        idx.topk(queries, k=5, n_probe=8).count()
        t_ivf_query = time.perf_counter() - t0
        t0 = time.perf_counter()
        idx.topk(queries, k=5, n_probe=8, engine="arrow").count()
        t_ivf_query_arrow = time.perf_counter() - t0
    finally:
        shutil.rmtree(idx_dir, ignore_errors=True)

    docs.unpersist()
    vecs.unpersist()
    print(
        json.dumps(
            {
                "metric": "llm_ops_soak",
                "n_docs": total_docs,
                "n_vecs": n_vecs,
                "exact_dedup_sec": round(t_exact, 2),
                "minhash_lsh_sec": round(t_minhash, 2),
                "minhash_pairs": n_pairs,
                "planted_recall": round(planted_found / planted_total, 4),
                "simhash_sec": round(t_simhash, 2),
                "simhash_pairs": n_sim_pairs,
                "brute_topk_sec": round(t_brute, 2),
                "brute_topk_matmul_sec": round(t_brute_matmul, 2),
                "ivf_topk_sec": round(t_ivf, 2),
                "ivf_index_build_sec": round(t_ivf_build, 2),
                "ivf_index_query_sec": round(t_ivf_query, 2),
                "ivf_index_query_arrow_sec": round(t_ivf_query_arrow, 2),
            }
        )
    )


if __name__ == "__main__":
    main()
