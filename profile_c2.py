#!/usr/bin/env python3
"""Interleaved A/B profiler for the c2 sketch pairs (SCALE.md records
each adjudication).

    python3 profile_c2.py

Two legs in one session:

* fixture leg: the registered ``c2_minhash_simhash`` entry, its
  production-lane twin ``c2_minhash_production``, and the lazy
  ``minhash_lsh_pairs`` / ``simhash_pairs`` operators over the same
  planted corpus, ``PROFILE_RUNS`` interleaved rounds (variants
  alternate within one session so host drift hits all equally);
* synthetic leg: one run of ``c2_minhash_production`` over a
  deterministic corpus of ``SYN_DOCS`` documents with planted
  near-duplicates.

Per variant it prints min/all wall seconds, the pair count and the
Janino compiles of its last run. Env: ``SPARK_GRAFT_SF_DIR`` (fixture
directory, default the sf0.1 fixture), ``SPARK_GRAFT_CPUS`` (default: the CPUs
this process may use), ``PROFILE_SYN_DIR`` (where the synthetic corpus
is written, default a temporary directory).
"""
from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from timescale_cdc_spark.queries import QUERIES  # noqa: E402
from timescale_cdc_spark.queries.llm_queries import (  # noqa: E402
    SKETCH_MAX_BUCKET,
    _planted_docs,
    c2_minhash_production,
)
from timescale_cdc_spark.operators.dedup import (  # noqa: E402
    minhash_lsh_pairs,
    simhash_pairs,
)
from timescale_cdc_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
RUNS = int(os.environ.get("PROFILE_RUNS", "4"))

#: synthetic corpus shape: documents, words per document, vocabulary
#: size, one planted near-duplicate per NEAR_EVERY documents with
#: NEAR_EDITS words replaced, and the generator seed
SYN_DOCS = 500_000
SYN_WORDS = 24
SYN_VOCAB = 8192
NEAR_EVERY = 20
NEAR_EDITS = 2
SYN_SEED = 20261020


def write_synthetic(path: str) -> int:
    """Write ``documents.parquet`` (doc_id, text) under ``path``: SYN_DOCS
    random documents plus one near-duplicate of every NEAR_EVERY-th,
    NEAR_EDITS words replaced. Ids are 10·i + 1 (originals) and
    10·i + 3 (near copies), so none is a multiple of 10 and the
    entry's own exact-copy planting (doc_id % 10 = 0) adds nothing.
    Returns the number of planted near-duplicates."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(SYN_SEED)
    words = rng.integers(0, SYN_VOCAB, size=(SYN_DOCS, SYN_WORDS))
    near = np.arange(0, SYN_DOCS, NEAR_EVERY)
    copies = words[near].copy()
    pos = rng.integers(0, SYN_WORDS, size=(len(near), NEAR_EDITS))
    np.put_along_axis(
        copies, pos, rng.integers(0, SYN_VOCAB, size=pos.shape), axis=1
    )
    vocab = np.array([f"w{i}" for i in range(SYN_VOCAB)], dtype=object)

    def texts(rows):
        return [" ".join(r) for r in vocab[rows]]

    ids = np.concatenate([np.arange(SYN_DOCS) * 10 + 1, near * 10 + 3])
    table = pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts(words) + texts(copies), pa.string()),
    })
    os.makedirs(path, exist_ok=True)
    pq.write_table(table, os.path.join(path, "documents.parquet"))
    return len(near)


def main() -> None:
    spark = get_spark(master=f"local[{CPUS}]", shuffle_partitions=CPUS)
    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics

    def timed(fn):
        c0 = codegen.METRIC_COMPILATION_TIME().getCount()
        t0 = time.monotonic()
        n = fn()
        return time.monotonic() - t0, n, codegen.METRIC_COMPILATION_TIME().getCount() - c0

    def lazy(op, **kw):
        return lambda: op(_planted_docs(spark, SF_DIR), "text", "doc_id",
                          max_bucket=SKETCH_MAX_BUCKET, **kw).count()

    variants = {
        "full": lambda: QUERIES["c2_minhash_simhash"](spark, SF_DIR).count(),
        "production": lambda: c2_minhash_production(spark, SF_DIR).count(),
        "minhash": lazy(minhash_lsh_pairs, threshold=0.5),
        "simhash": lazy(simhash_pairs, max_hamming=3),
    }
    print(f"master local[{CPUS}], fixture {SF_DIR}")
    for fn in variants.values():  # warm-up: JVM start and first compiles
        fn()
    report(variants, RUNS, timed)

    syn_dir = os.environ.get("PROFILE_SYN_DIR") or tempfile.mkdtemp(prefix="c2syn-")
    t0 = time.monotonic()
    planted = write_synthetic(syn_dir)
    print(f"synthetic: {SYN_DOCS} docs + {planted} planted near-duplicates "
          f"written in {time.monotonic() - t0:.1f}s")
    report({"syn_production": lambda: c2_minhash_production(spark, syn_dir).count()},
           1, timed)
    if not os.environ.get("PROFILE_SYN_DIR"):
        shutil.rmtree(syn_dir, ignore_errors=True)


def report(variants, runs, timed) -> None:
    times: dict[str, list[float]] = {k: [] for k in variants}
    last: dict[str, tuple[int, int]] = {}
    for _ in range(runs):
        for name, fn in variants.items():  # interleaved
            dt, n, compiles = timed(fn)
            times[name].append(dt)
            last[name] = (n, compiles)
    for name in variants:
        ts = ", ".join(f"{x:.2f}" for x in times[name])
        n, compiles = last[name]
        print(f"{name:>14}: min={min(times[name]):.2f}s  pairs={n}  "
              f"compiles={compiles}  [{ts}]", flush=True)


if __name__ == "__main__":
    main()
