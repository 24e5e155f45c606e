"""Persisted ANN indexes and the streaming vector-dedup gate.

``IvfIndex`` (FAISS ``IVF,Flat``) and ``LshIndex`` (``LSH``) are two
compositions of the one persisted-index core in operators/vindex.py
(partitioner × codec — see its module docstring for the lifecycle and
the on-disk layouts); they are re-exported here under their historic
import path. ``StreamingVectorDedup`` is the embedding-space ingest
gate over the banded store (operators/bandstore.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from timescale_cdc_spark.operators.bandstore import BandedIndexStore
from timescale_cdc_spark.operators.vindex import IvfIndex, LshIndex  # noqa: F401


class StreamingVectorDedup(BandedIndexStore):
    """Streaming embedding-dedup ingest gate: admit a vector only if
    no PREVIOUSLY admitted vector has cosine ≥ ``threshold`` — the
    embedding-space counterpart of curation.StreamingNearDedup (same
    persisted-index-over-foreachBatch architecture, same rationale:
    admitted-corpus bucket state belongs in storage, and replay
    idempotence comes from ignoring same-id matches, not partition
    provenance).

    Candidates come from the hyperplane band join (a pair must share
    ≥1 band bucket); verification is EXACT cosine, so every rejection
    is a true positive. A qualifying near-pair is missed only if it
    disagrees in every band — for cos ≥ 0.99 with the default
    96-bit/6×16-bit sketch that is ~2% per borderline pair and 0 for
    identical vectors. Band WIDTH is the candidate-fanout knob: the
    initial 4×8-bit configuration collided each incoming vector with
    ~index/256 per band, and the exact-verify cost made per-batch time
    grow 4×/batch at a 10k-batch soak; 16-bit buckets cut candidates
    ~250× and hold the per-batch curve flat (gate soak in SCALE.md).

    Index layout: ``ingest_batch=<b>/`` partition dirs of banded rows
    (c_id, c_vec, chunk, key); a replayed batch overwrites its own
    partition. ``compact()`` merges everything into one negative
    generation under ``_base/gen=<g>/chunk=<c>/kp=<p>`` (kp = key mod
    prefix_mod) — and from then on the per-batch lookup opens ONLY the
    (chunk, kp) leaf dirs the batch's own band keys hash into, exactly
    the bucket-pruned architecture of curation.StreamingNearDedup
    (see its docstring for the cost model and the losslessness
    argument; a matching (chunk, key) always lands in a touched
    (chunk, kp)).
    """

    def __init__(
        self,
        spark: SparkSession,
        index_path: str,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        threshold: float = 0.99,
        num_planes: int = 96,
        chunks: int = 6,
        dim: int = 64,
        seed: int = 42,
        prefix_mod: int | None = None,
        max_bucket: int | None = 256,
    ):
        self.spark = spark
        self.index_path = index_path.rstrip("/")
        self.id_col = id_col
        self.vec_col = vec_col
        self.threshold = threshold
        self.num_planes = num_planes
        self.chunks = chunks
        self.width = num_planes // chunks
        self.dim = dim
        self.seed = seed
        # Within-batch hot-bucket star cap — see StreamingNearDedup.
        # An identical-vector spam batch shares every band bucket;
        # star pairs around the bucket minimum all verify at cos=1,
        # so the whole cluster still collapses to its minimum.
        self.max_bucket = max_bucket
        # Base-store granularity for the NEXT compact(): dirs = chunks
        # × prefix_mod; existing generations keep their own recorded
        # modulus (per-gen _meta.json). None = auto-scale with corpus
        # size at compact time (~rows_per_leaf vectors per leaf), like
        # StreamingNearDedup.
        self.prefix_mod = prefix_mod
        self.rows_per_leaf = 64

    # storage/lookup layer: bandstore.BandedIndexStore hooks

    ID_COL = "c_id"
    KEY_COL = "chunk"
    HASH_COL = "key"
    PREFIX_COL = "kp"

    def _data_fields(self):
        from pyspark.sql import types as T

        return [
            T.StructField("c_id", T.LongType()),
            T.StructField("c_vec", T.ArrayType(T.FloatType())),
            T.StructField("chunk", T.IntegerType()),
            T.StructField("key", T.LongType()),
        ]

    def _n_groups(self) -> int:
        return self.chunks

    def _banded(self, df: DataFrame) -> DataFrame:
        from timescale_cdc_spark.operators.similarity import (
            _banded_arrow,
            _hyperplanes,
        )

        planes = _hyperplanes(self.num_planes, self.dim, self.seed)
        return _banded_arrow(
            df, "c", planes, self.chunks, self.width,
            self.id_col, self.vec_col,
        )

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> DataFrame:
        """Admit one micro-batch; returns survivors and appends their
        banded sketches under this batch's partition (idempotent)."""
        from timescale_cdc_spark.operators.similarity import cosine

        # One sketch pass per batch (touched-collect, lookup, pairing
        # and the index write all reuse it; the count fills the cache
        # and yields the incoming size for the layout estimator).
        sigs = self._banded(batch_df).persist()
        n_in = sigs.count() // max(1, self.chunks)
        idx = self._lookup_index(sigs).withColumnsRenamed(
            {"c_id": "s_id", "c_vec": "s_vec"}
        )
        seen_hits = (
            sigs.join(idx, ["chunk", "key"])
            .filter(
                (F.col("c_id") != F.col("s_id"))
                & (F.round(cosine("c_vec", "s_vec"), 4)
                   >= self.threshold)
            )
            .select(F.col("c_id").alias(self.id_col))
            .distinct()
        )
        # Within-batch pairs via the shared star-capped candidate
        # generator (dedup._banded_candidates) — an uncapped self-join
        # goes O(f²) in one task on an identical-vector spam batch.
        from timescale_cdc_spark.operators.dedup import _banded_candidates

        batch_drops = (
            _banded_candidates(
                sigs.withColumnsRenamed({"c_id": "_id"}),
                ["chunk", "key"],
                "c_vec",
                self.max_bucket,
            )
            .filter(
                F.round(cosine("pa", "pb"), 4)
                >= self.threshold
            )
            .select(F.col("id_b").alias(self.id_col))
            .distinct()
        )
        survivors = batch_df.join(
            seen_hits.unionByName(batch_drops).distinct(),
            self.id_col,
            "left_anti",
        # pinned BEFORE the index write: a replay's lookup plan reads
        # the partition the write replaces (see StreamingNearDedup)
        ).localCheckpoint(eager=True)
        (
            sigs.join(
                survivors.select(F.col(self.id_col).alias("c_id")), "c_id"
            )
            .write.mode("overwrite")
            .parquet(f"{self.index_path}/ingest_batch={batch_id}")
        )
        self._write_batch_meta(batch_id, n_in)
        sigs.unpersist()
        return survivors

    def attach(self, vec_stream: DataFrame, survivors_path: str,
               checkpoint: str):
        """Wire the gate into a stream (foreachBatch, availableNow-
        compatible): survivors land under per-batch partitions with
        idempotent replace — mirrors StreamingNearDedup.attach."""

        def _sink(batch_df: DataFrame, batch_id: int) -> None:
            survivors = self.process_batch(batch_df, batch_id)
            survivors.write.mode("overwrite").parquet(
                f"{survivors_path}/ingest_batch={batch_id}"
            )

        return (
            vec_stream.writeStream.foreachBatch(_sink)
            .option("checkpointLocation", checkpoint)
            .start()
        )

    # compact() is inherited from BandedIndexStore: merge per-batch
    # dirs (+ prior gen) into one (chunk, kp)-partitioned generation.
