"""Incremental materialization: maintain a current-state table from
change batches — the MERGE INTO / upsert pattern (no Delta in this
environment, so emulated with anti-join + union over a PK-bucketed,
version-manifested layout).

This is the consumer-side complement of replay (cdc/replay.py): replay
folds the WHOLE log each time (O(log)); a materialized table applies
only the new batch — and with PK bucketing, rewrites only the buckets
containing touched keys (O(batch + touched buckets)), not the whole
table. That is the difference that matters when the log is 100 TB and
the live table is 100 GB: a 1-row batch rewrites 1/n_buckets of the
table, not all of it.

Storage: the table is PK buckets stored as versioned directories
behind one manifest (``_MANIFEST.json`` maps ``buckets`` to
``bucket=N/v_<gen>`` directories). The commit protocol — staging,
rename, one atomic manifest replace, retained-history GC — is
cdc/store.py's: a merge is all-or-nothing across a crash at any point,
and a reader holding any of the last ``retain_generations`` manifests
keeps a consistent snapshot across a concurrent writer's commit.

Scale: the batch is evaluated once — its last event per key, with the
key and bucket projected, is persisted and feeds the touched-bucket
collect, the anti-join keys and the upserts, then is released. The
merge is one anti-join + union over ONLY the touched buckets, hash-
partitioned on the bucket before the write, so each committed version
directory holds one file per bucket (readers open n_buckets files, not
writer tasks × buckets).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from timescale_cdc_spark.cdc.store import VersionedStore


class MaterializedTable:
    """A current-state table maintained by applying envelope batches."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        row_schema: T.StructType,
        pk: str,
        n_buckets: int = 16,
        retain_generations: int = 2,
    ):
        self.spark = spark
        self.path = path
        self.row_schema = row_schema
        self.pk = pk
        self.n_buckets = n_buckets
        # retain_generations: a reader that resolved paths from any of
        # the last N manifests survives a writer committing mid-scan
        # (1 = serialized readers only).
        self.store = VersionedStore(path, "buckets", "bucket=", retain_generations)
        # The stored layout is authoritative: reopening an existing
        # table with a different n_buckets would make _bucket_expr
        # disagree with the on-disk bucketing (touched-bucket pruning
        # reads the wrong buckets, the anti-join misses existing rows).
        manifest = self.store.load()
        if manifest["buckets"] and manifest.get("n_buckets") != n_buckets:
            self.n_buckets = int(manifest["n_buckets"])

    def _bucket_expr(self, col: F.Column) -> F.Column:
        # Keys arriving from envelope JSON are strings; hash the string
        # form on BOTH sides so batch keys and stored rows agree.
        return F.pmod(F.hash(col.cast("string")), F.lit(self.n_buckets))

    def exists(self) -> bool:
        return bool(self.store.load()["buckets"])

    def read(self) -> DataFrame:
        return self.store.read(self.spark, self.store.load(), schema=self.row_schema)

    # -- merge ---------------------------------------------------------------

    def apply_changes(self, envelope_batch: DataFrame) -> None:
        """Upsert one envelope batch (MERGE semantics):

        - last event per PK within the batch wins (ts, event_id order)
        - DELETE → row removed; INSERT/UPDATE → `after` image upserted
        - only buckets containing touched keys are rewritten; a new
          version directory per touched bucket + one atomic manifest
          replace make the whole merge all-or-nothing.
        """
        key = F.coalesce(
            F.get_json_object("after", f"$.{self.pk}"),
            F.get_json_object("before", f"$.{self.pk}"),
        )
        w = Window.partitionBy("_k").orderBy(F.desc("ts"), F.desc("event_id"))
        # The batch is evaluated ONCE: its last event per key, with the
        # key and its bucket projected, is persisted and every later
        # step (touched buckets, anti-join keys, upserts) reads it.
        last = (
            envelope_batch.withColumn("_k", key)
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select(
                "_k",
                self._bucket_expr(F.col("_k")).alias("_b"),
                "operation",
                "after",
            )
            .persist()
        )
        try:
            touched_buckets = sorted(
                r["_b"] for r in last.select("_b").distinct().collect()
            )
            if touched_buckets:
                self._merge(last, touched_buckets)
        finally:
            last.unpersist()

    def _merge(self, last: DataFrame, touched_buckets: list[int]) -> None:
        """Rewrite ``touched_buckets`` from their current rows minus the
        batch's keys plus its upserts, then commit one manifest."""
        upserts = (
            last.filter(F.col("operation") != "DELETE")
            .select(F.from_json("after", self.row_schema).alias("r"))
            .select("r.*")
        )
        manifest = self.store.load()
        buckets = [str(b) for b in touched_buckets]
        # Current rows of ONLY the touched buckets.
        target = self.store.read(self.spark, manifest, buckets, self.row_schema)
        untouched = target.join(
            last,
            target[self.pk].cast("string") == last["_k"],
            "left_anti",
        )
        merged = untouched.unionByName(upserts).withColumn(
            "_bucket", self._bucket_expr(F.col(self.pk))
        )
        # A bucket left with no rows drops out of the manifest.
        self.store.commit(
            manifest,
            self.store.publish(merged, "_bucket", manifest, replaced=buckets),
            n_buckets=self.n_buckets,
        )
