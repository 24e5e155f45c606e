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

Crash safety (round-2 fix): the previous directory-swap scheme
(rename current→._old, rename tmp→current, rmtree ._old) could lose
the table if the process died between the two renames. The layout is
now versioned-directories + an atomically-replaced manifest:

    path/_MANIFEST.json           {"version": 7, "n_buckets": 16,
                                   "buckets": {"3": "v_000007", ...}}
    path/bucket=3/v_000007/*.parquet

Every write lands in a NEW version directory, invisible until the
manifest is atomically replaced (os.replace of a complete temp file).
A crash at ANY point leaves the old manifest pointing at intact data;
orphaned staging/version directories are garbage-collected on the next
apply. The manifest embeds the bucket maps of the trailing
``retain_generations - 1`` predecessor generations (``history``), and
``_gc()`` deletes exactly the version directories referenced by NO
retained manifest — so a reader that resolved paths from any manifest
in the retained window sees a consistent snapshot across a concurrent
writer's commit, however cold its buckets are. (Round 7, ADVICE r6:
the previous rule expired dirs by their CREATION generation, so a
bucket untouched for >= N commits lost its just-superseded dir the
moment a writer finally touched it — breaking even a reader holding
the immediately-previous manifest. Retained-manifest reachability is
supersession-aware by construction and also reclaims orphan dirs a
crash left between the bucket rename and the manifest commit, which
would otherwise collide with the next writer's os.rename.) Only
readers more than N generations stale can lose paths, and those fail
loudly (_current_paths raises on a missing referenced dir rather than
silently returning a smaller table). Writers are still
single-threaded per table (the reference's connector is a single task
per relation, cdc-timescale-connector.json:8).

Scale: the batch is evaluated once — its last event per key, with the
key and bucket projected, is persisted and feeds the touched-bucket
collect, the anti-join keys and the upserts, then is released. The
merge is one anti-join + union over ONLY the touched buckets, hash-
partitioned on the bucket before the write, so each committed version
directory holds one file per bucket (readers open n_buckets files, not
writer tasks × buckets).
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

_MANIFEST = "_MANIFEST.json"


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
        if retain_generations < 1:
            raise ValueError("retain_generations must be >= 1")
        self.spark = spark
        self.path = path
        self.row_schema = row_schema
        self.pk = pk
        self.n_buckets = n_buckets
        # Snapshot isolation for overlapping readers: _gc keeps version
        # directories from the last `retain_generations` manifest
        # generations (not just the current one), so a reader that
        # resolved paths from manifest G-1 survives a writer committing
        # G mid-scan. 1 = old eager behavior (serialized readers only).
        self.retain_generations = retain_generations
        os.makedirs(path, exist_ok=True)
        # The stored layout is authoritative: reopening an existing
        # table with a different n_buckets would make _bucket_expr
        # disagree with the on-disk bucketing (touched-bucket pruning
        # reads the wrong buckets, the anti-join misses existing rows).
        manifest = self._load_manifest()
        if manifest["buckets"] and manifest.get("n_buckets") != n_buckets:
            self.n_buckets = int(manifest["n_buckets"])

    # -- manifest ------------------------------------------------------------

    def _manifest_path(self) -> str:
        return os.path.join(self.path, _MANIFEST)

    def _load_manifest(self) -> dict:
        try:
            with open(self._manifest_path()) as f:
                return json.load(f)
        except (OSError, ValueError):
            return {"version": 0, "n_buckets": self.n_buckets, "buckets": {}}

    def _commit_manifest(self, manifest: dict) -> None:
        tmp = self._manifest_path() + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        os.replace(tmp, self._manifest_path())

    def _bucket_dir(self, bucket: int, version: str) -> str:
        return os.path.join(self.path, f"bucket={bucket}", version)

    def _bucket_expr(self, col: F.Column) -> F.Column:
        # Keys arriving from envelope JSON are strings; hash the string
        # form on BOTH sides so batch keys and stored rows agree.
        return F.pmod(F.hash(col.cast("string")), F.lit(self.n_buckets))

    def exists(self) -> bool:
        return bool(self._load_manifest()["buckets"])

    def _current_paths(self, manifest: dict | None = None) -> list[str]:
        m = manifest or self._load_manifest()
        paths = []
        for b, v in sorted(m["buckets"].items(), key=lambda kv: int(kv[0])):
            p = self._bucket_dir(int(b), v)
            if not os.path.isdir(p):
                # Silently skipping would mask data loss as a smaller
                # table; a manifest-referenced dir must exist.
                raise FileNotFoundError(
                    f"manifest v{m['version']} references missing bucket "
                    f"directory {p}; table is corrupt or being mutated by "
                    "a concurrent writer"
                )
            paths.append(p)
        return paths

    def read(self) -> DataFrame:
        paths = self._current_paths()
        if not paths:
            return self.spark.createDataFrame([], schema=self.row_schema)
        return self.spark.read.schema(self.row_schema).parquet(*paths)

    # -- merge ---------------------------------------------------------------

    def apply_changes(self, envelope_batch: DataFrame) -> None:
        """Upsert one envelope batch (MERGE semantics):

        - last event per PK within the batch wins (ts, event_id order)
        - DELETE → row removed; INSERT/UPDATE → `after` image upserted
        - only buckets containing touched keys are rewritten; a new
          version directory per touched bucket + one atomic manifest
          replace make the whole merge all-or-nothing.
        """
        self._gc()  # sweep orphans from any earlier crash

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
        manifest = self._load_manifest()
        new_version = f"v_{manifest['version'] + 1:06d}"

        # Current rows of ONLY the touched buckets.
        touched_paths = [
            self._bucket_dir(b, manifest["buckets"][str(b)])
            for b in touched_buckets
            if str(b) in manifest["buckets"]
        ]
        if touched_paths:
            target = self.spark.read.schema(self.row_schema).parquet(*touched_paths)
        else:
            target = self.spark.createDataFrame([], schema=self.row_schema)

        untouched = target.join(
            last,
            target[self.pk].cast("string") == last["_k"],
            "left_anti",
        )
        merged = untouched.unionByName(upserts).withColumn(
            "_bucket", self._bucket_expr(F.col(self.pk))
        )

        # Hash-partitioning on the bucket first gives each bucket ONE
        # writer task, so each version directory holds one file.
        staging = os.path.join(self.path, f"_staging_{new_version}")
        (
            merged.repartition("_bucket")
            .write.mode("overwrite")
            .partitionBy("_bucket")
            .parquet(staging)
        )

        new_buckets = dict(manifest["buckets"])
        for b in touched_buckets:
            src = os.path.join(staging, f"_bucket={b}")
            if os.path.isdir(src):
                dst = self._bucket_dir(b, new_version)
                os.makedirs(os.path.dirname(dst), exist_ok=True)
                os.rename(src, dst)
                new_buckets[str(b)] = new_version
            else:
                # every row in the bucket was deleted
                new_buckets.pop(str(b), None)

        # The outgoing manifest's bucket map joins the retained
        # history so every dir it references survives _gc until it is
        # retain_generations superseded — expiry is by SUPERSESSION,
        # not creation generation (a cold bucket's dir may be
        # arbitrarily old and still current).
        history = [
            {"version": manifest["version"], "buckets": manifest["buckets"]}
        ] + manifest.get("history", [])
        self._commit_manifest(
            {
                "version": manifest["version"] + 1,
                "n_buckets": self.n_buckets,
                "buckets": new_buckets,
                "history": history[: self.retain_generations - 1],
            }
        )
        self._gc()

    def _gc(self) -> None:
        """Remove leftover staging dirs and every version dir no
        retained manifest references.

        The manifest carries the bucket maps of its
        ``retain_generations - 1`` predecessors (``history``), so the
        keep-set is exact manifest reachability: a dir lives until it
        has been SUPERSEDED for retain_generations commits, however
        long it was current before that (round-7 fix — the previous
        creation-generation rule deleted a cold bucket's
        just-superseded dir out from under a reader holding the
        immediately-previous manifest). Readers holding any retained
        manifest keep a consistent snapshot across a concurrent
        writer's commit+gc; staler readers fail loudly via
        _current_paths' missing-dir check. Also reclaims
        never-referenced orphan dirs from a crash between the bucket
        rename loop and the manifest commit (their name would collide
        with the next writer's rename target). Safe at any time —
        reachable data is never touched."""
        manifest = self._load_manifest()
        keep = {
            (b, v)
            for m in [manifest, *manifest.get("history", [])]
            for b, v in m["buckets"].items()
        }
        for name in os.listdir(self.path):
            full = os.path.join(self.path, name)
            if name.startswith("_staging_"):
                shutil.rmtree(full, ignore_errors=True)
            elif name.startswith("bucket=") and os.path.isdir(full):
                bucket = name.split("=", 1)[1]
                for ver in os.listdir(full):
                    if (bucket, ver) in keep or not ver.startswith("v_"):
                        continue  # reachable, or not a dir we created
                    shutil.rmtree(os.path.join(full, ver), ignore_errors=True)
