"""The event log: append-only, date-partitioned parquet with a dense
monotone ``event_id`` — the Spark-native ``cdc.event_log`` hypertable.

Reference parity:
- Table + hypertable: init.sql:41-49, 69-72 (time-range chunks ≙
  ``event_date`` Hive partitions; readme.md:220 motivates this for
  fast time-slicing, incremental polling, high-throughput append).
- Sequence: ``cdc.event_log_event_id_seq`` (init.sql:51-59) assigns a
  dense, gap-free, monotone id. Spark has no sequence and
  ``monotonically_increasing_id()`` is neither dense nor cross-batch
  monotone, so ids are assigned per appended batch as
  ``row_number() OVER (ORDER BY ts, <tiebreak>) + high_watermark``
  with the watermark persisted next to the data (SURVEY §7 hard part 1).
- PK (event_id, ts) (init.sql:61-62): enforced at ingest via
  dropDuplicates + monotonicity assertion in tests.

Scale: the single global ORDER BY in id assignment is one narrow sort
per micro-batch (5 s cadence, readme.md:54) over only that batch's
rows — not the log. At extreme batch sizes the documented fallback is
per-partition id ranges (allocate [watermark, watermark+n) per
partition via mapPartitions over a deterministic partition order),
which keeps (ts, event_id) a valid total order for polling without a
global sort. Reads are partition-pruned by event_date.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from timescale_cdc_spark.cdc.store import write_json_atomic
from timescale_cdc_spark.schemas import EVENT_LOG_SCHEMA

_WATERMARK_FILE = "_event_id_watermark.json"
ENVELOPE_COLS = [f.name for f in EVENT_LOG_SCHEMA.fields]
_PARTITION_TYPES = {"event_date": T.DateType(), "event_hour": T.IntegerType()}


class EventLog:
    """Append-only CDC event log rooted at ``path``.

    Layout: ``path/data/event_date=YYYY-MM-DD/*.parquet`` plus a
    watermark sidecar. Rows within each partition are sorted by
    (schema_name, table_name, ts, event_id) — the parquet min/max
    stand-in for the reference's btree indexes (init.sql:64-66).
    """

    #: chunking options → partition columns (the Spark analog of
    #: Timescale's chunk_time_interval, init.sql:69-70: a hypertable
    #: chunked by INTERVAL '1 day' vs '1 hour'). Hourly chunks nest an
    #: event_hour=HH directory inside each event_date=... partition —
    #: finer pruning for hot-day workloads at the cost of more dirs.
    CHUNKS = {"day": ["event_date"], "hour": ["event_date", "event_hour"]}

    def __init__(self, spark: SparkSession, path: str, chunk: str = "day"):
        if chunk not in self.CHUNKS:
            raise ValueError(f"chunk must be one of {sorted(self.CHUNKS)}")
        self.spark = spark
        self.path = path
        self.chunk = chunk
        self.partition_cols = self.CHUNKS[chunk]
        self.data_path = os.path.join(path, "data")
        #: the declared schema of every read: envelope + partition columns
        self.schema = T.StructType(
            list(EVENT_LOG_SCHEMA.fields)
            + [T.StructField(c, _PARTITION_TYPES[c]) for c in self.partition_cols]
        )
        os.makedirs(self.path, exist_ok=True)

    # -- event_id watermark (the "sequence" state) --------------------------

    def _watermark_path(self) -> str:
        return os.path.join(self.path, _WATERMARK_FILE)

    def last_event_id(self) -> int:
        try:
            with open(self._watermark_path()) as f:
                return int(json.load(f)["last_event_id"])
        except (OSError, ValueError, KeyError):
            return 0

    def _commit_watermark(self, last_id: int) -> None:
        write_json_atomic(self._watermark_path(), {"last_event_id": last_id})

    # -- write path ----------------------------------------------------------

    def append(
        self,
        envelope: DataFrame,
        tiebreak: list[str] | None = None,
        distributed_ids: bool = False,
    ) -> int:
        """Append envelope rows (ts, schema_name, table_name, operation,
        before, after), assigning dense event_ids above the watermark.

        Returns the number of events written. The write itself is
        IDEMPOTENT per batch: the batch is staged under a
        watermark-keyed directory (overwritten on retry), any files a
        previous attempt of the SAME batch already moved into the log
        are swept, and only then are the fresh files moved in under
        batch-keyed names. The watermark commits last — so a rerun of
        a failed batch REPLACES its own partial output instead of
        appending duplicates (same id range, same rows; the analog of
        the connector's offset commit, docker-compose.yml:74, and of
        streaming/pipeline.py's _batch_id-keyed sinks).

        ``distributed_ids=False`` (default): ids follow the global
        (ts, tiebreak) order via one narrow per-batch sort — exact
        sequence semantics (init.sql:51-59).
        ``distributed_ids=True``: the SCALE.md fallback for very large
        batches — per-partition id ranges [start + offset_p, …) with a
        per-partition (not global) sort. Ids stay dense and gap-free;
        (ts, event_id) remains a valid total order for polling, but id
        order no longer globally tracks ts order across partitions.

        The batch is evaluated by the staged write alone: the row count
        is read from the staged files' parquet footers, not taken in a
        separate pass. (``DataFrame.observe`` would also count without a
        pass, but an ``Observation`` leaves the session holding a
        non-serializable manager, which breaks later closures that
        capture the session, e.g. Spark ML model UDFs.) An empty batch
        drops its staging directory and returns 0 without touching the
        watermark. The distributed path runs two actions over the batch
        (per-partition counts, then the write), so it persists the batch
        for their duration.
        """
        tiebreak = tiebreak or ["schema_name", "table_name", "operation"]
        start = self.last_event_id()
        staging = os.path.join(self.path, "_staging", f"batch_{start}")
        if distributed_ids:
            envelope = envelope.persist()
        try:
            if distributed_ids:
                with_ids = self._assign_ids_distributed(envelope, start, tiebreak)
            else:
                w = Window.orderBy("ts", *tiebreak)
                with_ids = envelope.withColumn(
                    "event_id", F.lit(start).cast("long") + F.row_number().over(w)
                )
            with_ids = with_ids.withColumn("event_date", F.to_date("ts"))
            if self.chunk == "hour":
                with_ids = with_ids.withColumn(
                    "event_hour", F.hour("ts").cast("int")
                )
            (
                with_ids.select(*ENVELOPE_COLS, *self.partition_cols)
                .sortWithinPartitions("schema_name", "table_name", "ts", "event_id")
                .write.mode("overwrite")
                .partitionBy(*self.partition_cols)
                .parquet(staging)
            )
            n = _staged_rows(staging)
            if n == 0:
                shutil.rmtree(staging, ignore_errors=True)
                return 0
            self._publish_staged_batch(staging, start)
        finally:
            if distributed_ids:
                envelope.unpersist()
        self._commit_watermark(start + n)
        return n

    def _publish_staged_batch(self, staging: str, start: int) -> None:
        """Move a staged batch into the live partition dirs under
        deterministic batch-keyed file names (``batch<start>-i.parquet``).

        Retry-safe: a previous attempt of the same batch may have moved
        some (or differently-split) files already — those are swept
        first, so after this returns the log contains EXACTLY the
        staged batch's rows for this id range, regardless of how many
        earlier attempts died mid-move."""
        tag = f"batch{start}-"
        if os.path.isdir(self.data_path):
            for root, _dirs, files in os.walk(self.data_path):
                for fname in files:
                    if fname.startswith(tag):
                        os.remove(os.path.join(root, fname))
        i = 0
        for root, _dirs, files in sorted(os.walk(staging)):
            rel = os.path.relpath(root, staging)
            # only partition leaf dirs (event_date=... [/event_hour=...])
            if rel == "." or not rel.startswith("event_date="):
                continue
            if not any(f.endswith(".parquet") for f in files):
                continue
            ddir = os.path.join(self.data_path, rel)
            os.makedirs(ddir, exist_ok=True)
            for fname in sorted(files):
                if not fname.endswith(".parquet"):
                    continue
                os.replace(
                    os.path.join(root, fname),
                    os.path.join(ddir, f"{tag}{i:05d}.parquet"),
                )
                i += 1
        shutil.rmtree(staging, ignore_errors=True)

    def _assign_ids_distributed(
        self, envelope: DataFrame, start: int, tiebreak: list[str]
    ) -> DataFrame:
        """Dense ids without a global sort: count rows per Spark
        partition (tiny collect: one long per partition), prefix-sum
        the counts into per-partition base offsets, then id =
        start + base[pid] + row_number within the partition. Each
        partition sorts only itself — fully parallel."""
        # Tag each row with its ORIGINAL partition id before any
        # shuffle — spark_partition_id() evaluated later in the plan
        # would report post-shuffle ids.
        tagged = envelope.withColumn("_pid", F.spark_partition_id())
        counts = tagged.groupBy("_pid").count().collect()
        base: dict[int, int] = {}
        acc = 0
        for row in sorted(counts, key=lambda r: r["_pid"]):
            base[row["_pid"]] = acc
            acc += row["count"]
        # Typed bigint offsets keep event_id a long (and an empty batch's
        # map resolvable).
        base_map = F.create_map(
            *[F.lit(x) for pid, off in sorted(base.items()) for x in (pid, off)]
        ).cast("map<int,bigint>")
        w = Window.partitionBy("_pid").orderBy("ts", *tiebreak)
        return (
            tagged.withColumn(
                "event_id",
                F.lit(start) + base_map[F.col("_pid")] + F.row_number().over(w),
            )
            .drop("_pid")
        )

    # -- read path -----------------------------------------------------------

    def read(self) -> DataFrame:
        """Full log scan (readme.md:119-121's SELECT * equivalent).
        event_date partition pruning applies to any ts/event_date
        filter layered on top. The scan uses the declared
        :attr:`schema`, so building it infers nothing from the files
        (files written with an int32 ``event_id`` read back widened)."""
        return self.spark.read.schema(self.schema).parquet(self.data_path)

    def read_table(self, schema_name: str, table_name: str) -> DataFrame:
        """Per-table slice — the event_log_assets view shape
        (init.sql:75-84)."""
        return self.read().filter(
            (F.col("schema_name") == schema_name)
            & (F.col("table_name") == table_name)
        )

    def exists(self) -> bool:
        return os.path.isdir(self.data_path) and any(
            name.startswith("event_date=") for name in os.listdir(self.data_path)
        )


def _staged_rows(staging: str) -> int:
    """Rows in a staged write, summed from its parquet footers
    (driver-side metadata; no Spark job, no data pages read)."""
    import pyarrow.parquet as pq

    return sum(
        pq.read_metadata(os.path.join(root, name)).num_rows
        for root, _dirs, files in os.walk(staging)
        for name in files
        if name.endswith(".parquet")
    )
