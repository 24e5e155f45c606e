"""``cdc_mixed``: the whole CDC write path, with reads beside the writes.

Two whitelisted tables are captured two ways: ``sensors`` by diffing
full snapshots (``cdc_transform``; uniform keys, one capture instant per
step, never late) and ``assets`` from a row-level change feed
(``changes_to_envelope``; skewed hot keys, a share of late rows). The
log starts with three days of history.

Sizes: one step is one poll of the CDC views, 5 simulated seconds (the
reference's poll interval, BASELINE.md). Its volume is a twentieth of
a write-path load point of ~87k changes per step over two 200k-key
tables, which takes about 10 s per step on 4 cores: 10k keys per table
and 2.2k changes per table per step, so that a run holds several
steps. The late share, the lateness and the hot-key skew are the
generator's defaults (gen.ChangeGenerator).

One iteration = one write op, then six read ops. The write op is timed
from the generator's stamp (its files written) until everything has
committed the batch:

    capture -> EventLog.append -> CdcStreamPipeline drain to topics
    -> hourly -> daily cascade refresh over the batch's span
    -> IncrementalPoller.fetch -> MaterializedTable.apply_changes -> ack

The consumer materializes ``sensors``; ``assets`` carries late rows,
which the poller's (ts, event_id) offset would skip by design. Each
read runs after ``spark.catalog.clearCache()`` (untimed) and consumes
every column through Spark's ``noop`` sink: ``latest_state`` and
``state_as_of`` of ``assets``, ``MaterializedTable.read``, the
real-time hourly aggregate, a 6 h ``event_log_view`` scan and
``events_per_window`` over the same 6 h.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F
from pyspark.sql import types as T

from timescale_cdc_spark.cdc.caggs import ContinuousAggregate, cascade_refresh, query_hierarchy
from timescale_cdc_spark.cdc.capture import cdc_transform, changes_to_envelope
from timescale_cdc_spark.cdc.incremental import IncrementalPoller
from timescale_cdc_spark.cdc.log import EventLog
from timescale_cdc_spark.cdc.materialize import MaterializedTable
from timescale_cdc_spark.cdc.replay import latest_state, state_as_of
from timescale_cdc_spark.cdc.views import event_log_view
from timescale_cdc_spark.streaming.monitor import events_per_window
from timescale_cdc_spark.streaming.pipeline import CdcStreamPipeline

from cdcbench import gen
from cdcbench.common import Clock, same_rows

#: Spark form of gen.ROW_SCHEMA (the captured tables' row shape).
ROW_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("name", T.StringType()),
        T.StructField("serialnumber", T.StringType()),
        T.StructField("reading", T.DoubleType()),
        T.StructField("updated_at", T.TimestampType()),
    ]
)
SNAPSHOT_KEYS = 10_000
SNAPSHOT_CHANGES = 2_200
FEED_KEYS = 10_000
HOT_KEYS = 500
FEED_CHANGES = 2_200
HISTORY_EVENTS = 10_000
HISTORY_S = 3 * 86_400
STEP_S = 5  # simulated time per iteration: one poll
DATA_COLS = [f.name for f in ROW_SCHEMA.fields]
HOUR = 3_600


def _hourly_aggs():
    return [F.count(F.lit(1)).alias("n"),
            F.sum(F.coalesce(F.length("after"), F.lit(0))).alias("after_chars")]


def _daily_aggs():
    return [F.sum("n").alias("n"), F.sum("after_chars").alias("after_chars")]


def _consume(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _committed(path: str, key: str) -> dict:
    """A part -> version map from the manifest the engine committed at
    ``path``: a MaterializedTable's ``buckets``, a ContinuousAggregate's
    day ``regions``."""
    try:
        with open(os.path.join(path, "_MANIFEST.json")) as f:
            return json.load(f)[key]
    except FileNotFoundError:
        return {}


def _rewritten(before: dict, after: dict) -> int:
    """Parts whose committed version changed, dropped ones included."""
    return sum(1 for k in set(before) | set(after) if before.get(k) != after.get(k))


def _apply_traced(tracer, table, batch) -> None:
    """``table.apply_changes(batch)`` in its span; traced runs also
    count the buckets the commit rewrote or dropped."""
    with tracer.span("cdc.materialize.apply") as s:
        before = _committed(table.path, "buckets") if tracer.enabled else None
        table.apply_changes(batch)
        if tracer.enabled:
            s["buckets_rewritten"] = _rewritten(before, _committed(table.path, "buckets"))


def _log_layout(log) -> dict:
    """File count and bytes per event of an EventLog's data."""
    files = [
        os.path.join(d, f)
        for d, _, names in os.walk(log.data_path) for f in names if f.endswith(".parquet")
    ]
    return {
        "cdc.log.files": float(len(files)),
        "cdc.log.bytes_per_event": sum(map(os.path.getsize, files)) / log.last_event_id(),
    }


class Mixed:
    #: A warm set-up or iteration takes about 7 s on 4 cores, the first
    #: set-up about 20 s. A run's timings move together with the load
    #: other tenants put on the host, not sample by sample (writes within
    #: one run agree to 2-4%), so a third iteration would not narrow the
    #: spread between runs; two keep a run near 70 s.
    setups = 3
    iterations = 2

    def __init__(self, spark, seed: int, tracer):
        self.spark = spark
        self.seed = seed
        self.tracer = tracer
        self.clock = Clock(spark)

    def prepare(self, root: str) -> None:
        """Generate the feed's history and the first snapshot (all
        INSERTs) and write them where the engine reads them."""
        os.makedirs(root)
        self.root = root
        self.staged = 0
        self.fetched = []
        self.feed = gen.ChangeGenerator(self.seed, FEED_KEYS, HOT_KEYS, FEED_CHANGES, STEP_S)
        self.snaps = gen.SnapshotGenerator(self.seed, SNAPSHOT_KEYS, SNAPSHOT_CHANGES)
        self.snap_path = os.path.join(root, "empty.parquet")
        gen.write_parquet(gen.ROW_SCHEMA.empty_table(), self.snap_path)
        self.first = self._stage(self.feed.history(HISTORY_EVENTS, HISTORY_S), self.snaps.snapshot())

    def setup(self, root: str) -> None:
        """Log, topics, materialized table and cascade, loaded with the
        prepared first batch."""
        self.log = EventLog(self.spark, os.path.join(root, "log"))
        self.pipe = CdcStreamPipeline(
            self.spark, self.log, os.path.join(root, "topics"),
            [(gen.SCHEMA_NAME, t) for t in gen.TABLES],
        )
        self.poller = IncrementalPoller(os.path.join(root, "offset.json"),
                                        start_ts="2000-01-01 00:00:00")
        self.table = MaterializedTable(self.spark, os.path.join(root, "mt"), ROW_SCHEMA, "id")
        self.levels = [
            ContinuousAggregate(self.spark, os.path.join(root, "cagg_1h"), "1 hour",
                                "ts", ["table_name", "operation"], _hourly_aggs),
            ContinuousAggregate(self.spark, os.path.join(root, "cagg_1d"), "1 day",
                                "bucket", ["table_name", "operation"], _daily_aggs),
        ]
        self._write(*self.first, first=True)

    def _stage(self, feed, snapshot) -> tuple:
        """Write a generated batch where the engine reads it; returns
        (feed path, old snapshot path, new snapshot path, capture
        instant, first ts, last ts), instants in epoch seconds."""
        d = os.path.join(self.root, "in")
        os.makedirs(d, exist_ok=True)
        feed_path = os.path.join(d, f"feed{self.staged:06d}.parquet")
        snap_path = os.path.join(d, f"snap{self.staged:06d}.parquet")
        gen.write_parquet(feed, feed_path)
        gen.write_parquet(snapshot, snap_path)
        self.staged += 1
        old, self.snap_path = self.snap_path, snap_path
        capture_s = self.feed.now_s
        ts = feed.column("ts").cast("int64").to_numpy() // 1_000_000
        return feed_path, old, snap_path, capture_s, int(ts.min()), max(int(ts.max()), capture_s)

    def _snapshot(self, path):
        return self.spark.read.schema(ROW_SCHEMA).parquet(path)

    def _write(self, feed_path, old, new, capture_s, lo, hi, first=False) -> None:
        tr = self.tracer
        with tr.span("cdc.capture.build") as cap:
            feed = changes_to_envelope(self.spark.read.parquet(feed_path), "operation",
                                       gen.SCHEMA_NAME, gen.FEED_TABLE, "ts", DATA_COLS)
            diff = cdc_transform(self._snapshot(old), self._snapshot(new), "id",
                                 gen.SCHEMA_NAME, gen.SNAPSHOT_TABLE,
                                 capture_ts=F.timestamp_seconds(F.lit(capture_s)))
            env = feed.unionByName(diff)
        with tr.span("cdc.log.append") as s:
            s["changes"] = cap["changes"] = self.log.append(env)
        with tr.span("streaming.pipeline.drain") as s:
            query = self.pipe.start(available_now=True)
            tr.adopt_group(s, str(query.runId))
            query.awaitTermination()
            progress = query.recentProgress
            s["micro_batches"] = len(progress)
            s["rows"] = sum(p["numInputRows"] for p in progress)
            s["trigger_ms"] = sum(p["durationMs"].get("triggerExecution", 0) for p in progress)
            s["add_batch_ms"] = sum(p["durationMs"].get("addBatch", 0) for p in progress)
        with tr.span("cdc.caggs.refresh") as s:
            before = [_committed(c.path, "regions") for c in self.levels] if tr.enabled else None
            if first:
                cascade_refresh(self.levels, self.log.read())
            else:
                cascade_refresh(self.levels, self.log.read(), start_s=lo, end_s=hi + HOUR)
            if tr.enabled:
                s["regions_rewritten"] = sum(
                    _rewritten(b, _committed(c.path, "regions"))
                    for b, c in zip(before, self.levels))
        with tr.span("cdc.incremental.fetch") as s:
            batch, offset = self.poller.fetch(
                self.log.read_table(gen.SCHEMA_NAME, gen.SNAPSHOT_TABLE))
        if tr.enabled:
            self.fetched.append((s, batch))
        _apply_traced(tr, self.table, batch)
        self.poller.ack(offset)

    def _reads(self):
        """(op kind, span name, frame builder) of the read mix."""
        now = F.timestamp_seconds(F.lit(self.feed.now_s))
        recent = (F.col("ts") >= now - F.expr("INTERVAL 6 HOURS")) & (F.col("ts") < now)
        as_of = F.timestamp_seconds(F.lit(self.feed.now_s - 12 * HOUR))
        feed_log = lambda: self.log.read_table(gen.SCHEMA_NAME, gen.FEED_TABLE)  # noqa: E731
        return [
            ("latest_state", "cdc.replay.latest_state",
             lambda: latest_state(feed_log(), "id", ROW_SCHEMA)),
            ("state_as_of", "cdc.replay.as_of",
             lambda: state_as_of(feed_log(), "id", ROW_SCHEMA, as_of)),
            ("materialized_read", "cdc.materialize.read", lambda: self.table.read()),
            ("cagg_query", "cdc.caggs.query", lambda: self.levels[0].query(self.log.read())),
            ("view_scan", "cdc.views.scan",
             lambda: event_log_view(self.log.read(), gen.SCHEMA_NAME, gen.FEED_TABLE).filter(recent)),
            ("events_per_window", "streaming.monitor.window",
             lambda: events_per_window(self.log.read().filter(recent), "10 minutes")),
        ]

    def warmup(self) -> None:
        """One untimed iteration: set-up runs none of the reads, and its
        refresh and merge take the initial-build paths."""
        self.iteration()

    def iteration(self) -> list[tuple[str, float, float]]:
        feed = self.feed.step()
        batch = self._stage(feed, self.snaps.step(self.feed.now_s))
        tr = self.tracer
        ops = []
        with tr.trace(f"step{self.staged}"):
            stamp = self.clock.start()
            with tr.span("write"):
                self._write(*batch)
            ops.append(("write", *self.clock.since(stamp)))
            tr.note_cache()
            for kind, span, build in self._reads():
                self.spark.catalog.clearCache()
                t0 = self.clock.start()
                with tr.span(span):
                    _consume(build())
                ops.append((kind, *self.clock.since(t0)))
                tr.note_cache()
        # Fetched batches are closed above at their offset, so counting
        # them after the timed ops (traced runs only) sees the same rows.
        for rec, fetched in self.fetched:
            rec["rows"] = fetched.count()
        self.fetched = []
        return ops

    def check(self) -> list[str]:
        bad = []
        for t in gen.TABLES:
            topic = self.pipe.read_topic(t).count()
            logged = self.log.read_table(gen.SCHEMA_NAME, t).count()
            if topic != logged:
                bad.append(f"{t}: topic holds {topic} events, log {logged}")
        ids = self.log.read().agg(
            F.count(F.lit(1)).alias("n"), F.countDistinct("event_id").alias("d"),
            F.min("event_id").alias("lo"), F.max("event_id").alias("hi"),
        ).first()
        if not (ids["lo"] == 1 and ids["hi"] == ids["n"] == ids["d"] == self.log.last_event_id()):
            bad.append(f"event_id not dense and unique: {ids.asDict()}")
        replayed = latest_state(
            self.log.read_table(gen.SCHEMA_NAME, gen.SNAPSHOT_TABLE), "id", ROW_SCHEMA)
        if not same_rows(self.table.read(), replayed):
            bad.append("materialized table differs from latest_state(log)")
        log = self.log.read()
        for cagg, rt in ((self.levels[0], self.levels[0].query(log)),
                         (self.levels[1], query_hierarchy(self.levels, log))):
            eb = F.floor(F.unix_timestamp("ts") / cagg.secs).cast("long") * cagg.secs
            direct = log.groupBy("table_name", "operation",
                                 F.timestamp_seconds(eb).alias("bucket")).agg(*_hourly_aggs())
            if not same_rows(rt.select(*direct.columns), direct):
                bad.append(f"real-time {cagg.width} aggregate differs from a direct aggregate")
        return bad

    def layer_metrics(self, spans: dict) -> dict:
        return _log_layout(self.log)
