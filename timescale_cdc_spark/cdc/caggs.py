"""Continuous aggregates — the TimescaleDB continuous-aggregate /
real-time-aggregate analog over time-partitioned tables.

Timescale's flagship query-acceleration feature over hypertables (the
reference creates hypertables precisely for this class of bucketed
time-series querying, init.sql:69-72; readme.md:220): a materialized
``time_bucket`` aggregate that is refreshed INCREMENTALLY over
bucket-aligned windows, plus the *real-time* view that unions the
materialized buckets with an on-the-fly aggregation of the
not-yet-materialized tail — so queries are always exact while the
expensive aggregation work is amortized into refreshes.

Spark-native design (no Delta in this environment):

* Storage is day regions stored as versioned directories behind one
  manifest (``_MANIFEST.json`` maps ``regions`` to ``d=<day>/v_<gen>``
  directories). The commit protocol — staging, rename, one atomic
  manifest replace, retained-history GC — is cdc/store.py's: a refresh
  is all-or-nothing across a crash at any point, and the previous
  generation is retained so a reader that resolved paths just before a
  concurrent commit still sees every directory it captured.
* ``refresh(source, start, end)`` recomputes WHOLE buckets inside the
  bucket-aligned window from the source (Timescale semantics:
  ``refresh_continuous_aggregate`` recomputes the window, it does not
  merge partials), touching only the day regions the window covers —
  O(window), never O(table). Late/updated data is handled by
  re-refreshing its window (backfill below the watermark is allowed
  and replaces those buckets).
* The watermark is the END of the highest refreshed bucket.
  ``query(source)`` = materialized rows with ``bucket < watermark``
  ∪ aggregate of source rows with ``ts >= watermark`` — Timescale's
  real-time aggregate. With a ts-partitioned source (the event log's
  ``event_date=`` chunks), the tail scan partition-prunes to the
  post-watermark chunks.
* Every manifest commit records the level's stored parquet schema
  under ``schema`` (``StructType.jsonValue()``); ``materialized()``
  and the carried-region read of a partial-day refresh scan with it,
  so building those frames infers nothing from the files. A manifest
  written before the key existed has no ``schema``; its reads fall
  back to inferring one from the files.

100 TB shape: refresh cost is proportional to the refreshed window's
source rows (one shuffle on (keys, bucket)); the materialized table is
|keys| × |buckets| — orders of magnitude smaller than the facts; the
real-time tail is bounded by refresh lag. Aggregates are declared as
Column builders so any Spark aggregate works; the built-ins used by
the registered query follow queries/base.py's decimal-exact
conventions.

Single-writer per aggregate, like the reference's one-task-per-
relation connector (cdc-timescale-connector.json:12).
"""

from __future__ import annotations

import datetime as dt
from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from timescale_cdc_spark.cdc.store import VersionedStore
from timescale_cdc_spark.functions.time import bucket_seconds

#: signature: () -> list[Column] — fresh aggregate Columns per plan
AggBuilder = Callable[[], list[Column]]


class ContinuousAggregate:
    """An incrementally-refreshed ``time_bucket`` aggregate with a
    real-time union view."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        width: str,
        ts_col: str,
        key_cols: list[str],
        agg_builder: AggBuilder,
    ):
        self.spark = spark
        self.path = path
        self.width = width
        self.secs = bucket_seconds(width)
        self.ts_col = ts_col
        self.key_cols = list(key_cols)
        self.agg_builder = agg_builder
        # current + previous generation
        self.store = VersionedStore(path, "regions", "d=", retain_generations=2)

    def exists(self) -> bool:
        return self.store.load()["version"] > 0

    def watermark_s(self) -> int | None:
        """Epoch-second END of the highest refreshed bucket (None
        before the first refresh)."""
        return self.store.load().get("watermark_s")

    # -- bucketing ----------------------------------------------------

    def _eb(self) -> Column:
        return (
            F.floor(F.unix_timestamp(F.col(self.ts_col)) / self.secs).cast(
                "long"
            )
            * self.secs
        )

    def _aggregate(self, source: DataFrame) -> DataFrame:
        """One (keys, bucket) aggregation pass — shared by refresh and
        the real-time tail."""
        return (
            source.withColumn("_eb", self._eb())
            .groupBy(*self.key_cols, "_eb")
            .agg(*self.agg_builder())
            .withColumn("bucket", F.timestamp_seconds("_eb"))
        )

    def _align(self, epoch_s: int, up: bool = False) -> int:
        q, r = divmod(int(epoch_s), self.secs)
        if up and r:
            q += 1
        return q * self.secs

    def align_down(self, epoch_s: int) -> int:
        """Public complete-bucket alignment (VERDICT r13 #6): the
        largest bucket start ≤ ``epoch_s``. Callers coordinating a
        cascade refresh use this to cap a coarser level at the last
        COMPLETE bucket under a finer level's watermark — e.g.
        ``day.refresh(..., end_s=day.align_down(hour_watermark_s))``
        never materializes a day that finer-grained late data could
        still change."""
        return self._align(epoch_s)

    def align_up(self, epoch_s: int) -> int:
        """The smallest bucket start ≥ ``epoch_s`` (exclusive-end
        counterpart of :meth:`align_down`)."""
        return self._align(epoch_s, up=True)

    # -- refresh ------------------------------------------------------

    def refresh(
        self,
        source: DataFrame,
        start_s: int | None = None,
        end_s: int | None = None,
    ) -> None:
        """Recompute the buckets whose start lies in the bucket-aligned
        ``[start_s, end_s)`` window (epoch seconds; defaults = the
        source's full observed range) and commit them atomically.

        Only the day regions intersecting the window are rewritten;
        every other region's directories are carried forward in the
        manifest untouched. Idempotent: re-refreshing the same window
        with the same source replaces those regions with identical
        content.
        """
        if start_s is None or end_s is None:
            lo, hi = (
                source.select(self._eb().alias("_e"))
                .agg(F.min("_e"), F.max("_e"))
                .first()
            )
            if lo is None:
                return  # empty source, nothing to refresh
            start_s = lo if start_s is None else start_s
            end_s = (hi + self.secs) if end_s is None else end_s
        start_s = self._align(start_s)
        end_s = self._align(end_s, up=True)
        if end_s <= start_s:
            return

        manifest = self.store.load()
        window = source.filter(
            (F.col(self.ts_col) >= F.timestamp_seconds(F.lit(start_s)))
            & (F.col(self.ts_col) < F.timestamp_seconds(F.lit(end_s)))
        )
        agged = self._aggregate(window).withColumn(
            "_d", F.to_date(F.timestamp_seconds("_eb"))
        )
        # Day regions are replaced whole, but the refresh window is
        # bucket-aligned — a window that covers part of a day must
        # carry that day's out-of-window buckets forward into the new
        # region version (otherwise they'd vanish with the superseded
        # directory). Cost stays O(touched day regions).
        touched = [
            d for d in manifest["regions"]
            if self._day_in_window(d, start_s, end_s)
        ]
        if touched:
            carried = (
                self.store.read(self.spark, manifest, touched)
                .filter(
                    (F.col("_eb") < F.lit(start_s))
                    | (F.col("_eb") >= F.lit(end_s))
                )
                .withColumn("_d", F.to_date(F.timestamp_seconds("_eb")))
            )
            agged = agged.unionByName(carried)
        # Days inside the window with no staged output (all their rows
        # deleted / none existed) drop out of the manifest.
        regions = self.store.publish(agged, "_d", manifest, replaced=touched)
        new_wm = manifest.get("watermark_s")
        if new_wm is None or end_s > new_wm:
            new_wm = end_s
        self.store.commit(
            manifest, regions, schema=agged.drop("_d").schema,
            watermark_s=new_wm,
        )

    def _day_in_window(self, day: str, start_s: int, end_s: int) -> bool:
        d0 = dt.datetime.strptime(day, "%Y-%m-%d").replace(
            tzinfo=dt.timezone.utc
        )
        day_start = int(d0.timestamp())
        day_end = day_start + 86400
        return day_start < end_s and day_end > start_s

    # -- read ---------------------------------------------------------

    def materialized(self) -> DataFrame:
        """The materialized aggregate rows (explicit committed paths —
        no directory listing races, region-granular pruning by
        construction). A refresh over a window with no source rows
        commits no region; its level reads as an empty frame of the
        recorded schema, so a cascade's next level can refresh from
        it. Raises before the first refresh."""
        manifest = self.store.load()
        if not manifest["regions"] and "schema" not in manifest:
            raise ValueError(f"continuous aggregate at {self.path} is empty")
        return self.store.read(self.spark, manifest)

    # -- streaming refresh policy ------------------------------------

    def refresh_for_batch(
        self, batch_df: DataFrame, source: DataFrame
    ) -> None:
        """Invalidation-driven refresh (the Timescale refresh-policy /
        invalidation-log analog): refresh exactly the bucket span this
        batch touches, from ``source`` (which must already contain the
        batch). A batch of in-order data refreshes one tail window; a
        batch carrying late rows automatically widens the window back
        to the oldest touched bucket — the invalidation semantics,
        derived from the data instead of a trigger-maintained log."""
        bounds = (
            batch_df.select(self._eb().alias("_e"))
            .agg(F.min("_e").alias("lo"), F.max("_e").alias("hi"))
            .first()
        )
        if bounds["lo"] is None:
            return
        self.refresh(source, start_s=bounds["lo"],
                     end_s=bounds["hi"] + self.secs)

    def attach(self, stream: DataFrame, source_path: str, checkpoint: str):
        """Wire the aggregate into a stream: each micro-batch lands in
        ``source_path`` under a per-batch partition (idempotent replace
        on replay — the gate-sink convention), then the touched bucket
        windows are refreshed from the updated source. Replays are
        harmless end-to-end: the batch rewrite is a same-content
        replace and ``refresh`` is idempotent."""

        def _sink(batch_df: DataFrame, batch_id: int) -> None:
            batch_df.write.mode("overwrite").parquet(
                f"{source_path}/ingest_batch={batch_id}"
            )
            source = self.spark.read.parquet(source_path)
            self.refresh_for_batch(batch_df, source)

        return (
            stream.writeStream.foreachBatch(_sink)
            .option("checkpointLocation", checkpoint)
            .start()
        )

    def query(self, source: DataFrame) -> DataFrame:
        """Real-time aggregate (Timescale ``materialized_only=false``):
        materialized buckets strictly below the watermark ∪ on-the-fly
        aggregation of source rows at/after it. Exact at any refresh
        lag; the tail scan prunes to post-watermark chunks when the
        source is ts-partitioned."""
        wm = self.watermark_s()
        # empty-regions guard (round 9, found by the cascade soak): a
        # refresh whose window held no source rows commits a manifest
        # with an advanced watermark and ZERO regions — serving
        # materialized(∅) ∪ tail(>= wm) would silently drop everything
        # below the watermark. With nothing materialized, aggregate
        # the full source instead.
        if wm is None or not self.store.load()["regions"]:
            return self._aggregate(source).drop("_eb")
        mat = self.materialized().filter(F.col("_eb") < F.lit(wm))
        tail = source.filter(
            F.col(self.ts_col) >= F.timestamp_seconds(F.lit(wm))
        )
        return mat.drop("_eb").unionByName(
            self._aggregate(tail).drop("_eb")
        )


# ---------------------------------------------------------------------------
# Hierarchical continuous aggregates (Timescale 2.9 caggs-on-caggs)
# ---------------------------------------------------------------------------


def cascade_refresh(
    levels: list[ContinuousAggregate],
    source: DataFrame,
    start_s: int | None = None,
    end_s: int | None = None,
) -> None:
    """Refresh a hierarchy of continuous aggregates — each level
    sourced from the one below it (Timescale 2.9 hierarchical caggs:
    an hourly cagg over the facts, a daily cagg over the hourly one,
    ...). ``levels[0]`` refreshes from ``source``; ``levels[i]``
    refreshes from ``levels[i-1].materialized()``, with the window
    widened to each level's bucket alignment so every recomputed
    coarse bucket reads a complete span of fine buckets.

    Each level's width must be an integer multiple of the previous
    level's, and each upper level's ``ts_col`` must be the lower
    level's ``bucket`` column. The upper levels' agg builders operate
    on the lower level's PARTIAL columns (sums of counts, unions of
    sketches — the rollup algebra from functions/hyper.py).

    COMPLETE-bucket semantics (the Timescale rule): an upper-level
    bucket is (re)materialized only once the lower level's watermark
    covers its whole span — the refresh window is capped at the lower
    watermark aligned DOWN to the upper width. An in-progress coarse
    bucket therefore stays OUT of the upper watermark and is served
    exactly by :func:`query_hierarchy`'s real-time tail; the naive
    align-up alternative would stamp a partial bucket below the
    watermark, hiding data that arrives later in the same bucket
    until the next cascade.

    Correctness relies on the inductive invariant that every level is
    current over its whole materialized span — true when all writes
    go through this cascade (a late backfill re-refreshes its window
    at level 0, and the widened window at each upper level recomputes
    from the then-current lower table). 100 TB shape: level 0 reads
    O(window) facts; every other level reads O(widened window) PARTIAL
    rows — |keys| × fine buckets — never facts.
    """
    if not levels:
        return
    base = levels[0]
    if start_s is None or end_s is None:
        lo, hi = (
            source.select(base._eb().alias("_e"))
            .agg(F.min("_e"), F.max("_e"))
            .first()
        )
        if lo is None:
            return
        start_s = lo if start_s is None else start_s
        end_s = (hi + base.secs) if end_s is None else end_s
    lo_i, hi_i = int(start_s), int(end_s)
    prev: ContinuousAggregate | None = None
    for cagg in levels:
        if prev is not None:
            if cagg.secs % prev.secs != 0:
                raise ValueError(
                    f"hierarchy widths must nest: {cagg.width} is not a "
                    f"multiple of {prev.width}"
                )
            if cagg.ts_col != "bucket":
                raise ValueError(
                    "upper hierarchy levels aggregate the lower level's "
                    "'bucket' column"
                )
        lo_i = cagg._align(lo_i)
        hi_i = cagg._align(hi_i, up=True)
        if prev is not None:
            cap = prev.watermark_s()
            if cap is None:
                break
            hi_i = min(hi_i, cagg._align(cap))
            if hi_i <= lo_i:
                # the touched coarse buckets are all still incomplete
                # at the lower level; this level (and everything
                # above) keeps serving them from the real-time tail
                break
        src = source if prev is None else prev.materialized()
        cagg.refresh(src, start_s=lo_i, end_s=hi_i)
        prev = cagg


def query_hierarchy(
    levels: list[ContinuousAggregate], source: DataFrame
) -> DataFrame:
    """Real-time view through the whole hierarchy: each level's
    ``query`` runs over the level below's real-time view, so the
    result is exact at ANY combination of refresh lags — the top
    level's post-watermark tail aggregates the lower level's
    materialized-plus-tail rows on the fly."""
    view = source
    for cagg in levels:
        view = cagg.query(view)
    return view
