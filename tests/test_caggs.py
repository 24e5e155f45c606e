"""ContinuousAggregate (cdc/caggs.py) — the Timescale
continuous-aggregate analog. The load-bearing invariant, checked at
every step of an incremental scenario: ``query(source)`` (real-time
view) equals the full one-shot aggregation of the CURRENT source,
regardless of how much has been materialized or when.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import pytest
from pyspark.sql import functions as F

from timescale_cdc_spark.cdc.caggs import ContinuousAggregate


def _rows(day: int, hours: list[int], key: str = "a", v: float = 1.0):
    return [
        (key, dt.datetime(2024, 1, day, h), float(v + h))
        for h in hours
    ]


def _aggs():
    return [
        F.count("*").alias("n"),
        F.sum(F.col("v").cast("decimal(18,2)")).cast("double").alias("sum_v"),
        F.min("v").alias("min_v"),
        F.max("v").alias("max_v"),
    ]


def _full(df):
    eb = (F.floor(F.unix_timestamp(F.col("ts")) / 3600).cast("long") * 3600)
    return (
        df.withColumn("_eb", eb)
        .groupBy("k", "_eb")
        .agg(*_aggs())
        .withColumn("bucket", F.timestamp_seconds("_eb"))
        .drop("_eb")
    )


def _sorted_rows(df):
    return sorted(
        tuple(r) for r in df.select("k", "bucket", "n", "sum_v", "min_v", "max_v").collect()
    )


@pytest.fixture()
def cagg(spark, tmp_path):
    return ContinuousAggregate(
        spark,
        str(tmp_path / "cagg"),
        "1 hour",
        "ts",
        ["k"],
        _aggs,
    )


SCHEMA = "k string, ts timestamp, v double"


def test_refresh_then_query_equals_full_recompute(spark, cagg):
    src = spark.createDataFrame(
        _rows(1, [0, 1, 1, 5]) + _rows(2, [3, 4], key="b"), SCHEMA
    )
    cagg.refresh(src)
    assert _sorted_rows(cagg.query(src)) == _sorted_rows(_full(src))
    # fully materialized → tail empty, materialized alone matches too
    assert _sorted_rows(cagg.materialized()) == _sorted_rows(_full(src))


def test_incremental_refresh_parity_and_realtime_tail(spark, cagg):
    d1 = spark.createDataFrame(_rows(1, [0, 2, 2]), SCHEMA)
    cagg.refresh(d1)
    wm1 = cagg.watermark_s()
    # new data arrives AFTER the watermark; do NOT refresh yet
    d2 = d1.unionByName(
        spark.createDataFrame(_rows(3, [1, 1, 7], key="b"), SCHEMA)
    )
    # real-time view is already exact (tail aggregated on the fly)
    assert _sorted_rows(cagg.query(d2)) == _sorted_rows(_full(d2))
    # incremental refresh of just the new window
    cagg.refresh(d2, start_s=wm1)
    assert cagg.watermark_s() > wm1
    assert _sorted_rows(cagg.materialized()) == _sorted_rows(_full(d2))
    # the window starts mid-day-1 (at wm1), so day-1 is rewritten with
    # its pre-window buckets carried forward; day-3 is new in gen 2;
    # day-2 (no data, no region) stays absent
    man = json.load(open(os.path.join(cagg.path, "_MANIFEST.json")))
    assert man["regions"]["2024-01-01"] == "v_000002"
    assert man["regions"]["2024-01-03"] == "v_000002"
    assert "2024-01-02" not in man["regions"]


def test_day_aligned_incremental_refresh_leaves_old_regions_untouched(
    spark, cagg
):
    """The production pattern: refresh on DAY-aligned windows (the
    source's chunk granularity) — prior day regions are carried in the
    manifest without any rewrite."""
    d1 = spark.createDataFrame(_rows(1, [0, 2]), SCHEMA)
    day2 = int(dt.datetime(2024, 1, 2, tzinfo=dt.timezone.utc).timestamp())
    cagg.refresh(d1, end_s=day2)  # aligned to day boundary
    d2 = d1.unionByName(spark.createDataFrame(_rows(2, [4]), SCHEMA))
    cagg.refresh(d2, start_s=day2)
    man = json.load(open(os.path.join(cagg.path, "_MANIFEST.json")))
    assert man["regions"]["2024-01-01"] == "v_000001"  # untouched
    assert man["regions"]["2024-01-02"] == "v_000002"
    assert _sorted_rows(cagg.materialized()) == _sorted_rows(_full(d2))


def test_refresh_idempotent_and_backfill_replaces_buckets(spark, cagg):
    src = spark.createDataFrame(_rows(1, [0, 1]) + _rows(2, [2]), SCHEMA)
    cagg.refresh(src)
    before = _sorted_rows(cagg.materialized())
    wm = cagg.watermark_s()
    # replaying the same refresh changes nothing
    cagg.refresh(src)
    assert _sorted_rows(cagg.materialized()) == before
    # late data lands in day 1 (below the watermark) → backfill window
    late = src.unionByName(
        spark.createDataFrame(_rows(1, [1, 1], v=100.0), SCHEMA)
    )
    day1 = int(dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc).timestamp())
    cagg.refresh(late, start_s=day1, end_s=day1 + 86400)
    assert cagg.watermark_s() == wm  # backfill does not move the watermark
    assert _sorted_rows(cagg.materialized()) == _sorted_rows(_full(late))


def test_crash_orphan_is_replaced_and_gcd(spark, cagg):
    src = spark.createDataFrame(_rows(1, [0]), SCHEMA)
    cagg.refresh(src)
    # simulate a crashed gen-2 refresh: uncommitted version dir +
    # leftover staging, manifest still at gen 1
    orphan = os.path.join(cagg.path, "d=2024-01-01", "v_000002")
    os.makedirs(orphan)
    open(os.path.join(orphan, "junk"), "w").write("x")
    os.makedirs(os.path.join(cagg.path, "_staging_v_000002"))
    before = _sorted_rows(cagg.materialized())
    assert _sorted_rows(cagg.materialized()) == before  # reader unaffected
    # the retry (same generation number) replaces the orphan cleanly
    cagg.refresh(src)
    assert _sorted_rows(cagg.materialized()) == before
    assert not os.path.exists(os.path.join(cagg.path, "_staging_v_000002"))
    # gen-1 dir retained (history), nothing else
    days = os.listdir(os.path.join(cagg.path, "d=2024-01-01"))
    assert sorted(days) == ["v_000001", "v_000002"]


def test_query_before_any_refresh_is_plain_aggregate(spark, cagg):
    src = spark.createDataFrame(_rows(1, [0, 1]), SCHEMA)
    assert _sorted_rows(cagg.query(src)) == _sorted_rows(_full(src))
    assert not cagg.exists()


def test_superseded_region_retained_one_generation(spark, cagg):
    src = spark.createDataFrame(_rows(1, [0, 1]), SCHEMA)
    cagg.refresh(src)
    cagg.refresh(src)  # gen 2 supersedes day-1 region
    ddir = os.path.join(cagg.path, "d=2024-01-01")
    assert sorted(os.listdir(ddir)) == ["v_000001", "v_000002"]
    cagg.refresh(src)  # gen 3: v1 now unreferenced by current+history
    assert sorted(os.listdir(ddir)) == ["v_000002", "v_000003"]


# -- streaming refresh policy ------------------------------------------


def test_refresh_for_batch_in_order_and_late(spark, cagg, tmp_path):
    """Invalidation-driven refresh: in-order batches refresh the tail;
    a late batch widens the window back; replays are idempotent. The
    invariant at every step: materialized == full recompute of the
    accumulated source."""
    src_dir = str(tmp_path / "src")
    batches = [
        _rows(1, [0, 1]),                       # in-order
        _rows(2, [3], key="b"),                 # in-order, new day
        _rows(1, [1, 5], v=50.0),               # LATE rows into day 1
    ]
    for bid, rows in enumerate(batches):
        bdf = spark.createDataFrame(rows, SCHEMA)
        bdf.write.mode("overwrite").parquet(f"{src_dir}/ingest_batch={bid}")
        source = spark.read.parquet(src_dir)
        cagg.refresh_for_batch(bdf, source)
        assert _sorted_rows(cagg.materialized()) == _sorted_rows(
            _full(source)
        )
    # replay the LAST batch (at-least-once delivery): same content
    bdf = spark.createDataFrame(batches[-1], SCHEMA)
    bdf.write.mode("overwrite").parquet(f"{src_dir}/ingest_batch=2")
    source = spark.read.parquet(src_dir)
    cagg.refresh_for_batch(bdf, source)
    assert _sorted_rows(cagg.materialized()) == _sorted_rows(_full(source))
    # late batch did NOT advance the watermark past the tail
    assert cagg.watermark_s() == int(
        dt.datetime(2024, 1, 2, 4, tzinfo=dt.timezone.utc).timestamp()
    )


def test_attach_streaming_end_to_end(spark, cagg, tmp_path):
    """attach(): a real file-source stream lands batches and refreshes
    touched windows; the materialized aggregate converges to the full
    recompute of everything that arrived."""
    in_dir = str(tmp_path / "incoming")
    src_dir = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(in_dir)
    d1 = spark.createDataFrame(_rows(1, [0, 2]), SCHEMA)
    d1.write.mode("append").parquet(in_dir)
    stream = spark.readStream.schema(SCHEMA).parquet(in_dir)
    q = cagg.attach(stream, src_dir, ckpt)
    try:
        q.processAllAvailable()
        d2 = spark.createDataFrame(_rows(2, [4, 4], key="b"), SCHEMA)
        d2.write.mode("append").parquet(in_dir)
        q.processAllAvailable()
    finally:
        q.stop()
    source = spark.read.parquet(src_dir)
    assert source.count() == 4
    assert _sorted_rows(cagg.materialized()) == _sorted_rows(_full(source))


# ---------------------------------------------------------------------------
# Hierarchical caggs (cascade_refresh / query_hierarchy)
# ---------------------------------------------------------------------------


def _hourly_partial_aggs():
    return [
        F.count("*").alias("n"),
        F.sum(F.col("v").cast("decimal(18,2)")).alias("sum_v"),
        F.hll_sketch_agg(F.col("uid"), F.lit(12)).alias("hll"),
    ]


def _daily_merge_aggs():
    return [
        F.sum("n").alias("n"),
        F.sum("sum_v").alias("sum_v"),
        F.hll_union_agg("hll").alias("hll"),
    ]


def _daily_direct(df):
    eb = (F.floor(F.unix_timestamp(F.col("ts")) / 86400).cast("long")
          * 86400)
    return (
        df.withColumn("_eb", eb)
        .groupBy("k", "_eb")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("v").cast("decimal(18,2)")).alias("sum_v"),
            F.hll_sketch_agg(F.col("uid"), F.lit(12)).alias("hll"),
        )
        .withColumn("bucket", F.timestamp_seconds("_eb"))
        .drop("_eb")
    )


def _readable(df):
    return sorted(
        tuple(r)
        for r in df.select(
            "k",
            "bucket",
            "n",
            F.col("sum_v").cast("double").alias("s"),
            F.round(F.hll_sketch_estimate("hll"), 6).alias("d"),
        ).collect()
    )


HSCHEMA = "k string, ts timestamp, v double, uid long"


def _hrows(day, hours, key="a"):
    return [
        (key, dt.datetime(2024, 1, day, h, m), float(h + m), (h * 7 + m) % 40)
        for h in hours
        for m in (0, 15, 30)
    ]


@pytest.fixture()
def hierarchy(spark, tmp_path):
    from timescale_cdc_spark.cdc.caggs import (
        cascade_refresh,
        query_hierarchy,
    )

    hourly = ContinuousAggregate(
        spark, str(tmp_path / "h"), "1 hour", "ts", ["k"],
        _hourly_partial_aggs,
    )
    daily = ContinuousAggregate(
        spark, str(tmp_path / "d"), "1 day", "bucket", ["k"],
        _daily_merge_aggs,
    )
    return [hourly, daily], cascade_refresh, query_hierarchy


def test_hierarchy_cascade_equals_direct(spark, hierarchy):
    levels, cascade, qh = hierarchy
    # data ends at 23:30 -> the hourly watermark reaches the day-3
    # boundary, so BOTH days are complete and materialize at the top
    src = spark.createDataFrame(
        _hrows(1, [0, 1, 5]) + _hrows(2, [22, 23], key="b"), HSCHEMA
    )
    cascade(levels, src)
    assert _readable(levels[1].materialized()) == _readable(
        _daily_direct(src)
    )
    assert _readable(qh(levels, src)) == _readable(_daily_direct(src))


def test_hierarchy_realtime_exact_at_any_lag(spark, hierarchy):
    levels, cascade, qh = hierarchy
    hourly, daily = levels
    d1 = spark.createDataFrame(_hrows(1, [0, 2]), HSCHEMA)
    # no refresh at all: pure on-the-fly through both levels
    assert _readable(qh(levels, d1)) == _readable(_daily_direct(d1))
    cascade(levels, d1)
    # new post-watermark data, NOTHING refreshed yet
    d2 = d1.unionByName(
        spark.createDataFrame(_hrows(1, [6, 7]) + _hrows(2, [1], key="b"),
                              HSCHEMA)
    )
    assert _readable(qh(levels, d2)) == _readable(_daily_direct(d2))
    # refresh only the HOURLY level: daily tail reads hourly's view
    hourly.refresh(d2, start_s=hourly.watermark_s())
    assert _readable(qh(levels, d2)) == _readable(_daily_direct(d2))
    # full cascade: day 1 is complete (hourly watermark is into day
    # 2) and materializes; day 2 is IN PROGRESS — complete-bucket
    # semantics keep it out of the materialized table and serve it
    # from the real-time tail, still exact
    cascade(levels, d2)
    day2 = dt.datetime(2024, 1, 2)
    assert _readable(daily.materialized()) == _readable(
        _daily_direct(d2).where(F.col("bucket") < F.lit(day2))
    )
    assert _readable(qh(levels, d2)) == _readable(_daily_direct(d2))


def test_hierarchy_backfill_recascades(spark, hierarchy):
    levels, cascade, _ = hierarchy
    d1 = spark.createDataFrame(_hrows(1, [0, 5]) + _hrows(3, [2]), HSCHEMA)
    cascade(levels, d1)
    # late rows land inside day 1 (below both watermarks)
    d2 = d1.unionByName(
        spark.createDataFrame(_hrows(1, [1], key="b"), HSCHEMA)
    )
    lo = int(dt.datetime(2024, 1, 1, 1, tzinfo=dt.timezone.utc).timestamp())
    cascade(levels, d2, start_s=lo, end_s=lo + 3600)
    # day 1 re-materialized with the backfill; day 3 is incomplete
    # (hourly watermark sits inside it) so it stays tail-served
    day3 = dt.datetime(2024, 1, 3)
    assert _readable(levels[1].materialized()) == _readable(
        _daily_direct(d2).where(F.col("bucket") < F.lit(day3))
    )
    from timescale_cdc_spark.cdc.caggs import query_hierarchy

    assert _readable(query_hierarchy(levels, d2)) == _readable(
        _daily_direct(d2)
    )


def test_hierarchy_validates_nesting(spark, tmp_path, hierarchy):
    levels, cascade, _ = hierarchy
    src = spark.createDataFrame(_hrows(1, [0]), HSCHEMA)
    bad = ContinuousAggregate(
        spark, str(tmp_path / "bad"), "90 minutes", "bucket", ["k"],
        _daily_merge_aggs,
    )
    with pytest.raises(ValueError, match="nest"):
        cascade([levels[0], bad], src)
    bad_ts = ContinuousAggregate(
        spark, str(tmp_path / "bad2"), "1 day", "ts", ["k"],
        _daily_merge_aggs,
    )
    with pytest.raises(ValueError, match="bucket"):
        cascade([levels[0], bad_ts], src)


def test_align_down_up_public_helpers(spark, tmp_path):
    """align_down/align_up (round 14, VERDICT r13 #6): the public
    complete-bucket alignment the scagg_day driver entry uses instead
    of reaching into _align."""
    day = ContinuousAggregate(
        spark, str(tmp_path / "d"), "1 day", "ts", ["k"], _aggs
    )
    assert day.align_down(0) == 0
    assert day.align_down(86399) == 0
    assert day.align_down(86400) == 86400
    assert day.align_up(86399) == 86400
    assert day.align_up(86400) == 86400
    # Jan 10 2024 00:00 UTC is already day-aligned
    assert day.align_down(1704844800) == 1704844800


def test_cascade_after_empty_window_refresh_keeps_versions_and_watermarks(
    spark, hierarchy
):
    """ADVICE r16 (medium): a cascade over a window that holds no rows
    commits version 1 and a watermark with no regions. The next
    cascade must bump each level's version and never move a watermark
    backwards."""
    levels, cascade, qh = hierarchy
    hourly, daily = levels
    src = spark.createDataFrame(
        _hrows(1, [0, 5]) + _hrows(2, [3], key="b"), HSCHEMA
    )
    day_s = 86400
    jan1 = int(dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc).timestamp())
    jan10 = jan1 + 9 * day_s
    cascade(levels, src, start_s=jan10, end_s=jan10 + day_s)
    for cagg in levels:
        m = cagg.store.load()
        assert (m["version"], m["regions"], m["watermark_s"]) == (
            1, {}, jan10 + day_s
        )
    cascade(levels, src, start_s=jan1, end_s=jan1 + 2 * day_s)
    for cagg in levels:
        m = cagg.store.load()
        assert m["version"] == 2
        assert m["watermark_s"] == jan10 + day_s
        assert sorted(m["regions"]) == ["2024-01-01", "2024-01-02"]
    assert _readable(qh(levels, src)) == _readable(_daily_direct(src))


def _two_levels(spark, root):
    return [
        ContinuousAggregate(spark, str(root / "h"), "1 hour", "ts", ["k"],
                            _hourly_partial_aggs),
        ContinuousAggregate(spark, str(root / "d"), "1 day", "bucket", ["k"],
                            _daily_merge_aggs),
    ]


def test_cascade_commits_each_level_with_its_own_types(spark, tmp_path):
    """ADVICE r16 (medium): levels whose same-named columns differ in
    type (hourly sum_v is decimal(28,2), the daily sum of it
    decimal(38,2)) each commit the types their own aggregates produce,
    and a cascade leaves no persisted RDD behind."""
    from pyspark.sql import types as T

    from timescale_cdc_spark.cdc.caggs import cascade_refresh

    src = spark.createDataFrame(
        _hrows(1, [0, 1, 5]) + _hrows(2, [3, 22, 23], key="b"), HSCHEMA
    )
    levels = _two_levels(spark, tmp_path)
    persisted = spark.sparkContext._jsc.getPersistentRDDs().size
    before = persisted()
    cascade_refresh(levels, src, start_s=0, end_s=1704326400)
    assert persisted() == before
    assert levels[0].materialized().schema["sum_v"].dataType == T.DecimalType(28, 2)
    assert levels[1].materialized().schema["sum_v"].dataType == T.DecimalType(38, 2)


def test_cascade_crash_between_level_commits_recovers(spark, tmp_path):
    """A cascade that dies after the lower level committed and before
    the upper one did leaves a legal state: the upper level serves
    those buckets from its real-time tail, so the hierarchy view stays
    exact, and the next cascade reaches the never-crashed state."""
    from timescale_cdc_spark.cdc.caggs import cascade_refresh, query_hierarchy

    src = spark.createDataFrame(
        _hrows(1, [0, 1, 5]) + _hrows(2, [3, 22, 23], key="b"), HSCHEMA
    )
    end_s = 1704326400  # 2024-01-04T00:00Z
    crashed = _two_levels(spark, tmp_path / "crashed")
    upper = crashed[1]

    def crash_once(*args, **kwargs):
        del upper.refresh  # the retry runs the real refresh
        raise RuntimeError("killed between the level commits")

    upper.refresh = crash_once
    with pytest.raises(RuntimeError):
        cascade_refresh(crashed, src, start_s=0, end_s=end_s)
    assert crashed[0].watermark_s() == end_s and not upper.exists()
    assert _readable(query_hierarchy(crashed, src)) == _readable(_daily_direct(src))

    cascade_refresh(crashed, src, start_s=0, end_s=end_s)
    control = _two_levels(spark, tmp_path / "control")
    cascade_refresh(control, src, start_s=0, end_s=end_s)
    for a, b in zip(crashed, control):
        assert a.watermark_s() == b.watermark_s()
        assert sorted(a.store.load()["regions"]) == sorted(b.store.load()["regions"])
        assert _readable(a.materialized()) == _readable(b.materialized())
    assert _readable(query_hierarchy(crashed, src)) == _readable(_daily_direct(src))


def test_reads_parent_format_manifest_history(spark, cagg):
    """A manifest written before the store kept ``history`` as a list
    holds the previous generation's region map as a dict. It is read
    as one retained generation: the next refresh keeps that
    generation's directories until they are superseded twice."""
    src = spark.createDataFrame(_rows(1, [0, 1]), SCHEMA)
    cagg.refresh(src)
    cagg.refresh(src)
    mpath = os.path.join(cagg.path, "_MANIFEST.json")
    man = json.load(open(mpath))
    man["history"] = {"2024-01-01": "v_000001"}
    with open(mpath, "w") as f:
        json.dump(man, f)
    assert cagg.store.load()["history"] == [
        {"version": 1, "regions": {"2024-01-01": "v_000001"}}
    ]
    cagg.store.gc()
    ddir = os.path.join(cagg.path, "d=2024-01-01")
    assert sorted(os.listdir(ddir)) == ["v_000001", "v_000002"]
    cagg.refresh(src)
    assert sorted(os.listdir(ddir)) == ["v_000002", "v_000003"]
    assert json.load(open(mpath))["history"] == [
        {"version": 2, "regions": {"2024-01-01": "v_000002"}}
    ]
    assert _sorted_rows(cagg.query(src)) == _sorted_rows(_full(src))
