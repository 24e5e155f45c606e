"""Streaming semantics tests (SURVEY.md §5 item 4): topic routing +
checkpoint resume (B3/B4/B9/B48), watermarked dedup (B42/B45),
windowed monitoring (B43/B44), stateful running state (B46)."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from timescale_cdc_spark.cdc import EventLog, cdc_transform
from timescale_cdc_spark.schemas import ASSETS_SCHEMA, EVENT_LOG_SCHEMA
from timescale_cdc_spark.streaming.monitor import events_per_window, session_bursts
from timescale_cdc_spark.streaming.pipeline import CdcStreamPipeline, deduped_stream
from timescale_cdc_spark.streaming.state import running_latest_state

T0 = dt.datetime(2025, 6, 1, 12, 0, 0)


def _assets(spark, rows):
    return spark.createDataFrame(rows, schema=ASSETS_SCHEMA)


SEED = [
    (1, "Water Pump", "WP001", T0, T0),
    (2, "Steam Trap", "STM002", T0, T0),
    (3, "Compressor", "CMP003", T0, T0),
]


def test_topic_routing_and_resume(spark, tmp_path):
    """EP2 end-to-end: log → stream → cdc-<table> sinks; a second run
    from the same checkpoint delivers only new batches (B48)."""
    log = EventLog(spark, str(tmp_path / "log"))
    s0, s1 = _assets(spark, []), _assets(spark, SEED)
    log.append(cdc_transform(s0, s1, "id", "dataschema", "assets", F.lit(T0)))
    log.append(cdc_transform(s0, s1, "id", "dataschema", "anomaly", F.lit(T0)))

    pipe = CdcStreamPipeline(
        spark, log, str(tmp_path / "topics"),
        tables=[("dataschema", "assets"), ("dataschema", "anomaly")],
    )
    q = pipe.start(available_now=True)
    q.awaitTermination(120)
    assert pipe.read_topic("assets").count() == 3
    assert pipe.read_topic("anomaly").count() == 3

    # new events → resume from checkpoint, no re-delivery
    s2 = _assets(spark, SEED + [(4, "Valve", "VLV004", T0, T0)])
    log.append(
        cdc_transform(s1, s2, "id", "dataschema", "assets",
                      F.lit(T0 + dt.timedelta(seconds=30)))
    )
    q = pipe.start(available_now=True)
    q.awaitTermination(120)
    assets = pipe.read_topic("assets")
    assert assets.count() == 4  # 3 + 1, not 7
    assert assets.filter(F.col("operation") == "INSERT").count() == 4
    # per-topic content equals the view over the log (A11 ⊕ B4)
    assert (
        assets.select("event_id").exceptAll(
            log.read_table("dataschema", "assets").select("event_id")
        ).count()
        == 0
    )


def test_qualified_topics_same_table_name_two_schemas(spark, tmp_path):
    """Round-3 regression (ADVICE r2): with qualified_topics=True and
    the SAME table name whitelisted in two schemas — the only scenario
    the flag exists for — delivery must route each schema's events to
    its own cdc-<schema>-<table> sink instead of raising 'ambiguous'
    on every micro-batch."""
    log = EventLog(spark, str(tmp_path / "log"))
    s0, s1 = _assets(spark, []), _assets(spark, SEED)
    log.append(cdc_transform(s0, s1, "id", "alpha", "assets", F.lit(T0)))
    log.append(
        cdc_transform(s0, _assets(spark, SEED[:2]), "id", "beta", "assets",
                      F.lit(T0))
    )

    pipe = CdcStreamPipeline(
        spark, log, str(tmp_path / "topics"),
        tables=[("alpha", "assets"), ("beta", "assets")],
        qualified_topics=True,
    )
    q = pipe.start(available_now=True)
    q.awaitTermination(120)
    assert pipe.read_topic("assets", "alpha").count() == 3
    assert pipe.read_topic("assets", "beta").count() == 2
    with pytest.raises(ValueError, match="ambiguous"):
        pipe.topic_path("assets")


def _envelope_stream_dir(spark, tmp_path, rows):
    """Write envelope rows as parquet to stream from."""
    path = str(tmp_path / "stream_src")
    df = spark.createDataFrame(rows, schema=EVENT_LOG_SCHEMA)
    df.write.mode("overwrite").parquet(path)
    return path


def test_streaming_dedup_within_watermark(spark, tmp_path):
    """B45: at-least-once re-delivery collapses on event_id."""
    rows = [
        (T0, "dataschema", "assets", "INSERT", None, '{"id": 1}', 1),
        (T0, "dataschema", "assets", "INSERT", None, '{"id": 1}', 1),  # dup
        (T0 + dt.timedelta(minutes=1), "dataschema", "assets", "INSERT", None, '{"id": 2}', 2),
    ]
    src = _envelope_stream_dir(spark, tmp_path, rows)
    stream = spark.readStream.schema(EVENT_LOG_SCHEMA).parquet(src)
    out = deduped_stream(stream, watermark="10 minutes")
    q = (
        out.writeStream.format("memory")
        .queryName("dedup_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT event_id FROM dedup_out").collect()
    assert sorted(r.event_id for r in got) == [1, 2]


def test_windowed_monitoring_batch_and_stream(spark, tmp_path):
    rows = [
        (T0 + dt.timedelta(seconds=s), "dataschema", "assets", "INSERT", None, "{}", i + 1)
        for i, s in enumerate([0, 10, 70, 130])
    ] + [
        (T0 + dt.timedelta(seconds=5), "dataschema", "anomaly", "INSERT", None, "{}", 100)
    ]
    df = spark.createDataFrame(rows, schema=EVENT_LOG_SCHEMA)

    win = events_per_window(df, "1 minute").collect()
    per = {(r.window_start, r.table_name): r.n for r in win}
    assert per[(T0, "assets")] == 2
    assert per[(T0 + dt.timedelta(minutes=1), "assets")] == 1
    assert per[(T0, "anomaly")] == 1

    sess = session_bursts(df, gap="1 minute", key="table_name").collect()
    by_table = {}
    for r in sess:
        by_table.setdefault(r.table_name, []).append(r.n)
    # assets: events at 0,10,70,130s with 60s gap → one session (chained)
    assert sorted(by_table["assets"]) == [4]
    assert by_table["anomaly"] == [1]

    # same plan as a stream with watermark (B42)
    src = _envelope_stream_dir(spark, tmp_path, rows)
    stream = spark.readStream.schema(EVENT_LOG_SCHEMA).parquet(src)
    agg = events_per_window(stream, "1 minute", watermark="10 minutes")
    q = (
        agg.writeStream.format("memory")
        .queryName("win_out")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.window_start, r.table_name): r.n
        for r in spark.sql("SELECT * FROM win_out").collect()
    }
    assert got == per


def test_running_latest_state(spark, tmp_path):
    """B46: the state store converges to last-event-wins per key."""
    rows = [
        (T0, "dataschema", "assets", "INSERT", None, '{"id": 1, "name": "A"}', 1),
        (T0 + dt.timedelta(minutes=1), "dataschema", "assets", "UPDATE",
         '{"id": 1, "name": "A"}', '{"id": 1, "name": "B"}', 2),
        (T0, "dataschema", "assets", "INSERT", None, '{"id": 2, "name": "X"}', 3),
        (T0 + dt.timedelta(minutes=2), "dataschema", "assets", "DELETE",
         '{"id": 2, "name": "X"}', None, 4),
    ]
    src = _envelope_stream_dir(spark, tmp_path, rows)
    stream = spark.readStream.schema(EVENT_LOG_SCHEMA).parquet(src)
    out = running_latest_state(stream, "id")
    q = (
        out.writeStream.format("memory")
        .queryName("state_out")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt_state"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r.pk: r for r in spark.sql("SELECT * FROM state_out").collect()}
    assert got["1"].last_operation == "UPDATE"
    assert '"B"' in got["1"].current_row
    assert got["2"].last_operation == "DELETE"
    assert got["2"].current_row is None


def test_streaming_exact_dedup_by_content(spark, tmp_path):
    """C1-streaming: the ingest gate drops re-posted content (incl.
    whitespace/case variants) across micro-batches within the
    watermark."""
    from timescale_cdc_spark.operators.curation import streaming_exact_dedup

    rows = [
        (1, "The quick brown fox", T0),
        (2, "unrelated document", T0),
        (3, "the  QUICK   brown fox", T0 + dt.timedelta(minutes=1)),  # dup of 1
        (4, "The quick brown fox", T0 + dt.timedelta(minutes=2)),  # exact dup
        (5, "fresh content", T0 + dt.timedelta(minutes=3)),
    ]
    src = str(tmp_path / "docs_src")
    spark.createDataFrame(
        rows, "doc_id long, text string, ingest_ts timestamp"
    ).repartition(1).write.mode("overwrite").parquet(src)

    stream = spark.readStream.schema(
        "doc_id long, text string, ingest_ts timestamp"
    ).parquet(src)
    out = streaming_exact_dedup(stream, "text", "ingest_ts")
    q = (
        out.writeStream.format("memory")
        .queryName("dedup_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_dedup"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    kept = {r.doc_id for r in spark.sql("SELECT * FROM dedup_out").collect()}
    assert 2 in kept and 5 in kept
    # exactly one of the three fox variants survives
    assert len(kept & {1, 3, 4}) == 1
    assert len(kept) == 3


def test_five_second_trigger_cadence(spark, tmp_path):
    """B5: the reference's 5 s poll cadence (readme.md:54) as
    trigger(processingTime='5 seconds') — smoke: query starts, makes
    progress, stops cleanly."""
    rows = [
        (T0, "dataschema", "assets", "INSERT", None, '{"id": 1}', 1),
    ]
    src = _envelope_stream_dir(spark, tmp_path, rows)
    stream = spark.readStream.schema(EVENT_LOG_SCHEMA).parquet(src)
    q = (
        stream.writeStream.format("memory")
        .queryName("cadence_out")
        .outputMode("append")
        .trigger(processingTime="5 seconds")
        .start()
    )
    try:
        import time

        deadline = time.time() + 30
        while time.time() < deadline:
            if spark.sql("SELECT COUNT(*) n FROM cadence_out").collect()[0].n == 1:
                break
            time.sleep(0.5)
        assert spark.sql("SELECT COUNT(*) n FROM cadence_out").collect()[0].n == 1
        assert q.isActive
    finally:
        q.stop()
