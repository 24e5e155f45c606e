"""B41-B48 driver entry: real Structured Streaming runs, oracle-checked.

Until round 12 the streaming components (B41 micro-batch source, B42
watermark/late data, B45 streaming dedup, B46 stateful per-key
processing, B47 stream-static join, B9/B48 durable offsets +
exactly-once resume, B3/B4/B10 whitelist/topic routing/fan-out) were
pytest-verified only ("structural" in the coverage table) — nothing
tied them to the driver's DuckDB oracle gate. This entry runs each of
them as an ACTUAL streaming query driven to completion
(``availableNow``) with a deterministic micro-batch decomposition
(streaming/harness.py), reads the sinks back, and reduces every family
to rows a batch SQL oracle reproduces exactly:

* family='relay' — the reference's end-to-end delivery path
  (cdc-timescale-connector.json:1-20; topics ``cdc-<table>``,
  readme.md:34-35): events → envelope → EventLog → file-source stream
  → CdcStreamPipeline fan-out, run TWICE from one checkpoint with an
  append in between. Counts+digests match the oracle only if the
  second run resumed from durable offsets instead of re-delivering
  (B9/B48 — a replay would double both), only whitelisted tables have
  topics (B3: the 'errors' route is captured in the log but never
  delivered), and routing preserved payloads byte-for-byte (B4/B10 —
  topic sink dirs auto-created on first delivery, the B11
  ``auto.create.topics.enable`` analog, docker-compose.yml:76-79).
* family='late' — B42 watermark semantics, the explicit version of
  what the reference's timestamp-cursor polling does to late rows
  (SURVEY B42): 1-day tumbling counts under a 3-day watermark over a
  pinned 4-batch sequence. Batch 2's days-2..5 rows arrive two batches
  after the days-10..15 spine, land below the late-event watermark
  (max event time through batch 1 minus 3 days ≈ Jan 12), and are
  DROPPED; its days-28..29 rows push the eviction watermark so batch 3
  flushes exactly the days-10..15 windows. The oracle is the surviving
  row set — reproducible because the drop rule is deterministic in the
  batch decomposition (see harness.py for the exact timing facts).
* family='join' — B47 stream-static enrichment: the same staged stream
  joined (broadcast) to the static customer dim, counts per segment.
* family='dedup' — B45: the staged corpus re-delivered TWICE (two
  identical files = two micro-batches); dropDuplicatesWithinWatermark
  on the PK collapses the second delivery across the batch boundary,
  so count+digest equal the single-copy oracle (DISTINCT semantics).
* family='ssjoin' — B47+ stream-STREAM interval join
  (streaming/joins.py::stream_stream_interval_join): purchases and
  clicks as two live streams, each click matched to same-user
  purchases it precedes by at most 4 hours; watermarks on both sides
  bound the join state. Inner-join matches emit as found, so a single
  availableNow batch per side yields the full batch-join result — the
  oracle is the identical interval join in SQL.
* family='ssjoin_outer' — round 13 (VERDICT r12 #6), the semantically
  hard half: the LEFT-OUTER form of the same interval join
  (purchase-without-preceding-click). Matched rows emit as found;
  an UNMATCHED purchase emits its NULL-click row only when the
  global watermark proves no qualifying click can still arrive — so
  each side is staged as [data, pusher, pusher] (sentinel
  user_id=-1 rows at Feb 15/Feb 20, far past the Jan corpus, with a
  1-hour watermark delay): the first pusher batch advances the
  watermark past all real state, and under the one-batch-lagged
  in-effect rule (harness.py) the second batch is where eviction
  emits every NULL row — deterministic, no reliance on no-data
  micro-batches. The oracle is the batch LEFT JOIN with matched/
  unmatched counts per user; sentinels are filtered out by id sign.
* family='state' — B46: running_latest_state (applyInPandasWithState,
  streaming/state.py) over a two-batch envelope stream; per key the
  final emission carries the globally-latest (ts, event_id) image —
  INSERT/UPDATE keep the row JSON, DELETE nulls it (readme.md:252-267
  null rules) — re-derived by the oracle as a plain latest-per-key
  window. State is monotone in (ts_us, event_id), so the final
  emission per key is batch-decomposition-independent.
* family='scagg' — round 13 (VERDICT r12 #2): the STREAM-driven
  continuous aggregate, the reference hypertables' reason to exist
  (init.sql:69-72, readme.md:220), previously soak-only
  (SCALE.md, streaming cagg end-to-end). The full flagship integration runs live:
  events → envelopes → EventLog → CdcStreamPipeline (with a
  non-whitelisted 'assets' noise route that must stay out) →
  ContinuousAggregate.attach over the routed topic → real-time
  ``query``. Three phases: (1) BASE — days 13-16 delivered and
  refreshed; (2) LATE — days 10-12 delivered after, the
  invalidation-driven refresh widening BACKWARD without advancing
  the watermark; (3) TAIL — days 17-22 routed and landed in the
  source but NOT refreshed (the refresh-policy lag window), served
  by the real-time union's on-the-fly tail. The oracle is the
  one-shot hourly SQL aggregation of all non-noise rows — equal to
  the family rows only if backfill materialized, the watermark held,
  and the tail union is exact; a Python-literal gate additionally
  zeroes the family if the watermark moved during the late refresh,
  the late window failed to materialize, or the tail got
  materialized (shapes where ``query``'s full-source fallback could
  otherwise mask a dead refresh path). family='scagg_day' extends the
  same run one hierarchy level up (Timescale 2.9 caggs-on-caggs): a
  daily cagg rolled up from the streamed hourly level's partial
  columns under the complete-bucket rule, read through
  ``query_hierarchy`` so the refresh-lag tail is served live at BOTH
  levels; its oracle is the same one-shot aggregation at day grain.
* family='vecsync' — round 14: CDC envelopes driving a persisted ANN
  index (streaming/index_sync.py over an LshIndex): INSERT envelopes
  append the held-out 10% of the embeddings table, DELETE envelopes
  tombstone every vec_id % 7 == 0 (including ids the insert batch
  just streamed), and — round 15, VERDICT r14 #5 — a third batch of
  UPDATE envelopes moves every live vec_id % 10 == 5 to vec_id +
  1_000_000_000 through the sync's ``updates='split'`` rewrite
  (an offset above any fixture id at ANY scale factor — a small
  offset would eventually collide a moved id with a real id in
  the same batch's delete set and wedge the stream on the guard;
  the +10M probe convention, one class up)
  (DELETE(before.id) + INSERT(after)). The oracle recomputes the
  expected live set from the fixture — banded row count (a
  double-applied append inflates it; unchanged by the 1:1 moves),
  distinct live-id count + exact id-sum digest with the moved ids
  at their NEW values (a leaked delete OR a half-applied update
  shifts it), and a rank-1 self-probe of an inserted id through the
  served topk (queried under a +10M id: the LSH rerank excludes
  self-id matches by design).

Determinism notes: all digests are order-insensitive sums of the
portable 60-bit sha256 prefix (the det_hash recipe, sampling.py:56)
over the payload JSON, summed as DECIMAL(38,0)/HUGEINT so ANSI mode
cannot overflow; payload JSON carries only long/string fields (the
cross-engine-stable to_json types, a2 precedent); every window/day
boundary is days away from any watermark threshold so strict-vs-
non-strict comparisons cannot flip a row.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from timescale_cdc_spark.queries.base import register, scratch_path, t

#: Spark-side payload JSON (long/string fields only) and its exact
#: DuckDB mirror — compact {"k":v} in struct-field order on both sides.
_PAYLOAD = "to_json(struct(event_id, user_id, event_type))"
_PAYLOAD_SQL = (
    "to_json(struct_pack(event_id := event_id, user_id := user_id, "
    "event_type := event_type))::VARCHAR"
)

#: event_type → topic routing (B4): two whitelisted tables plus one
#: deliberately NON-whitelisted route proving B3 filtering.
_ROUTE = (
    "CASE WHEN event_type IN ('click','view') THEN 'activity' "
    "WHEN event_type IN ('purchase','signup') THEN 'account' "
    "ELSE 'errors' END"
)
_ROUTE_SQL = _ROUTE  # identical ANSI CASE text in both dialects


def _digest(col: str) -> F.Column:
    """Order-insensitive corpus digest: sum of per-row 60-bit sha256
    prefixes as DECIMAL(38,0) (no int64 overflow under ANSI), as a
    string so the hugeint/decimal types hash identically."""
    return F.sum(
        F.expr(
            f"CAST(conv(substring(sha2({col}, 256), 1, 15), 16, 10) "
            "AS DECIMAL(38,0))"
        )
    ).cast("string")


def _digest_sql(expr: str) -> str:
    return (
        "CAST(SUM(CAST(('0x' || substr(sha256(" + expr + "), 1, 15)) "
        "AS BIGINT)) AS VARCHAR)"
    )


def _fam(df: DataFrame, family: str, k, n, v=None) -> DataFrame:
    return df.select(
        F.lit(family).alias("family"),
        k.alias("k"),
        n.cast("long").alias("n"),
        (v if v is not None else F.lit(None).cast("string")).alias("v"),
    )


_ORACLE = f"""
    WITH routed AS (
      SELECT 'cdc-' || {_ROUTE_SQL} AS topic, {_PAYLOAD_SQL} AS payload
      FROM events
    )
    SELECT 'relay' AS family, topic AS k, COUNT(*) AS n,
           {_digest_sql("payload")} AS v
    FROM routed WHERE topic IN ('cdc-activity', 'cdc-account')
    GROUP BY topic
    UNION ALL
    SELECT 'late' AS family,
           strftime(date_trunc('day', ts), '%Y-%m-%d') || '|' || event_type AS k,
           COUNT(*) AS n, CAST(NULL AS VARCHAR) AS v
    FROM events
    WHERE (ts::DATE BETWEEN DATE '2024-01-10' AND DATE '2024-01-12'
           AND event_id % 2 = 0)
       OR (ts::DATE BETWEEN DATE '2024-01-13' AND DATE '2024-01-15')
    GROUP BY 2
    UNION ALL
    SELECT 'join' AS family, c_mktsegment AS k, COUNT(*) AS n,
           CAST(NULL AS VARCHAR) AS v
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    WHERE (ts::DATE BETWEEN DATE '2024-01-10' AND DATE '2024-01-15'
           AND event_id % 2 = 0)
       OR (ts::DATE BETWEEN DATE '2024-01-13' AND DATE '2024-01-15'
           AND event_id % 2 = 1)
       OR (ts::DATE BETWEEN DATE '2024-01-02' AND DATE '2024-01-05')
       OR (ts::DATE BETWEEN DATE '2024-01-28' AND DATE '2024-01-30')
    GROUP BY 2
    UNION ALL
    SELECT 'dedup' AS family, 'all' AS k, COUNT(*) AS n,
           {_digest_sql(_PAYLOAD_SQL)} AS v
    FROM events
    WHERE ts::DATE BETWEEN DATE '2024-01-01' AND DATE '2024-01-08'
    UNION ALL
    SELECT 'ssjoin' AS family, CAST(p.user_id AS VARCHAR) AS k,
           COUNT(*) AS n, CAST(NULL AS VARCHAR) AS v
    FROM events p JOIN events c
      ON p.user_id = c.user_id
     AND p.event_type = 'purchase' AND c.event_type = 'click'
     AND c.ts > p.ts - INTERVAL 4 HOUR AND c.ts <= p.ts
    GROUP BY 2
    UNION ALL
    SELECT 'ssjoin_outer' AS family,
           CAST(p.user_id AS VARCHAR) || '|' ||
             CASE WHEN c.c_ts IS NULL THEN 'unmatched' ELSE 'matched' END
             AS k,
           COUNT(*) AS n, CAST(NULL AS VARCHAR) AS v
    FROM (SELECT user_id, ts AS p_ts FROM events
          WHERE event_type = 'purchase') p
    LEFT JOIN (SELECT user_id, ts AS c_ts FROM events
               WHERE event_type = 'click') c
      ON p.user_id = c.user_id
     AND c.c_ts > p.p_ts - INTERVAL 4 HOUR AND c.c_ts <= p.p_ts
    GROUP BY 2
    UNION ALL
    SELECT 'scagg_day' AS family,
           strftime(date_trunc('day', ts), '%Y-%m-%d') || '|' ||
             event_type AS k,
           COUNT(*) AS n,
           CAST(SUM(event_id % 10000) AS VARCHAR) AS v
    FROM events
    WHERE ts::DATE BETWEEN DATE '2024-01-10' AND DATE '2024-01-22'
      AND event_type <> 'error'
    GROUP BY 2
    UNION ALL
    SELECT 'scagg' AS family,
           strftime(date_trunc('hour', ts), '%Y-%m-%d %H') || '|' ||
             event_type AS k,
           COUNT(*) AS n,
           CAST(SUM(event_id % 10000) AS VARCHAR) AS v
    FROM events
    WHERE ts::DATE BETWEEN DATE '2024-01-10' AND DATE '2024-01-22'
      AND event_type <> 'error'
    GROUP BY 2
    UNION ALL
    SELECT 'vecsync' AS family, 'rows' AS k, 16 * COUNT(*) AS n,
           CAST(NULL AS VARCHAR) AS v
    FROM embeddings WHERE vec_id % 7 <> 0
    UNION ALL
    SELECT 'vecsync' AS family, 'ids' AS k, COUNT(*) AS n,
           CAST(SUM(CASE WHEN vec_id % 10 = 5 THEN vec_id + 1000000000
                    ELSE vec_id END) AS VARCHAR) AS v
    FROM embeddings WHERE vec_id % 7 <> 0
    UNION ALL
    SELECT 'vecsync' AS family, 'probe' AS k, 1 AS n,
           CAST(MIN(vec_id) AS VARCHAR) AS v
    FROM embeddings WHERE vec_id % 10 = 0 AND vec_id % 7 <> 0
    UNION ALL
    SELECT 'state' AS family, CAST(user_id AS VARCHAR) AS k,
           event_id AS n,
           (CASE WHEN event_type = 'error' THEN 'DELETE'
                 WHEN event_type = 'signup' THEN 'INSERT'
                 ELSE 'UPDATE' END) || '|' ||
           (CASE WHEN event_type = 'error' THEN ''
                 ELSE to_json(struct_pack(user_id := user_id,
                        event_type := event_type,
                        event_id := event_id))::VARCHAR END) AS v
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                        ORDER BY ts DESC, event_id DESC) AS rn
          FROM events) WHERE rn = 1
"""


@register("b41_b48_streaming_semantics", _ORACLE)
def b41_b48_streaming_semantics(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """See module docstring. Each family runs its streaming query
    eagerly (availableNow, deterministic batches), sinks to scratch
    parquet, and contributes (family, k, n, v) rows."""
    from timescale_cdc_spark.cdc.log import EventLog
    from timescale_cdc_spark.streaming.harness import (
        run_to_completion,
        stage_stream_batches,
    )
    from timescale_cdc_spark.streaming.pipeline import CdcStreamPipeline
    from timescale_cdc_spark.streaming.state import running_latest_state

    # Event-time ops (withWatermark, window) require TIMESTAMP (ltz);
    # the fixture ships NTZ. The session tz is pinned UTC (catalog.py),
    # so the cast is value-preserving and the DuckDB (naive-UTC) oracle
    # still compares bit-exact.
    ev = t(spark, sf_dir, "events").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    root = scratch_path(sf_dir, "streaming_semantics")
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root, exist_ok=True)
    d = F.to_date("ts")
    fams: list[DataFrame] = []

    # -- relay (B41 + B9/B48 resume + B3/B4/B10 routing) ------------------
    env = ev.select(
        "ts",
        F.lit("dataschema").alias("schema_name"),
        F.expr(_ROUTE).alias("table_name"),
        F.lit("INSERT").alias("operation"),
        F.lit(None).cast("string").alias("before"),
        F.expr(_PAYLOAD).alias("after"),
    )
    log = EventLog(spark, os.path.join(root, "log"))
    pipe = CdcStreamPipeline(
        spark,
        log,
        os.path.join(root, "topics"),
        tables=[("dataschema", "activity"), ("dataschema", "account")],
    )
    # first half, deliver; second half appended AFTER the first run —
    # the second run must resume from the checkpoint (no re-delivery)
    # for the counts/digests to match the whole-corpus oracle.
    log.append(env.filter(d <= "2024-01-15"), distributed_ids=True)
    run_to_completion(pipe.start(available_now=True))
    log.append(env.filter(d >= "2024-01-16"), distributed_ids=True)
    run_to_completion(pipe.start(available_now=True))
    for tbl in ("activity", "account"):
        topic = pipe.read_topic(tbl)
        fams.append(
            _fam(
                topic.agg(
                    F.count("*").alias("n"), _digest("after").alias("v")
                ),
                "relay",
                F.lit(f"cdc-{tbl}"),
                F.col("n"),
                F.col("v"),
            )
        )

    # The remaining five families are independent (distinct sources,
    # sinks, checkpoints): stage and START them all, await as a group,
    # read the sinks after the barrier. Concurrent availableNow
    # streams roughly halve this entry's wall-clock vs sequential
    # runs — the per-query cost is micro-batch planning/commit
    # latency, not CPU, so the overlaps genuinely stack.
    pending = []

    # -- late (B42) --------------------------------------------------------
    late_src = stage_stream_batches(
        [
            # batch 0: the on-time spine (even ids, days 10-15)
            ev.filter(
                d.between("2024-01-10", "2024-01-15")
                & (F.col("event_id") % 2 == 0)
            ),
            # batch 1: in-horizon stragglers merging into live windows
            ev.filter(
                d.between("2024-01-13", "2024-01-15")
                & (F.col("event_id") % 2 == 1)
            ),
            # batch 2: provably-late rows (dropped) + watermark pushers
            ev.filter(
                d.between("2024-01-02", "2024-01-05")
                | d.between("2024-01-28", "2024-01-29")
            ),
            # batch 3: flusher — its own rows stay in state unemitted;
            # it exists so batch 2's watermark evicts days 10-15
            ev.filter(d == "2024-01-30"),
        ],
        os.path.join(root, "late_src"),
    )
    late_stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(late_src)
    )
    late_agg = (
        late_stream.withWatermark("ts", "3 days")
        .groupBy(F.window("ts", "1 day"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(F.col("window.start").alias("ws"), "event_type", "n")
    )
    late_out = os.path.join(root, "late_out")
    pending.append(
        late_agg.writeStream.format("parquet")
        .option("path", late_out)
        .option("checkpointLocation", os.path.join(root, "late_ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )

    # -- join (B47 stream-static, same staged corpus, one batch) ----------
    cust = t(spark, sf_dir, "customer")
    join_out = os.path.join(root, "join_out")
    joined = (
        spark.readStream.schema(ev.schema)
        .parquet(late_src)
        .join(
            F.broadcast(cust), F.col("user_id") == F.col("c_custkey")
        )
        .select("c_mktsegment")
    )
    pending.append(
        joined.writeStream.format("parquet")
        .option("path", join_out)
        .option("checkpointLocation", os.path.join(root, "join_ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )

    # -- dedup (B45: second delivery collapses across the batch line) -----
    sub = ev.filter(d.between("2024-01-01", "2024-01-08"))
    dedup_src = stage_stream_batches(
        [sub, sub], os.path.join(root, "dedup_src")
    )
    dedup_out = os.path.join(root, "dedup_out")
    deduped = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(dedup_src)
        # horizon > the corpus ts span: no id is evicted before its
        # re-delivery arrives, so the collapse is exact
        .withWatermark("ts", "40 days")
        .dropDuplicatesWithinWatermark(["event_id"])
    )
    pending.append(
        deduped.writeStream.format("parquet")
        .option("path", dedup_out)
        .option("checkpointLocation", os.path.join(root, "dedup_ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )

    # -- ssjoin (B47+ stream-stream interval join, watermarked) -----------
    from timescale_cdc_spark.streaming.joins import (
        stream_stream_interval_join,
    )

    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("p_ts")
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("c_ts")
    )
    p_src = stage_stream_batches(
        [purchases], os.path.join(root, "ssj_p_src")
    )
    c_src = stage_stream_batches([clicks], os.path.join(root, "ssj_c_src"))
    ssj = stream_stream_interval_join(
        spark.readStream.schema(purchases.schema).parquet(p_src),
        spark.readStream.schema(clicks.schema).parquet(c_src),
        on=["user_id"],
        left_ts="p_ts",
        right_ts="c_ts",
        lookback="4 hours",
        watermark="40 days",
    )
    ssj_out = os.path.join(root, "ssj_out")
    pending.append(
        ssj.writeStream.format("parquet")
        .option("path", ssj_out)
        .option("checkpointLocation", os.path.join(root, "ssj_ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )

    # -- ssjoin_outer (round 13: watermark-expiry NULL emission) ----------
    def _sentinel(ts_name: str, when: str) -> DataFrame:
        return spark.range(1).select(
            F.lit(-1).cast("long").alias("user_id"),
            F.lit(when).cast("timestamp").alias(ts_name),
        )

    po_src = stage_stream_batches(
        [
            purchases,
            _sentinel("p_ts", "2024-02-15 00:00:00"),
            _sentinel("p_ts", "2024-02-20 00:00:00"),
        ],
        os.path.join(root, "ssjo_p_src"),
    )
    co_src = stage_stream_batches(
        [
            clicks,
            _sentinel("c_ts", "2024-02-15 00:00:00"),
            _sentinel("c_ts", "2024-02-20 00:00:00"),
        ],
        os.path.join(root, "ssjo_c_src"),
    )
    ssjo = stream_stream_interval_join(
        spark.readStream.schema(purchases.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(po_src),
        spark.readStream.schema(clicks.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(co_src),
        on=["user_id"],
        left_ts="p_ts",
        right_ts="c_ts",
        lookback="4 hours",
        # SHORT delay (vs the inner family's 40 days): the outer form
        # needs the watermark to overtake the corpus so unmatched
        # state can expire and emit; batch 0 carries all real data, so
        # nothing real is ever late under it
        watermark="1 hour",
        how="leftOuter",
    )
    ssjo_out = os.path.join(root, "ssjo_out")
    pending.append(
        ssjo.writeStream.format("parquet")
        .option("path", ssjo_out)
        .option("checkpointLocation", os.path.join(root, "ssjo_ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )

    # -- state (B46: applyInPandasWithState running latest image) ---------
    op = F.expr(
        "CASE WHEN event_type = 'error' THEN 'DELETE' "
        "WHEN event_type = 'signup' THEN 'INSERT' ELSE 'UPDATE' END"
    )
    senv = ev.select(
        "ts",
        F.lit("dataschema").alias("schema_name"),
        F.lit("profile").alias("table_name"),
        op.alias("operation"),
        F.when(
            op == "DELETE", F.expr("to_json(struct(user_id))")
        ).alias("before"),
        F.when(
            op != "DELETE",
            F.expr("to_json(struct(user_id, event_type, event_id))"),
        ).alias("after"),
        "event_id",
    )
    state_src = stage_stream_batches(
        [senv.filter(d <= "2024-01-15"), senv.filter(d >= "2024-01-16")],
        os.path.join(root, "state_src"),
    )
    state_out = os.path.join(root, "state_out")

    def _sink_state(batch: DataFrame, batch_id: int) -> None:
        batch.write.mode("overwrite").parquet(
            os.path.join(state_out, f"_batch_id={batch_id}")
        )

    state_stream = (
        spark.readStream.schema(senv.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(state_src)
    )
    pending.append(
        running_latest_state(state_stream, "user_id")
        .writeStream.foreachBatch(_sink_state)
        .outputMode("update")
        .option("checkpointLocation", os.path.join(root, "state_ckpt"))
        .trigger(availableNow=True)
        .start()
    )

    # -- scagg (round 13: streaming continuous aggregate, VERDICT r12 #2)
    # Sequential within itself (append → route → refresh phases), but
    # run HERE so it overlaps the five concurrent families' drains.
    from timescale_cdc_spark.cdc.caggs import ContinuousAggregate
    from timescale_cdc_spark.schemas import EVENT_LOG_SCHEMA

    sc_env = ev.filter(d.between("2024-01-10", "2024-01-22")).select(
        "ts",
        F.lit("dataschema").alias("schema_name"),
        # 'error' rows ride along on a NON-whitelisted route: they must
        # never reach the cagg source (the B3 isolation, here guarding
        # the aggregate itself — a leak shifts every touched bucket)
        F.when(F.col("event_type") == "error", F.lit("assets"))
        .otherwise(F.lit("metrics"))
        .alias("table_name"),
        F.lit("INSERT").alias("operation"),
        F.lit(None).cast("string").alias("before"),
        F.expr(
            "to_json(named_struct('event_type', event_type, "
            "'v', event_id % 10000))"
        ).alias("after"),
    )
    sc_log = EventLog(spark, os.path.join(root, "scagg_log"))
    sc_pipe = CdcStreamPipeline(
        spark,
        sc_log,
        os.path.join(root, "scagg_topics"),
        tables=[("dataschema", "metrics")],
    )
    sc_src = os.path.join(root, "scagg_src")
    sc_cagg = ContinuousAggregate(
        spark,
        os.path.join(root, "scagg_mat"),
        "1 hour",
        "ts",
        ["k"],
        lambda: [F.count("*").alias("n"), F.sum("v").alias("s")],
    )
    # phase 1 — BASE: on-time days 13-16 through the whole path
    sc_log.append(
        sc_env.filter(d.between("2024-01-13", "2024-01-16")),
        distributed_ids=True,
    )
    run_to_completion(sc_pipe.start(available_now=True))
    sc_stream = (
        spark.readStream.schema(EVENT_LOG_SCHEMA)
        .option("maxFilesPerTrigger", 64)
        .parquet(sc_pipe.topic_path("metrics") + "/_batch_id=*")
        .select(
            "ts",
            F.get_json_object("after", "$.event_type").alias("k"),
            F.get_json_object("after", "$.v").cast("long").alias("v"),
        )
    )
    sc_attach = sc_cagg.attach(
        sc_stream, sc_src, os.path.join(root, "scagg_ckpt")
    )
    sc_attach.processAllAvailable()
    # forced stop/re-attach (round 14, VERDICT r13 #5): the relay
    # family's two-runs-one-checkpoint pattern applied to the cagg
    # attach. The base-phase query STOPS here; phase 2's late data is
    # processed by a FRESH attach resumed from the same checkpoint, so
    # the entry exercises resume-with-pending-data every run. Any
    # batch the restart replays re-runs the idempotent per-batch
    # partition rewrite + refresh — a double-apply would inflate the
    # n/s aggregates and flip the DuckDB oracle hash.
    sc_attach.stop()
    sc_wm_base = sc_cagg.watermark_s()
    # phase 2 — LATE: days 10-12 arrive after; the invalidation-driven
    # refresh must widen BACKWARD and leave the watermark where it was
    sc_log.append(
        sc_env.filter(d.between("2024-01-10", "2024-01-12")),
        distributed_ids=True,
    )
    run_to_completion(sc_pipe.start(available_now=True))
    sc_attach = sc_cagg.attach(
        sc_stream, sc_src, os.path.join(root, "scagg_ckpt")
    )
    sc_attach.processAllAvailable()
    sc_attach.stop()
    sc_wm_late = sc_cagg.watermark_s()
    # phase 3 — TAIL: days 17-22 routed and landed, NOT refreshed (the
    # refresh-policy lag window a live deployment always has); the
    # real-time union must serve these on the fly
    sc_log.append(
        sc_env.filter(d.between("2024-01-17", "2024-01-22")),
        distributed_ids=True,
    )
    run_to_completion(sc_pipe.start(available_now=True))
    (
        sc_pipe.read_topic("metrics")
        .filter(F.to_date("ts") >= "2024-01-17")
        .select(
            "ts",
            F.get_json_object("after", "$.event_type").alias("k"),
            F.get_json_object("after", "$.v").cast("long").alias("v"),
        )
        .write.mode("overwrite")
        .parquet(os.path.join(sc_src, "ingest_batch=tail"))
    )
    # LEVEL-2 cascade (family='scagg_day'): a daily cagg rolled up
    # from the streamed hourly one's PARTIAL columns (exact long
    # sums), refreshed over the touched span capped at the hourly
    # watermark aligned DOWN to days (cascade_refresh's complete-
    # bucket rule, here applied directly since the hourly level was
    # refreshed by the stream). Days >= the cap are served by
    # query_hierarchy's real-time tail THROUGH the hourly view — the
    # tail is live at both levels.
    sc_day = ContinuousAggregate(
        spark,
        os.path.join(root, "scagg_day"),
        "1 day",
        "bucket",
        ["k"],
        lambda: [F.sum("n").alias("n"), F.sum("s").alias("s")],
    )
    # materialized() raises on a never-refreshed hourly level (a dead
    # refresh path); leave the daily level unrefreshed in that case —
    # its gate then zeroes the scagg families instead of the crash
    # killing all nine (same guard as the read sites below)
    try:
        sc_day.refresh(
            sc_cagg.materialized(),
            start_s=sc_day.align_down(1704844800),  # Jan 10 00:00
            end_s=sc_day.align_down(sc_wm_late or 0),  # complete-day cap
        )
    except ValueError:
        pass

    # -- vecsync (round 14): CDC envelopes driving a persisted ANN
    # index (streaming/index_sync.py) — the embedding store that
    # tracks the corpus. Build an LshIndex on 90% of the embeddings
    # table, then stream batch 0 = INSERT envelopes for the other 10%
    # and batch 1 = DELETE envelopes for every vec_id % 7 == 0 (which
    # hits build-resident ids AND ids batch 0 just inserted — the
    # delete-of-a-streamed-insert shape). The oracle recomputes the
    # expected live set from the fixture: three hash-checked rows —
    # banded row count (double-applied appends inflate it), distinct
    # live-id count + id-sum digest (leaked deletes shift it), and a
    # probe proving an inserted id is served back at rank 1.
    from timescale_cdc_spark.operators.ann_index import LshIndex
    from timescale_cdc_spark.streaming.index_sync import IndexCdcSync

    emb = t(spark, sf_dir, "embeddings")
    vs_ts = F.timestamp_seconds(F.lit(1704844800) + F.col("vec_id"))
    vs_ins = emb.filter(F.col("vec_id") % 10 == 0).select(
        vs_ts.alias("ts"),
        F.lit("dataschema").alias("schema_name"),
        F.lit("embeddings").alias("table_name"),
        F.lit("INSERT").alias("operation"),
        F.lit(None).cast("string").alias("before"),
        F.to_json(F.struct("vec_id", "embedding")).alias("after"),
    )
    vs_del = emb.filter(F.col("vec_id") % 7 == 0).select(
        vs_ts.alias("ts"),
        F.lit("dataschema").alias("schema_name"),
        F.lit("embeddings").alias("table_name"),
        F.lit("DELETE").alias("operation"),
        F.to_json(F.struct("vec_id")).alias("before"),
        F.lit(None).cast("string").alias("after"),
    )
    # batch 2 (round 15, VERDICT r14 #5): id-changing UPDATEs through
    # the updates='split' rewrite — every LIVE vec_id % 10 == 5 moves
    # to vec_id + 1e9 — above any fixture id at any SF, so a moved
    # id can never collide with a real id in the same batch's
    # delete set (round-15 review) — (reference UPDATE shape:
    # before AND after
    # populated, init.sql:16 TG_OP)
    vs_upd = emb.filter(
        (F.col("vec_id") % 10 == 5) & (F.col("vec_id") % 7 != 0)
    ).select(
        vs_ts.alias("ts"),
        F.lit("dataschema").alias("schema_name"),
        F.lit("embeddings").alias("table_name"),
        F.lit("UPDATE").alias("operation"),
        F.to_json(F.struct("vec_id")).alias("before"),
        F.to_json(
            F.struct(
                (F.col("vec_id") + 1_000_000_000).alias("vec_id"),
                "embedding"
            )
        ).alias("after"),
    )
    vs_idx = LshIndex(spark, os.path.join(root, "vecsync_idx")).build(
        emb.filter(F.col("vec_id") % 10 != 0)
    )
    vs_sync = IndexCdcSync(
        vs_idx, os.path.join(root, "vecsync_state"), updates="split"
    )
    vs_src = stage_stream_batches(
        [vs_ins, vs_del, vs_upd], os.path.join(root, "vecsync_src")
    )
    run_to_completion(
        vs_sync.attach(
            spark.readStream.schema(vs_ins.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(vs_src),
            os.path.join(root, "vecsync_ckpt"),
            available_now=True,
        )
    )

    # barrier: all five finite streams drain before any sink is read
    for q in pending:
        run_to_completion(q)

    fams.append(
        _fam(
            spark.read.parquet(late_out),
            "late",
            F.concat_ws(
                "|", F.date_format("ws", "yyyy-MM-dd"), F.col("event_type")
            ),
            F.col("n"),
        )
    )
    fams.append(
        _fam(
            spark.read.parquet(join_out)
            .groupBy("c_mktsegment")
            .agg(F.count("*").alias("n")),
            "join",
            F.col("c_mktsegment"),
            F.col("n"),
        )
    )
    fams.append(
        _fam(
            spark.read.parquet(dedup_out).agg(
                F.count("*").alias("n"), _digest(_PAYLOAD).alias("v")
            ),
            "dedup",
            F.lit("all"),
            F.col("n"),
            F.col("v"),
        )
    )
    fams.append(
        _fam(
            spark.read.parquet(ssj_out)
            .groupBy("user_id")
            .agg(F.count("*").alias("n")),
            "ssjoin",
            F.col("user_id").cast("string"),
            F.col("n"),
        )
    )
    fams.append(
        _fam(
            spark.read.parquet(ssjo_out)
            .filter(F.col("user_id") >= 0)  # drop watermark sentinels
            .groupBy(
                "user_id", F.col("c_ts").isNotNull().alias("m")
            )
            .agg(F.count("*").alias("n")),
            "ssjoin_outer",
            F.concat_ws(
                "|",
                F.col("user_id").cast("string"),
                F.when(F.col("m"), "matched").otherwise("unmatched"),
            ),
            F.col("n"),
        )
    )
    w = Window.partitionBy("pk").orderBy(
        F.desc("last_ts_us"), F.desc("last_event_id")
    )
    final_state = (
        spark.read.option("recursiveFileLookup", "true")
        .parquet(state_out)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
    )
    # scagg family rows: the real-time view must equal the one-shot
    # oracle. The gate zeroes the family on the structural regressions
    # the hash alone could mask — query()'s empty-manifest fallback
    # aggregates the full source and is itself exact, so a dead
    # refresh path would otherwise still hash-match.
    # materialized() raises on a never-refreshed level and reads empty
    # after refreshes that committed no region — the very dead-refresh
    # regression this gate exists to expose (the count below catches
    # the empty read). Catch the raise so the regression zeroes the
    # scagg families instead of crashing the other seven (round-13 finding).
    try:
        sc_mat_rows = sc_cagg.materialized()
        sc_gate = (
            sc_wm_base is not None
            # base watermark lands inside (Jan 16 00:00, Jan 17 00:00]
            and 1705363200 < sc_wm_base <= 1705449600
            # the late refresh widened backward without advancing it
            and sc_wm_late == sc_wm_base
            # the late window actually materialized...
            and sc_mat_rows.filter(
                F.to_date("bucket") <= "2024-01-12"
            ).count() > 0
            # ...and the tail did NOT (it must be served real-time)
            and sc_mat_rows.filter(
                F.to_date("bucket") >= "2024-01-17"
            ).count() == 0
        )
    except ValueError:
        sc_gate = False
    fams.append(
        _fam(
            sc_cagg.query(spark.read.parquet(sc_src)).where(
                F.lit(bool(sc_gate))
            ),
            "scagg",
            F.concat_ws(
                "|", F.date_format("bucket", "yyyy-MM-dd HH"), F.col("k")
            ),
            F.col("n"),
            F.col("s").cast("string"),
        )
    )
    # scagg_day: the whole hierarchy's real-time view; its own gate
    # additionally pins the complete-bucket rule (the daily watermark
    # sits at the hourly watermark aligned DOWN to days, and no day
    # at/after it is materialized)
    from timescale_cdc_spark.cdc.caggs import query_hierarchy

    day_wm = sc_day.watermark_s()
    try:
        sc_day_gate = (
            sc_gate
            and day_wm == sc_day.align_down(sc_wm_late or 0)
            # a zero-region daily manifest — dead cascade
            and bool(sc_day.store.load()["regions"])
            and sc_day.materialized()
            .filter(F.col("_eb") >= F.lit(day_wm))
            .count()
            == 0
        )
    except ValueError:  # never-refreshed daily level — dead cascade
        sc_day_gate = False
    fams.append(
        _fam(
            query_hierarchy(
                [sc_cagg, sc_day], spark.read.parquet(sc_src)
            ).where(F.lit(bool(sc_day_gate))),
            "scagg_day",
            F.concat_ws(
                "|", F.date_format("bucket", "yyyy-MM-dd"), F.col("k")
            ),
            F.col("n"),
            F.col("s").cast("string"),
        )
    )
    fams.append(
        _fam(
            final_state,
            "state",
            F.col("pk"),
            F.col("last_event_id"),
            F.concat_ws(
                "|",
                F.col("last_operation"),
                F.coalesce(F.col("current_row"), F.lit("")),
            ),
        )
    )

    # vecsync rows: banded row count (16 bands per live id — a
    # double-applied append batch inflates it), distinct live-id
    # count + exact id-sum digest, and the inserted-id probe at rank 1
    vs_banded = vs_idx.banded().localCheckpoint()  # reused by 2 rows
    fams.append(
        _fam(
            vs_banded.agg(F.count("*").alias("n")),
            "vecsync",
            F.lit("rows"),
            F.col("n"),
        )
    )
    fams.append(
        _fam(
            vs_banded.select("c_id")
            .distinct()
            .agg(F.count("*").alias("n"), F.sum("c_id").alias("s")),
            "vecsync",
            F.lit("ids"),
            F.col("n"),
            F.col("s").cast("string"),
        )
    )
    # probe under a SHIFTED q_id: the LSH rerank excludes c_id == q_id
    # (neighbors never include self), so the query id rides +10M and
    # the gate checks the offset instead
    vs_probe_q = (
        emb.filter(
            (F.col("vec_id") % 10 == 0) & (F.col("vec_id") % 7 != 0)
        )
        .orderBy("vec_id")
        .limit(1)
        .select(
            (F.col("vec_id") + 10_000_000).alias("vec_id"), "embedding"
        )
    )
    fams.append(
        _fam(
            vs_idx.topk(vs_probe_q, k=1),
            "vecsync",
            F.lit("probe"),
            (F.col("q_id") - F.col("c_id") == 10_000_000).cast("long"),
            F.col("c_id").cast("string"),
        )
    )

    out = fams[0]
    for f in fams[1:]:
        out = out.unionByName(f)
    return out
