"""Scalar/collection function surface (SURVEY.md §2 B13-B14, B33-B40,
B43/B44 batch analogs). The reference exposes the full Postgres
function surface over the log (readme.md:107-121); these queries pin
the Spark equivalents against DuckDB semantics.

Engine-parity notes baked into each oracle:
* Spark ``dayofweek`` is 1=Sunday; DuckDB ``extract(dow)`` is
  0=Sunday → oracle adds 1.
* Spark ``unix_timestamp`` floors; DuckDB ``epoch()`` keeps the
  fraction → oracle floors before casting.
* Spark ``ceil(double)`` returns BIGINT; DuckDB returns DOUBLE →
  both sides cast explicitly.
* DuckDB list indexing is 1-based, same as Spark ``element_at``.
* Spark ``locate`` == DuckDB ``strpos`` (both 1-based, 0 if absent).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from timescale_cdc_spark.functions.time import time_bucket
from timescale_cdc_spark.queries.base import register, scratch_path, t

_scratch = scratch_path


# ---------------------------------------------------------------------------
# B13/B14 — non-parquet sources and partitioned sink round-trips
# ---------------------------------------------------------------------------


@register(
    "b13_scan_roundtrips",
    """
    SELECT event_id, user_id, event_type, props, ts, value FROM events
    """,
)
def b13_scan_roundtrips(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV + JSON sources (B13), both round-tripped in one result:
    events go out to CSV (header, explicit schema back — never
    inferSchema on the hot path; the raw-feed ingest path) AND to
    JSON-lines (envelope-style serialization, the wire format of the
    reference's JsonConverter, docker-compose.yml:76-79); the two
    read-backs join on the PK and must reassemble the parquet
    original exactly — proving both text formats are lossless for
    longs, strings, microsecond timestamps, and doubles."""
    csv_path = _scratch(sf_dir, "events_csv")
    json_path = _scratch(sf_dir, "events_json")
    ev = t(spark, sf_dir, "events")

    ev.select("event_id", "user_id", "event_type", "props").write.mode(
        "overwrite"
    ).option("header", True).csv(csv_path)
    csv_schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("props", T.StringType()),
        ]
    )
    from_csv = spark.read.schema(csv_schema).option("header", True).csv(csv_path)

    # The fixture's ts may arrive as TIMESTAMP (instant) or
    # TIMESTAMP_NTZ depending on the parquet logical-type annotation
    # (Spark 4 infers un-annotated timestamp[us] as NTZ). The JSON
    # codec has a SEPARATE format option per type — timestampFormat is
    # silently ignored for NTZ columns, which round-trips millis
    # without an offset and parses back as all-NULL under an
    # offset-bearing pattern. Branch on the actual type so the
    # round-trip is lossless (microseconds) either way.
    ts_type = ev.schema["ts"].dataType
    if isinstance(ts_type, T.TimestampNTZType):
        fmt_opt, ts_fmt = "timestampNTZFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"
    else:
        fmt_opt, ts_fmt = "timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"
    ev.select("event_id", "ts", "value").write.mode("overwrite").option(
        fmt_opt, ts_fmt
    ).json(json_path)
    json_schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", ts_type),
            T.StructField("value", T.DoubleType()),
        ]
    )
    from_json = (
        spark.read.schema(json_schema).option(fmt_opt, ts_fmt).json(json_path)
    )
    return from_csv.join(from_json, "event_id").select(
        "event_id", "user_id", "event_type", "props", "ts", "value"
    )


@register(
    "b14_partitioned_sink",
    """
    WITH agg AS (
      SELECT CAST(ts AS DATE) AS event_date, COUNT(*) AS n,
             COUNT(DISTINCT user_id) AS n_users
      FROM events GROUP BY 1
    )
    SELECT 'sink' AS layout, * FROM agg
    UNION ALL
    SELECT 'compressed' AS layout, * FROM agg
    UNION ALL
    SELECT 'zordered' AS layout, * FROM agg
    """,
)
def b14_partitioned_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partitioned parquet sink (B14 = A5+A9): the event-log layout —
    Hive-style event_date partitions standing in for hypertable chunks
    (reference init.sql:70). Reading back and aggregating per partition
    proves partition pruning-compatible layout.

    Round 9 adds layout='compressed' rows: the sink rewritten with the
    two ``compress_chunk`` levers (cdc/retention.py::compress_partition
    semantics) — rows re-sorted by (segment_by=event_type,
    order_by=ts,event_id) so dictionary/RLE and delta encodings engage,
    and the codec swapped to zstd — then read back and aggregated
    identically. The hash match proves the compressed rewrite is
    READ-TRANSPARENT (loses and changes nothing); the chunk-wise
    atomic-swap machinery itself is pytest-covered
    (tests/test_cdc.py::test_compress_partition*).

    Round 9 also adds layout='zordered' rows: the same events
    rewritten Morton-ordered on (user_id, ts)
    (operators/layout.py::zorder_write — the space-dimension
    chunk-exclusion layout, pruning measured in SCALE.md) and
    aggregated identically — the hash match proves the z-order
    rewrite is also a pure reorder."""
    path = _scratch(sf_dir, "events_partitioned")
    src = t(spark, sf_dir, "events").withColumn(
        "event_date", F.col("ts").cast("date")
    )
    src.write.mode("overwrite").partitionBy("event_date").parquet(path)
    back = spark.read.parquet(path)

    zpath = _scratch(sf_dir, "events_compressed")
    (
        back.sortWithinPartitions("event_type", "ts", "event_id")
        .write.mode("overwrite")
        .option("compression", "zstd")
        .partitionBy("event_date")
        .parquet(zpath)
    )
    zback = spark.read.parquet(zpath)

    from timescale_cdc_spark.operators.layout import zorder_write

    opath = _scratch(sf_dir, "events_zordered")
    zorder_write(back, opath, ["user_id", "ts"])
    oback = spark.read.parquet(opath)

    def agg(df: DataFrame, layout: str) -> DataFrame:
        return (
            df.groupBy(F.col("event_date").cast("date").alias("event_date"))
            .agg(
                F.count("*").alias("n"),
                F.countDistinct("user_id").alias("n_users"),
            )
            .select(F.lit(layout).alias("layout"), "*")
        )

    return (
        agg(back, "sink")
        .unionByName(agg(zback, "compressed"))
        .unionByName(agg(oback, "zordered"))
    )


# ---------------------------------------------------------------------------
# B33-B39 scalar function families
# ---------------------------------------------------------------------------


def _b33_string_fns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String functions (B33, full family in one pass): case fold /
    substring / length / trim / split / regexp_extract (the
    serialnumber-prefix parsing family — reference seeds 'WP001',
    'STM002', 'CMP003', init.sql:101-103) plus pad / replace /
    translate / locate / reverse / repeat. All JVM-codegen'd,
    map-side only."""
    d = t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.upper("source").alias("source_uc"),
        F.lower("source").alias("source_lc"),
        F.substring("text", 1, 4).alias("text_prefix"),
        F.length("text").alias("text_len"),
        F.trim(F.concat(F.lit(" "), F.col("lang"), F.lit(" "))).alias("lang_trimmed"),
        F.split(F.col("text"), " ").getItem(0).alias("first_word"),
        F.regexp_extract("source", "([0-9]+)", 1).alias("source_num"),
        F.lpad(F.col("doc_id").cast("string"), 8, "0").alias("padded_id"),
        F.rpad("lang", 4, ".").alias("lang_padded"),
        F.regexp_replace("source", "src", "source-").alias("source_renamed"),
        F.translate("lang", "aeiou", "AEIOU").alias("lang_vowels_uc"),
        F.locate("the", F.col("text")).alias("first_the_pos"),
        F.reverse("lang").alias("lang_rev"),
        F.repeat("lang", 2).alias("lang_x2"),
    )


@register(
    "b34_b35_datetime_math_fns",
    """
    SELECT event_id,
           date_trunc('hour', ts) AS hour_ts,
           CAST(extract(hour FROM ts) AS INT) AS hh,
           CAST(extract(day FROM ts) AS INT) AS dd,
           CAST(extract(dow FROM ts) + 1 AS INT) AS dow,
           CAST(floor(epoch(ts)) AS BIGINT) AS epoch_s,
           CAST(ts AS DATE) + 7 AS week_later,
           make_timestamp(CAST(floor(epoch(ts) / 900) * 900 AS BIGINT) * 1000000) AS bucket_15m,
           time_bucket(INTERVAL '1 week', CAST(ts AS TIMESTAMP)) AS bucket_1w,
           time_bucket(INTERVAL '3 months', CAST(ts AS TIMESTAMP)) AS bucket_3mo,
           ts - INTERVAL 1 HOUR AS ts_minus_1h,
           ts + INTERVAL 20 MINUTE AS ts_plus_20m,
           round(value, 1) AS value_r1,
           abs(value - 100.0) AS dist_100,
           CAST(ceil(value) AS BIGINT) AS value_ceil,
           CAST(floor(value) AS BIGINT) AS value_floor,
           value * value AS value_sq,
           sqrt(value) AS value_sqrt,
           round(ln(value + 1.0), 4) AS value_ln,
           round(exp(value / 100.0), 6) AS value_exp,
           CAST(sign(value - 50.0) AS DOUBLE) AS sign_centered,
           mod(CAST(round(value * 100) AS BIGINT), 7) AS cents_mod7,
           greatest(value, 100.0 - value) AS max_side,
           least(value, 100.0 - value) AS min_side,
           round(power(value, 0.5), 6) AS value_pow_half,
           round(log10(value + 1.0), 6) AS value_log10
    FROM events
    """,
)
def b34_b35_datetime_math_fns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time + math function families (B34, B35, A18) in one
    per-row pass over events — merged in round 7 to free a registry
    slot for ts_gapfill_hyperfunctions while keeping every column of
    both former entries hash-checked.

    Date/time half: date_trunc / extract / epoch / date_add, the
    Timescale-signature time_bucket (functions/time.py — the
    hypertable bucketing init.sql:70) at three widths: 15 minutes,
    1 week (Monday-anchored via the 2000-01-03 Timescale origin —
    the oracle is DuckDB's NATIVE time_bucket, same convention), and
    3 months (calendar arithmetic, 2000-01-01 origin), plus NOW() -
    INTERVAL arithmetic (init.sql:130-136, readme.md:114). The
    aggregated-bucket form (GROUP BY time_bucket) is b43's shape.

    Math half: round/abs/ceil/floor/sqrt (IEEE-exact cross-engine),
    exp/ln/log10/fractional power (transcendental → pinned at 4-6
    decimals), sign/mod/greatest/least. The explicit round before the
    bigint cast matters: Spark's double→bigint cast truncates while
    DuckDB's rounds."""
    ev = t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.date_trunc("hour", "ts").alias("hour_ts"),
        F.hour("ts").cast("int").alias("hh"),
        F.dayofmonth("ts").cast("int").alias("dd"),
        F.dayofweek("ts").cast("int").alias("dow"),
        F.unix_timestamp("ts").alias("epoch_s"),
        F.date_add(F.col("ts").cast("date"), 7).alias("week_later"),
        time_bucket("15 minutes", "ts").alias("bucket_15m"),
        time_bucket("1 week", "ts").alias("bucket_1w"),
        time_bucket("3 months", "ts").alias("bucket_3mo"),
        (F.col("ts") - F.expr("INTERVAL 1 HOUR")).alias("ts_minus_1h"),
        (F.col("ts") + F.expr("INTERVAL 20 MINUTE")).alias("ts_plus_20m"),
        F.round("value", 1).alias("value_r1"),
        F.abs(F.col("value") - 100.0).alias("dist_100"),
        F.ceil("value").cast("bigint").alias("value_ceil"),
        F.floor("value").cast("bigint").alias("value_floor"),
        (F.col("value") * F.col("value")).alias("value_sq"),
        F.sqrt("value").alias("value_sqrt"),
        F.round(F.log(F.col("value") + 1.0), 4).alias("value_ln"),
        F.round(F.exp(F.col("value") / 100.0), 6).alias("value_exp"),
        F.signum(F.col("value") - 50.0).cast("double").alias("sign_centered"),
        (F.round(F.col("value") * 100, 0).cast("bigint") % 7).alias("cents_mod7"),
        F.greatest(F.col("value"), 100.0 - F.col("value")).alias("max_side"),
        F.least(F.col("value"), 100.0 - F.col("value")).alias("min_side"),
        F.round(F.pow(F.col("value"), 0.5), 6).alias("value_pow_half"),
        F.round(F.log10(F.col("value") + 1.0), 6).alias("value_log10"),
    )


@register(
    "ts_gapfill_hyperfunctions",
    """
    WITH base AS (
      SELECT event_type,
             CAST(floor(epoch(ts) / 3600) AS BIGINT) * 3600 AS _eb,
             ts, value, event_id,
             epoch_us(ts) AS _us
      FROM events
    ),
    ann AS (
      SELECT event_type, _eb, value,
             CAST(value AS DECIMAL(18,2)) AS _dv,
             coalesce(lead(_us) OVER w, (_eb + 3600) * 1000000) - _us AS _w_us,
             row_number() OVER w AS _rn,
             row_number() OVER (PARTITION BY event_type, _eb
                                ORDER BY ts DESC, event_id DESC) AS _rn_desc
      FROM base
      WINDOW w AS (PARTITION BY event_type, _eb ORDER BY ts, event_id)
    ),
    agged AS (
      SELECT event_type, _eb,
             COUNT(*) AS n_events,
             CAST(sum(_dv) AS DOUBLE) / COUNT(*) AS avg_value,
             round(CAST(sum(_dv * _w_us) AS DOUBLE)
                   / CAST(sum(_w_us) AS DOUBLE), 6) AS twa,
             min(CASE WHEN _rn = 1 THEN value END) AS first_val,
             min(CASE WHEN _rn_desc = 1 THEN value END) AS last_val,
             min(CASE WHEN _rn_desc = 1 THEN value END)
               - min(CASE WHEN _rn = 1 THEN value END) AS delta
      FROM ann GROUP BY 1, 2
    ),
    bounds AS (SELECT min(_eb) AS _mn, max(_eb) AS _mx FROM base),
    grid AS (
      SELECT k.event_type, g.g AS _eb
      FROM (SELECT DISTINCT event_type FROM events) k, bounds b,
           UNNEST(generate_series(b._mn, b._mx, 3600)) AS g(g)
    ),
    dense AS (
      SELECT g.event_type, g._eb, a.n_events, a.avg_value,
             a.twa, a.first_val, a.last_val, a.delta
      FROM grid g LEFT JOIN agged a
        ON a.event_type = g.event_type AND a._eb = g._eb
    ),
    filled AS (
      SELECT event_type, _eb, n_events, avg_value,
             last_value(avg_value IGNORE NULLS) OVER
               (PARTITION BY event_type ORDER BY _eb
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS locf_avg,
             last_value(avg_value IGNORE NULLS) OVER wp AS pv,
             last_value(CASE WHEN avg_value IS NOT NULL THEN _eb END
                        IGNORE NULLS) OVER wp AS pe,
             first_value(avg_value IGNORE NULLS) OVER wn AS nv,
             first_value(CASE WHEN avg_value IS NOT NULL THEN _eb END
                         IGNORE NULLS) OVER wn AS ne,
             twa, first_val, last_val, delta
      FROM dense
      WINDOW wp AS (PARTITION BY event_type ORDER BY _eb
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
             wn AS (PARTITION BY event_type ORDER BY _eb
                    ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
    )
    SELECT event_type,
           make_timestamp(_eb * 1000000) AS bucket,
           n_events, avg_value, locf_avg,
           round(CASE WHEN avg_value IS NOT NULL THEN avg_value
                      ELSE pv + (nv - pv) * (CAST(_eb - pe AS DOUBLE)
                                             / CAST(ne - pe AS DOUBLE))
                 END, 6) AS interp_avg,
           twa, first_val, last_val, delta
    FROM filled
    """,
)
def ts_gapfill_hyperfunctions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Timescale hyperfunction surface (functions/hyper.py), new in
    round 7: ``time_bucket_gapfill`` over hourly buckets per
    event_type — DENSE bucket grid across the observed range with gap
    rows — plus ``locf`` and linear ``interpolate`` of the bucket
    average, LOCF time-weighted average (``time_weight('LOCF')``
    semantics, exact integer-microsecond weights, decimal-exact
    numerator), ``first()``/``last()`` by (ts, event_id), and the
    counter-style per-bucket delta. These are the canonical TimescaleDB
    query patterns over the hypertables the reference creates
    (init.sql:69-72; readme.md:220).

    100 TB shape: one shuffle of the fact table (the per-bucket window
    functions ride the same (key, bucket) exchange the aggregate
    needs); the dense grid is keys × sequence() off a broadcast 1-row
    bounds aggregate — never a second pass over the facts; LOCF/
    interpolation windows partition on the series key, so state per
    task is one series' buckets."""
    from timescale_cdc_spark.functions.hyper import time_bucket_gapfill

    ev = t(spark, sf_dir, "events")
    return time_bucket_gapfill(
        ev, "1 hour", "ts", ["event_type"], "value", "event_id"
    )


@register(
    "b36_json_fns",
    """
    SELECT CAST(json_extract_string(props, '$.k') AS INT) % 10 AS k_bucket,
           COUNT(*) AS n,
           MIN(CAST(json_extract_string(props, '$.k') AS INT)) AS k_min,
           MAX(CAST(json_extract_string(props, '$.k') AS INT)) AS k_max
    FROM events
    GROUP BY 1
    """,
)
def b36_json_fns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON functions (B36): extract fields from the schema-flexible
    payload — exactly how the engine reads the envelope's before/after
    JSON documents (reference init.sql:46-47, jsonb payload
    init.sql:122)."""
    ev = t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        ev.groupBy((k % 10).alias("k_bucket"))
        .agg(
            F.count("*").alias("n"),
            F.min(k).alias("k_min"),
            F.max(k).alias("k_max"),
        )
    )


@register(
    "b37_b38_collection_fns",
    """
    WITH e AS (
      SELECT vec_id,
             CAST(embedding AS DOUBLE[]) AS emb,
             len(embedding) AS dim,
             round(list_sum(list_transform(CAST(embedding AS DOUBLE[]),
                                           x -> x * x)), 4) AS norm2,
             round(CAST(embedding[1] AS DOUBLE), 6) AS first_elem,
             len(list_filter(embedding, x -> x > 0)) AS n_pos
      FROM embeddings
    ),
    arr AS (
      SELECT 'array' AS variant, vec_id AS id,
             CAST(generate_subscripts(emb[1:3], 1) - 1 AS STRING) AS key,
             round(unnest(emb[1:3]), 6) AS val,
             dim, norm2, first_elem, n_pos,
             CAST(NULL AS BIGINT) AS n
      FROM e
    ),
    mp AS (
      SELECT 'map' AS variant, user_id AS id, event_type AS key,
             CAST(NULL AS DOUBLE) AS val,
             CAST(NULL AS BIGINT) AS dim, CAST(NULL AS DOUBLE) AS norm2,
             CAST(NULL AS DOUBLE) AS first_elem, CAST(NULL AS BIGINT) AS n_pos,
             COUNT(*) AS n
      FROM events GROUP BY user_id, event_type
    )
    SELECT * FROM arr UNION ALL SELECT * FROM mp
    """,
)
def b37_b38_collection_fns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array + map function families (B37, B38) as one variant-tagged
    result — merged in round 7 (same pattern as b27) to free a registry
    slot for cdc_continuous_aggregate while keeping every row of both
    former entries hash-checked.

    variant='array' (former b37_array_posexplode): transform /
    aggregate / filter over embedding vectors — the JVM-side (codegen)
    path for vector math, no Python UDF (the 100 TB-safe form of C3's
    dot products) — then posexplode of the leading slice flattens with
    ordinal positions (Spark pos is 0-based; the oracle aligns via
    generate_subscripts - 1).

    variant='map' (former b38_map_fns): build a per-user map of
    event-type counts (map_from_entries over sorted struct entries),
    then explode it back to rows — the props-map access pattern. The
    oracle is the flat group-by the round-trip must reproduce."""
    em = t(spark, sf_dir, "embeddings")
    stats = em.select(
        "vec_id",
        F.col("embedding").alias("emb"),
        F.size("embedding").cast("bigint").alias("dim"),
        F.round(
            F.expr(
                "aggregate(embedding, 0D, (acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))"
            ),
            4,
        ).alias("norm2"),
        F.round(F.element_at("embedding", 1).cast("double"), 6).alias("first_elem"),
        F.size(F.expr("filter(embedding, x -> x > 0)")).cast("bigint").alias("n_pos"),
    )
    arr = stats.select(
        "vec_id",
        "dim",
        "norm2",
        "first_elem",
        "n_pos",
        F.posexplode(F.slice(F.col("emb").cast("array<double>"), 1, 3)).alias(
            "pos", "raw_elem"
        ),
    ).select(
        F.lit("array").alias("variant"),
        F.col("vec_id").alias("id"),
        F.col("pos").cast("string").alias("key"),
        F.round("raw_elem", 6).alias("val"),
        "dim",
        "norm2",
        "first_elem",
        "n_pos",
        F.lit(None).cast("bigint").alias("n"),
    )
    ev = t(spark, sf_dir, "events")
    per = ev.groupBy("user_id", "event_type").agg(F.count("*").alias("n"))
    mapped = per.groupBy("user_id").agg(
        F.map_from_entries(
            F.sort_array(F.collect_list(F.struct("event_type", "n")))
        ).alias("type_counts")
    )
    mp = mapped.select(
        "user_id", F.explode("type_counts").alias("event_type", "n")
    ).select(
        F.lit("map").alias("variant"),
        F.col("user_id").alias("id"),
        F.col("event_type").alias("key"),
        F.lit(None).cast("double").alias("val"),
        F.lit(None).cast("bigint").alias("dim"),
        F.lit(None).cast("double").alias("norm2"),
        F.lit(None).cast("double").alias("first_elem"),
        F.lit(None).cast("bigint").alias("n_pos"),
        "n",
    )
    return arr.unionByName(mp)


def _b39_conditional_fns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional/null functions (B39): op-code decode — the CASE
    mapping from app events to CDC operations (INSERT|UPDATE|DELETE,
    reference init.sql:16)."""
    ev = t(spark, sf_dir, "events")
    op = (
        F.when(F.col("event_type") == "signup", "INSERT")
        .when(F.col("event_type") == "error", "DELETE")
        .otherwise("UPDATE")
    )
    decoded = F.coalesce(F.nullif(F.col("event_type"), F.lit("view")), F.lit("VIEWED"))
    return ev.groupBy(
        op.alias("operation"), decoded.alias("type_decoded")
    ).agg(F.count("*").alias("n"))


@register(
    "b33_b39_string_conditional_fns",
    """
    SELECT 'string' AS variant, doc_id,
           upper(source) AS source_uc,
           lower(source) AS source_lc,
           substring(text, 1, 4) AS text_prefix,
           length(text) AS text_len,
           trim(concat(' ', lang, ' ')) AS lang_trimmed,
           string_split(text, ' ')[1] AS first_word,
           regexp_extract(source, '([0-9]+)', 1) AS source_num,
           lpad(CAST(doc_id AS VARCHAR), 8, '0') AS padded_id,
           rpad(lang, 4, '.') AS lang_padded,
           replace(source, 'src', 'source-') AS source_renamed,
           translate(lang, 'aeiou', 'AEIOU') AS lang_vowels_uc,
           strpos(text, 'the') AS first_the_pos,
           reverse(lang) AS lang_rev,
           repeat(lang, 2) AS lang_x2,
           CAST(NULL AS VARCHAR) AS operation,
           CAST(NULL AS VARCHAR) AS type_decoded,
           CAST(NULL AS BIGINT) AS n
    FROM documents
    UNION ALL
    SELECT 'conditional' AS variant, CAST(NULL AS BIGINT) AS doc_id,
           NULL, NULL, NULL, CAST(NULL AS BIGINT), NULL, NULL, NULL,
           NULL, NULL, NULL, NULL, CAST(NULL AS BIGINT), NULL, NULL,
           CASE WHEN event_type = 'signup' THEN 'INSERT'
                WHEN event_type = 'error'  THEN 'DELETE'
                ELSE 'UPDATE' END AS operation,
           COALESCE(NULLIF(event_type, 'view'), 'VIEWED') AS type_decoded,
           COUNT(*) AS n
    FROM events GROUP BY 17, 18
    """,
)
def b33_b39_string_conditional_fns(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """String + conditional/null function families (B33, B39) as one
    variant-tagged union — merged in round 8 (the b27/b34_b35/b37_b38
    pattern) to free a registry slot for the round-7 library-family
    entries while keeping every row and column of both former entries
    hash-checked.

    variant='string' (former b33_string_fns): see
    :func:`_b33_string_fns`. variant='conditional' (former
    b39_conditional_fns): see :func:`_b39_conditional_fns`."""
    null_s = F.lit(None).cast("string")
    null_l = F.lit(None).cast("long")
    strings = _b33_string_fns(spark, sf_dir).select(
        F.lit("string").alias("variant"),
        F.col("doc_id").cast("long").alias("doc_id"),
        "source_uc",
        "source_lc",
        "text_prefix",
        F.col("text_len").cast("long").alias("text_len"),
        "lang_trimmed",
        "first_word",
        "source_num",
        "padded_id",
        "lang_padded",
        "source_renamed",
        "lang_vowels_uc",
        F.col("first_the_pos").cast("long").alias("first_the_pos"),
        "lang_rev",
        "lang_x2",
        null_s.alias("operation"),
        null_s.alias("type_decoded"),
        null_l.alias("n"),
    )
    conditional = _b39_conditional_fns(spark, sf_dir).select(
        F.lit("conditional").alias("variant"),
        null_l.alias("doc_id"),
        *[
            null_s.alias(c)
            for c in (
                "source_uc",
                "source_lc",
                "text_prefix",
            )
        ],
        null_l.alias("text_len"),
        *[
            null_s.alias(c)
            for c in (
                "lang_trimmed",
                "first_word",
                "source_num",
                "padded_id",
                "lang_padded",
                "source_renamed",
                "lang_vowels_uc",
            )
        ],
        null_l.alias("first_the_pos"),
        null_s.alias("lang_rev"),
        null_s.alias("lang_x2"),
        "operation",
        "type_decoded",
        F.col("n").cast("long").alias("n"),
    )
    return strings.unionByName(conditional)


# ---------------------------------------------------------------------------
# B40 Pandas UDF (the sanctioned slow path)
# ---------------------------------------------------------------------------


@register(
    "b40_pandas_udf_tokens",
    """
    SELECT doc_id,
           len(text) - len(replace(text, ' ', '')) + 1 AS n_tokens
    FROM documents
    """,
)
def b40_pandas_udf_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pandas UDF (B40): Arrow-vectorized token counting. The UDF
    mirrors `space_count + 1` exactly so the oracle is pure SQL. This
    is the pattern for anything built-ins can't express: batch-
    vectorized, never row-at-a-time."""

    @F.pandas_udf(T.LongType())
    def token_count(texts: pd.Series) -> pd.Series:
        return texts.str.count(" ").astype("int64") + 1

    return t(spark, sf_dir, "documents").select(
        "doc_id", token_count(F.col("text")).alias("n_tokens")
    )


# ---------------------------------------------------------------------------
# B43/B44 batch analogs — tumbling windows + session windows
# ---------------------------------------------------------------------------


@register(
    "b43_b44_windows",
    """
    SELECT 'tumbling' AS family,
           date_trunc('hour', ts) AS window_start,
           event_type AS k,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(10,2))) AS DOUBLE) AS total_value
    FROM events GROUP BY 2, 3
    UNION ALL
    SELECT 'session' AS family, session_start AS window_start,
           CAST(user_id AS VARCHAR) AS k, n AS n,
           CAST(NULL AS DOUBLE) AS total_value
    FROM (
      WITH o AS (
        SELECT user_id, ts,
               CASE WHEN epoch(ts) - epoch(LAG(ts) OVER
                      (PARTITION BY user_id ORDER BY ts, event_id)) > 1800
                      OR LAG(ts) OVER
                      (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                    THEN 1 ELSE 0 END AS new_session,
               event_id
        FROM events
      ),
      s AS (
        SELECT user_id, ts,
               SUM(new_session) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS session_id
        FROM o
      )
      SELECT user_id, MIN(ts) AS session_start, COUNT(*) AS n
      FROM s GROUP BY user_id, session_id
    )
    """,
)
def b43_b44_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B43 + B44 as one family-tagged entry (merged round 12 to free a
    registry slot for b41_b48_streaming_semantics; the driver window
    is 50 entries).

    family='tumbling' (B43): events-per-hour per type — the
    Kafka-UI-style monitoring rollup (reference readme.md:124-126) via
    F.window (the streaming-native operator) in batch mode; its 1-hour
    buckets are epoch-aligned, identical to date_trunc.

    family='session' (B44): per-user sessions closing after 30 minutes
    of silence via F.session_window; the oracle is the classic
    gaps-and-islands formulation (lag + cumulative flag sum), proving
    the two formulations agree."""
    ev = t(spark, sf_dir, "events")
    tumbling = (
        ev.groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.expr("CAST(value AS DECIMAL(10,2))"))
            .cast("double")
            .alias("total_value"),
        )
        .select(
            F.lit("tumbling").alias("family"),
            F.col("window.start").alias("window_start"),
            F.col("event_type").alias("k"),
            "n",
            "total_value",
        )
    )
    session = (
        ev.groupBy(
            F.session_window("ts", "30 minutes").alias("sess"), "user_id"
        )
        .agg(F.count("*").alias("n"))
        .select(
            F.lit("session").alias("family"),
            F.col("sess.start").alias("window_start"),
            F.col("user_id").cast("string").alias("k"),
            "n",
            F.lit(None).cast("double").alias("total_value"),
        )
    )
    return tumbling.unionByName(session)
