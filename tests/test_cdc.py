"""CDC golden-scenario + property tests (SURVEY.md §5 items 2-3).

Mirrors the reference's manual smoke procedure (readme.md:97-126):
seed assets (init.sql:99-103), apply insert/update/delete, then check
envelope contents (null rules readme.md:252-267), dense monotone
event_id, view routing, replay reconstruction, retention, and
incremental polling.
"""

from __future__ import annotations

import datetime as dt
import json

import pytest
from pyspark.sql import functions as F

from timescale_cdc_spark.cdc import (
    EventLog,
    cdc_transform,
    event_log_view,
    latest_state,
    snapshot_diff,
    state_as_of,
)
from timescale_cdc_spark.cdc.incremental import IncrementalPoller
from timescale_cdc_spark.cdc.retention import apply_retention, compact_partition
from timescale_cdc_spark.schemas import ASSETS_SCHEMA

T0 = dt.datetime(2025, 6, 1, 12, 0, 0)


def _assets(spark, rows):
    return spark.createDataFrame(rows, schema=ASSETS_SCHEMA)


SEED = [  # init.sql:99-103 seed values
    (1, "Water Pump", "WP001", T0, T0),
    (2, "Steam Trap", "STM002", T0, T0),
    (3, "Compressor", "CMP003", T0, T0),
]


@pytest.fixture()
def log(spark, tmp_path):
    return EventLog(spark, str(tmp_path / "event_log"))


def test_snapshot_diff_classifies_ops(spark):
    old = _assets(spark, SEED)
    new = _assets(
        spark,
        [
            (1, "Water Pump", "WP001", T0, T0),  # unchanged → no event
            (2, "Steam Trap MK2", "STM002", T0, T0 + dt.timedelta(hours=1)),  # UPDATE
            # id 3 gone → DELETE
            (4, "Valve", "VLV004", T0 + dt.timedelta(hours=1), T0 + dt.timedelta(hours=1)),  # INSERT
        ],
    )
    diff = snapshot_diff(old, new, "id").collect()
    ops = {r["operation"] for r in diff}
    assert ops == {"INSERT", "UPDATE", "DELETE"}
    assert len(diff) == 3  # unchanged row fires no trigger
    by_op = {r["operation"]: r for r in diff}
    # Null rules (readme.md:252-267)
    assert by_op["INSERT"]["before"] is None
    assert by_op["INSERT"]["after"]["id"] == 4
    assert by_op["DELETE"]["after"] is None
    assert by_op["DELETE"]["before"]["id"] == 3
    assert by_op["UPDATE"]["before"]["name"] == "Steam Trap"
    assert by_op["UPDATE"]["after"]["name"] == "Steam Trap MK2"


def test_envelope_and_dense_event_ids(spark, log):
    empty = _assets(spark, [])
    seeded = _assets(spark, SEED)
    env1 = cdc_transform(
        empty, seeded, "id", "dataschema", "assets", capture_ts=F.lit(T0)
    )
    assert log.append(env1) == 3

    # second batch: one update, one delete
    updated = _assets(
        spark,
        [
            (1, "Water Pump XL", "WP001", T0, T0 + dt.timedelta(minutes=5)),
            (2, "Steam Trap", "STM002", T0, T0),
        ],
    )
    env2 = cdc_transform(
        seeded, updated, "id", "dataschema", "assets",
        capture_ts=F.lit(T0 + dt.timedelta(minutes=5)),
    )
    assert log.append(env2) == 2

    rows = log.read().orderBy("event_id").collect()
    ids = [r["event_id"] for r in rows]
    assert ids == [1, 2, 3, 4, 5]  # dense, gap-free, monotone (init.sql:51-59)
    assert all(r["schema_name"] == "dataschema" for r in rows)
    assert {r["operation"] for r in rows[:3]} == {"INSERT"}
    assert {r["operation"] for r in rows[3:]} == {"UPDATE", "DELETE"}
    # envelope JSON parses and matches source rows
    first = json.loads(rows[0]["after"])
    assert first["serialnumber"] in {"WP001", "STM002", "CMP003"}
    # PK uniqueness (init.sql:61-62)
    assert log.read().select("event_id", "ts").distinct().count() == 5


def test_replay_reconstructs_final_state(spark, log):
    """SURVEY §5 property: replaying the log == final table state."""
    s0 = _assets(spark, [])
    s1 = _assets(spark, SEED)
    s2 = _assets(
        spark,
        [
            (1, "Water Pump XL", "WP001", T0, T0 + dt.timedelta(minutes=5)),
            (3, "Compressor", "CMP003", T0, T0),
            (5, "Heat Exchanger", "HX005", T0 + dt.timedelta(minutes=5), T0 + dt.timedelta(minutes=5)),
        ],
    )
    log.append(cdc_transform(s0, s1, "id", "dataschema", "assets", F.lit(T0)))
    log.append(
        cdc_transform(
            s1, s2, "id", "dataschema", "assets",
            F.lit(T0 + dt.timedelta(minutes=5)),
        )
    )
    table_log = log.read_table("dataschema", "assets")
    final = latest_state(table_log, "id", ASSETS_SCHEMA)
    got = {
        (r["id"], r["name"], r["serialnumber"]) for r in final.collect()
    }
    want = {(r[0], r[1], r[2]) for r in s2.collect()}
    assert got == want

    # as-of T0 (before the second batch) reconstructs the seed state
    asof = state_as_of(table_log, "id", ASSETS_SCHEMA, str(T0))
    got0 = {(r["id"], r["name"]) for r in asof.collect()}
    assert got0 == {(1, "Water Pump"), (2, "Steam Trap"), (3, "Compressor")}


def test_view_routing_partition(spark, log):
    """A11 ⊕ B32 invariant: per-table views partition the log."""
    s0 = _assets(spark, [])
    s1 = _assets(spark, SEED)
    log.append(cdc_transform(s0, s1, "id", "dataschema", "assets", F.lit(T0)))
    log.append(cdc_transform(s0, s1, "id", "dataschema", "anomaly", F.lit(T0)))
    base = log.read()
    assets_v = event_log_view(base, "dataschema", "assets")
    anomaly_v = event_log_view(base, "dataschema", "anomaly")
    assert assets_v.count() == 3 and anomaly_v.count() == 3
    assert assets_v.union(anomaly_v).count() == base.count()
    assert assets_v.columns == [
        "ts", "schema_name", "table_name", "operation", "before", "after", "event_id",
    ]


def test_retention_drops_only_expired(spark, log):
    old_ts = T0 - dt.timedelta(days=30)
    s0 = _assets(spark, [])
    s1 = _assets(spark, SEED)
    log.append(cdc_transform(s0, s1, "id", "dataschema", "assets", F.lit(old_ts)))
    log.append(cdc_transform(s0, s1, "id", "dataschema", "anomaly", F.lit(T0)))
    dropped = apply_retention(log, horizon_days=7, now=T0.date())
    assert dropped == [old_ts.date()]
    remaining = log.read()
    assert remaining.count() == 3
    # invariant: nothing younger than horizon was dropped
    assert remaining.filter(F.col("ts") < str(T0 - dt.timedelta(days=7))).count() == 0


def test_compaction_preserves_rows(spark, log):
    s0 = _assets(spark, [])
    s1 = _assets(spark, SEED)
    for i in range(3):  # several small appends → small files
        log.append(
            cdc_transform(
                s0, s1, "id", "dataschema", f"t{i}", F.lit(T0)
            )
        )
    before = log.read().count()
    n = compact_partition(log, T0.date(), target_files=1)
    assert n == before
    assert log.read().count() == before


def test_incremental_poller_no_redelivery(spark, log, tmp_path):
    s0 = _assets(spark, [])
    s1 = _assets(spark, SEED)
    log.append(cdc_transform(s0, s1, "id", "dataschema", "assets", F.lit(T0)))

    poller = IncrementalPoller(str(tmp_path / "offset.json"), start_ts="2025-01-01 00:00:00")
    b1 = poller.poll(log.read())
    assert b1.count() == 3

    # nothing new → empty poll (no re-delivery, B1 semantics)
    assert poller.poll(log.read()).count() == 0

    # new events beyond the offset are delivered exactly once
    s2 = _assets(spark, SEED + [(4, "Valve", "VLV004", T0, T0)])
    log.append(
        cdc_transform(s1, s2, "id", "dataschema", "assets",
                      F.lit(T0 + dt.timedelta(seconds=30)))
    )
    b2 = poller.poll(log.read())
    assert b2.count() == 1
    assert b2.collect()[0]["operation"] == "INSERT"

    # restart from persisted offset: still nothing new
    poller2 = IncrementalPoller(str(tmp_path / "offset.json"))
    assert poller2.poll(log.read()).count() == 0

    # late-data sweep by id catches everything regardless of ts
    assert poller2.sweep_by_id(log.read(), last_seen_id=0).count() == 4


def test_fetch_empty_batch_is_eagerly_empty(spark, log, tmp_path):
    """Round-3 regression (ADVICE r2): an empty fetch must return a
    provably-empty frame. Because frames are lazy, returning the open
    interval would surface rows appended AFTER the fetch in the
    'empty' batch — but ack(None) never advances the offset, so the
    next fetch would re-deliver them (double delivery)."""
    s0, s1 = _assets(spark, []), _assets(spark, SEED)
    log.append(cdc_transform(s0, s1, "id", "dataschema", "assets", F.lit(T0)))

    poller = IncrementalPoller(
        str(tmp_path / "offset.json"), start_ts="2025-01-01 00:00:00"
    )
    batch, off = poller.fetch(log.read())
    poller.ack(off)
    assert batch.count() == 3

    empty, off2 = poller.fetch(log.read())
    assert off2 is None

    # rows land AFTER the empty fetch but BEFORE the consumer acts
    s2 = _assets(spark, SEED + [(4, "Valve", "VLV004", T0, T0)])
    log.append(
        cdc_transform(s1, s2, "id", "dataschema", "assets",
                      F.lit(T0 + dt.timedelta(seconds=30)))
    )
    assert empty.count() == 0  # the "empty" batch must stay empty
    nxt, off3 = poller.fetch(log.read())
    assert nxt.count() == 1  # delivered exactly once, by the NEXT fetch
    poller.ack(off3)


@pytest.mark.slow
def test_maintenance_runner(spark, log, tmp_path):
    import datetime as dt2

    from timescale_cdc_spark.maintenance import run_maintenance

    s0 = _assets(spark, [])
    s1 = _assets(spark, SEED)
    old_ts = T0 - dt2.timedelta(days=30)
    log.append(cdc_transform(s0, s1, "id", "dataschema", "assets", F.lit(old_ts)))
    log.append(cdc_transform(s0, s1, "id", "dataschema", "assets", F.lit(T0 - dt2.timedelta(days=3))))
    # derived-structure upkeep rides the same runner: an ANN index to
    # staleness-check and a near-dedup signature index to compact
    from timescale_cdc_spark.operators.ann_index import IvfIndex
    from timescale_cdc_spark.operators.curation import StreamingNearDedup

    from conftest import SF_DIR

    em = spark.read.parquet(f"{SF_DIR.rstrip('/')}/embeddings.parquet")
    IvfIndex(spark, str(tmp_path / "ivf")).build(em, n_clusters=4)
    gate = StreamingNearDedup(spark, str(tmp_path / "sig_idx"))
    for b in range(2):
        batch = spark.createDataFrame(
            [(b * 10 + i, f"maintenance test doc {b} {i} with words "
              f"{'x' * (i + 1)} {'y' * (b + 1)} end") for i in range(3)],
            "doc_id long, text string",
        )
        gate.process_batch(batch, b)
    from timescale_cdc_spark.operators.ann_index import StreamingVectorDedup

    vgate = StreamingVectorDedup(spark, str(tmp_path / "vec_idx"))
    vgate.process_batch(em.filter("vec_id < 5"), 0)
    vgate.process_batch(em.filter("vec_id >= 5 AND vec_id < 10"), 1)

    # round 15: the CDC→index sync's reconciliation rides the runner
    # — plant the documented crash window (staged {1000, 1001} +
    # marker, append lost) and a takedown of 1000; the runner's
    # repair leg must re-append exactly 1001 and prune both batches
    import os as _os

    from timescale_cdc_spark.streaming.index_sync import IndexCdcSync

    ivf = IvfIndex(spark, str(tmp_path / "ivf"))
    sync = IndexCdcSync(ivf, str(tmp_path / "sync"))
    em.orderBy("vec_id").limit(2).selectExpr(
        "vec_id + 1000 AS vec_id", "embedding"
    ).write.parquet(sync._staged_batch(0))
    _os.makedirs(sync._applied_path, exist_ok=True)
    with open(sync._marker(0), "w") as f:
        f.write("0")
    del_env = em.orderBy("vec_id").limit(1).select(
        F.current_timestamp().alias("ts"),
        F.lit("dataschema").alias("schema_name"),
        F.lit("embeddings").alias("table_name"),
        F.lit("DELETE").alias("operation"),
        F.to_json(
            F.struct((F.col("vec_id") + 1000).alias("vec_id"))
        ).alias("before"),
        F.lit(None).cast("string").alias("after"),
    )
    sync.apply_batch(del_env, 1)

    report = run_maintenance(
        log.path, retention_days=7, compact=True, keep_hot_days=1, now=T0.date(),
        ann_index_path=str(tmp_path / "ivf"),
        index_sync_path=str(tmp_path / "sync"),
        near_dedup_index_path=str(tmp_path / "sig_idx"),
        vec_dedup_index_path=str(tmp_path / "vec_idx"),
    )
    assert report["index_sync_rows_repaired"] == 1
    assert report["index_sync_staged_pruned"] == 2
    assert report["index_sync"]["staged_batches"] == 0
    live = ivf.corpus().select("c_id")
    assert live.filter(F.col("c_id") == 1001).count() == 1
    assert live.filter(F.col("c_id") == 1000).count() == 0
    assert report["dropped_partitions"] == [old_ts.date().isoformat()]
    assert list(report["compacted_partitions"].values()) == [3]
    assert log.read().count() == 3
    assert report["ann_index"]["rebuild_recommended"] is False
    assert report["near_dedup_index_dirs_compacted"] == 2
    assert report["vec_dedup_index_dirs_compacted"] == 2
    # compaction adopted the bucket-pruned base layout (round 7) and
    # the report carries the structural gate state
    assert gate._gen_dirs() and vgate._gen_dirs()
    assert "prefix_mod" in gate._gen_meta(gate._gen_dirs()[0])
    for k in ("near_dedup_index", "vec_dedup_index"):
        st = report[k]
        assert st["batch_dirs"] == 0 and st["generations"] == 1
        assert st["prefix_mod"] >= 16 and st["batch_est"] is not None

    # ADVICE r6: pointing the runner at an UNBUILT index must not
    # raise after retention/compaction already ran — the report
    # carries an error field for the staleness leg instead.
    report2 = run_maintenance(
        log.path, retention_days=7, compact=False, now=T0.date(),
        ann_index_path=str(tmp_path / "no_such_index"),
    )
    assert "error" in report2["ann_index"]
    assert report2["ann_index_rows_compacted"] == 0


@pytest.mark.slow
def test_materialized_table_equals_full_replay(spark, log, tmp_path):
    """Incremental materialization (apply each batch) must equal the
    full-log replay at every step — the O(batch) vs O(log) equivalence
    (cdc/materialize.py)."""
    from timescale_cdc_spark.cdc.materialize import MaterializedTable

    mat = MaterializedTable(spark, str(tmp_path / "mat"), ASSETS_SCHEMA, "id")

    states = [
        [],
        SEED,
        [  # update 1, delete 2, keep 3
            (1, "Water Pump XL", "WP001", T0, T0),
            (3, "Compressor", "CMP003", T0, T0),
        ],
        [  # insert 4, delete 3
            (1, "Water Pump XL", "WP001", T0, T0),
            (4, "Valve", "VLV004", T0, T0),
        ],
    ]
    for i in range(1, len(states)):
        ts = T0 + dt.timedelta(minutes=i)
        env = cdc_transform(
            _assets(spark, states[i - 1]), _assets(spark, states[i]),
            "id", "dataschema", "assets", F.lit(ts),
        )
        log.append(env)
        # apply ONLY this batch's events to the materialized table
        batch = log.read().filter(F.col("ts") == ts)
        mat.apply_changes(batch)

        replayed = latest_state(
            log.read_table("dataschema", "assets"), "id", ASSETS_SCHEMA
        )
        got_mat = {(r["id"], r["name"]) for r in mat.read().collect()}
        got_replay = {(r["id"], r["name"]) for r in replayed.collect()}
        want = {(r[0], r[1]) for r in states[i]}
        assert got_mat == want, f"step {i}: materialized != expected"
        assert got_mat == got_replay, f"step {i}: materialized != replay"


def test_materialized_table_adopts_stored_bucket_count(spark, log, tmp_path):
    """Round-3 regression (ADVICE r2): reopening an existing table with
    a different n_buckets must adopt the stored layout's count —
    otherwise _bucket_expr disagrees with the on-disk bucketing and
    updated keys silently duplicate."""
    from timescale_cdc_spark.cdc.materialize import MaterializedTable

    path = str(tmp_path / "mat")
    mat = MaterializedTable(spark, path, ASSETS_SCHEMA, "id", n_buckets=16)
    env = cdc_transform(
        _assets(spark, []), _assets(spark, SEED),
        "id", "dataschema", "assets", F.lit(T0),
    )
    log.append(env)
    mat.apply_changes(log.read().filter(F.col("ts") == T0))

    # reopen with a DIFFERENT n_buckets: stored layout wins
    mat2 = MaterializedTable(spark, path, ASSETS_SCHEMA, "id", n_buckets=4)
    assert mat2.n_buckets == 16

    # an update through the reopened handle must not duplicate the PK
    ts2 = T0 + dt.timedelta(minutes=1)
    env2 = cdc_transform(
        _assets(spark, SEED),
        _assets(spark, [(1, "Water Pump XL", "WP001", T0, T0)] + SEED[1:]),
        "id", "dataschema", "assets", F.lit(ts2),
    )
    log.append(env2)
    mat2.apply_changes(log.read().filter(F.col("ts") == ts2))
    rows = {(r["id"], r["name"]) for r in mat2.read().collect()}
    assert rows == {(1, "Water Pump XL"), (2, "Steam Trap"), (3, "Compressor")}


@pytest.mark.slow
def test_materialized_table_snapshot_survives_concurrent_writer(spark, log, tmp_path):
    """Round-4 VERDICT #3: a reader that resolved its paths from
    manifest generation G must still be able to scan after a writer
    commits G+1 and runs its gc — retain_generations keeps the trailing
    window of version dirs. Beyond the window, dirs ARE reclaimed and
    a too-stale manifest fails loudly when its paths are resolved."""
    from timescale_cdc_spark.cdc.materialize import MaterializedTable

    path = str(tmp_path / "mat")
    mat = MaterializedTable(spark, path, ASSETS_SCHEMA, "id",
                            n_buckets=4, retain_generations=2)

    states = [
        [],
        SEED,
        [(1, "Water Pump XL", "WP001", T0, T0)] + SEED[1:],
        [(1, "Water Pump XXL", "WP001", T0, T0)] + SEED[1:],
        [(1, "Water Pump XXXL", "WP001", T0, T0)] + SEED[1:],
    ]
    def apply_step(i):
        ts = T0 + dt.timedelta(minutes=i)
        env = cdc_transform(
            _assets(spark, states[i - 1]), _assets(spark, states[i]),
            "id", "dataschema", "assets", F.lit(ts),
        )
        log.append(env)
        mat.apply_changes(log.read().filter(F.col("ts") == ts))

    apply_step(1)
    # Reader pins its snapshot: concrete G1 paths resolved NOW.
    reader_df = mat.read()
    g1_manifest = mat.store.load()

    apply_step(2)  # writer commits G2 and gcs
    # The pinned G1 scan must still succeed and see the G1 state.
    got = {(r["id"], r["name"]) for r in reader_df.collect()}
    assert got == {(r[0], r[1]) for r in states[1]}

    # Two more generations push G1 beyond the retain window...
    apply_step(3)
    apply_step(4)
    # ...so its superseded version dirs are reclaimed and a reader
    # still holding the G1 manifest fails loudly, not with a silently
    # smaller table.
    with pytest.raises(FileNotFoundError):
        mat.store.paths(g1_manifest)
    # The live table is unaffected.
    live = {(r["id"], r["name"]) for r in mat.read().collect()}
    assert live == {(r[0], r[1]) for r in states[4]}


@pytest.mark.slow
def test_materialized_table_cold_bucket_supersession_expiry(spark, log, tmp_path):
    """ADVICE r6 (high): expiry must count from when a version dir was
    SUPERSEDED, not when it was created. A bucket untouched for >= N
    commits keeps an old-generation dir as its current version; when a
    writer finally touches it, a reader holding the immediately-
    previous manifest must STILL be able to scan that bucket — the
    creation-generation rule deleted it on the spot."""
    from timescale_cdc_spark.cdc.materialize import MaterializedTable

    mat = MaterializedTable(spark, str(tmp_path / "mat"), ASSETS_SCHEMA,
                            "id", n_buckets=4, retain_generations=2)
    # Two keys in DIFFERENT buckets: one stays cold, one stays hot.
    by_bucket = {}
    for i in range(1, 40):
        b = spark.range(1).select(
            mat._bucket_expr(F.lit(str(i))).alias("b")).collect()[0].b
        by_bucket.setdefault(b, i)
        if len(by_bucket) >= 2:
            break
    cold_id, hot_id = sorted(by_bucket.values())

    def state(cold_name, hot_name):
        return [(cold_id, cold_name, "COLD", T0, T0),
                (hot_id, hot_name, "HOT", T0, T0)]

    states = [
        [],
        state("Cold v1", "Hot v1"),     # gen 1: cold bucket written
        state("Cold v1", "Hot v2"),     # gens 2-4: only the hot key
        state("Cold v1", "Hot v3"),
        state("Cold v1", "Hot v4"),
        state("Cold v2", "Hot v5"),     # gen 5: cold key finally touched
        state("Cold v2", "Hot v6"),     # gen 6: pushes gen-4 manifest out
    ]

    def apply_step(i):
        ts = T0 + dt.timedelta(minutes=i)
        env = cdc_transform(
            _assets(spark, states[i - 1]), _assets(spark, states[i]),
            "id", "dataschema", "assets", F.lit(ts),
        )
        log.append(env)
        mat.apply_changes(log.read().filter(F.col("ts") == ts))

    for i in range(1, 5):
        apply_step(i)
    # Reader pins the gen-4 snapshot: cold bucket still at its gen-1
    # dir (current since creation), hot bucket at gen 4.
    reader_df = mat.read()
    g4_manifest = mat.store.load()
    assert g4_manifest["version"] == 4

    apply_step(5)  # supersedes the cold bucket's gen-1 dir
    # The gen-4 reader must survive the commit+gc that superseded the
    # cold dir (it is one generation stale — inside the window).
    got = {(r["id"], r["name"]) for r in reader_df.collect()}
    assert got == {(cold_id, "Cold v1"), (hot_id, "Hot v4")}

    apply_step(6)  # now gen 4 is two generations stale — out of window
    with pytest.raises(FileNotFoundError):
        mat.store.paths(g4_manifest)
    live = {(r["id"], r["name"]) for r in mat.read().collect()}
    assert live == {(cold_id, "Cold v2"), (hot_id, "Hot v6")}


def test_materialized_table_recovers_orphan_version_dirs(spark, log, tmp_path):
    """A crash BETWEEN the bucket-rename loop and the manifest commit
    leaves version dirs the manifest never references, named exactly
    like the next writer's rename target. The next commit must replace
    or reclaim them, or os.rename collides."""
    import os as _os

    from timescale_cdc_spark.cdc.materialize import MaterializedTable

    path = str(tmp_path / "mat")
    mat = MaterializedTable(spark, path, ASSETS_SCHEMA, "id", n_buckets=4)
    env = cdc_transform(_assets(spark, []), _assets(spark, SEED),
                        "id", "dataschema", "assets", F.lit(T0))
    log.append(env)
    batch = log.read().filter(F.col("ts") == T0)
    mat.apply_changes(batch)

    # Simulate the crash debris: un-committed v_000002 dirs.
    for name in _os.listdir(path):
        if name.startswith("bucket="):
            _os.makedirs(_os.path.join(path, name, "v_000002"))
            with open(_os.path.join(path, name, "v_000002", "junk"), "w") as f:
                f.write("orphan")

    ts2 = T0 + dt.timedelta(minutes=1)
    env2 = cdc_transform(
        _assets(spark, SEED),
        _assets(spark, [(1, "Water Pump XL", "WP001", T0, T0)] + SEED[1:]),
        "id", "dataschema", "assets", F.lit(ts2),
    )
    log.append(env2)
    mat.apply_changes(log.read().filter(F.col("ts") == ts2))  # must not raise
    got = {(r["id"], r["name"]) for r in mat.read().collect()}
    assert got == {(1, "Water Pump XL"), (2, "Steam Trap"), (3, "Compressor")}


def test_append_retry_replaces_partial_output(spark, tmp_path):
    """Crash-safety of the staged-batch publish: if a batch publishes
    but the watermark commit never lands (crash between the two), the
    rerun of the SAME batch must replace its own output — same id
    range, same rows, no duplicates."""
    log = EventLog(spark, str(tmp_path / "log"))
    env = cdc_transform(
        _assets(spark, []), _assets(spark, SEED),
        "id", "dataschema", "assets", F.lit(T0),
    )
    n = log.append(env)
    assert n == 3 and log.read().count() == 3

    # simulate the crash: roll the watermark back as if the commit
    # never happened, then rerun the batch
    log._commit_watermark(0)
    n2 = log.append(env)
    assert n2 == 3
    rows = log.read().collect()
    assert len(rows) == 3, "rerun must replace, not duplicate"
    assert sorted(r["event_id"] for r in rows) == [1, 2, 3]
    assert log.last_event_id() == 3


def _jobs_launched(spark, build) -> int:
    """Spark jobs launched while ``build()`` runs, counted through a
    job group. A one-task sentinel job runs in the same group, so a
    group that is not tracked fails the count instead of reading 0."""
    import uuid

    sc = spark.sparkContext
    group = f"pin-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "construction pin")
    try:
        build()
        sc.parallelize([1], 1).count()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group)) - 1


def _seed_rows(n: int, name: str = "n") -> list:
    return [(i, f"{name}{i}", f"S{i:04d}", T0, T0) for i in range(1, n + 1)]


def test_append_event_ids_are_bigint_across_int32_boundary(spark, tmp_path):
    """event_id is bigint (init.sql:48): a batch appended just below
    2^31 gets dense ids past it instead of an int32 overflow, reads
    back as LongType, and a log whose files hold int32 ids reads
    through the declared schema widened to long."""
    from pyspark.sql import types as T

    log = EventLog(spark, str(tmp_path / "log"))
    log._commit_watermark(2**31 - 10)
    env = cdc_transform(_assets(spark, []), _assets(spark, _seed_rows(20)),
                        "id", "dataschema", "assets", F.lit(T0))
    assert log.append(env) == 20
    assert log.append(env, distributed_ids=True) == 20
    ids = sorted(r["event_id"] for r in log.read().collect())
    assert ids == list(range(2**31 - 9, 2**31 + 31))
    assert log.last_event_id() == 2**31 + 30
    assert log.read().schema["event_id"].dataType == T.LongType()

    old = EventLog(spark, str(tmp_path / "int32_log"))
    part = f"{old.data_path}/event_date={T0.date().isoformat()}"
    spark.createDataFrame(
        [(T0, "dataschema", "assets", "INSERT", None, "{}", 7)],
        "ts timestamp, schema_name string, table_name string, "
        "operation string, before string, after string, event_id int",
    ).write.parquet(part)
    got = old.read().filter(F.col("event_id") == 7)
    assert got.schema["event_id"].dataType == T.LongType()
    assert [r["event_id"] for r in got.collect()] == [7]


def test_empty_append_writes_nothing(spark, tmp_path):
    """An empty batch returns 0, leaves no staged output and does not
    touch the watermark, on both id paths."""
    import os

    log = EventLog(spark, str(tmp_path / "log"))
    empty = cdc_transform(_assets(spark, SEED), _assets(spark, SEED),
                          "id", "dataschema", "assets", F.lit(T0))
    for distributed in (False, True):
        assert log.append(empty, distributed_ids=distributed) == 0
    assert log.last_event_id() == 0
    assert not log.exists()
    staging = os.path.join(log.path, "_staging")
    assert not os.path.isdir(staging) or not os.listdir(staging)


def test_append_keeps_session_serializable(spark, tmp_path):
    """Counting an append must not leave state in the session that
    Java serialization rejects: closures that capture the session
    (Spark ML model UDFs) are serialized with it."""
    log = EventLog(spark, str(tmp_path / "log"))
    env = cdc_transform(_assets(spark, []), _assets(spark, SEED),
                        "id", "dataschema", "assets", F.lit(T0))
    assert log.append(env) == 3
    jvm = spark._jvm
    out = jvm.java.io.ObjectOutputStream(jvm.java.io.ByteArrayOutputStream())
    out.writeObject(spark._jsparkSession)


def test_engine_table_reads_launch_no_jobs(spark, tmp_path):
    """EventLog.read() and ContinuousAggregate.materialized() scan
    with declared/recorded schemas: building either frame over a
    handful of partitions launches no Spark job (no schema
    inference)."""
    from timescale_cdc_spark.cdc.caggs import ContinuousAggregate

    log = EventLog(spark, str(tmp_path / "log"))
    for day in range(3):
        ts = T0 + dt.timedelta(days=day)
        log.append(cdc_transform(_assets(spark, []), _assets(spark, SEED),
                                 "id", "dataschema", "assets", F.lit(ts)))
    cagg = ContinuousAggregate(
        spark, str(tmp_path / "cagg"), "1 hour", "ts", ["table_name"],
        lambda: [F.count(F.lit(1)).alias("n")],
    )
    cagg.refresh(log.read())
    assert len(cagg.store.load()["regions"]) == 3
    assert _jobs_launched(spark, log.read) == 0
    assert _jobs_launched(spark, cagg.materialized) == 0
    assert cagg.materialized().count() == 3


def test_apply_changes_commits_one_file_per_bucket(spark, log, tmp_path):
    """The merge hash-partitions on the bucket before writing, so
    every committed bucket version directory holds exactly one parquet
    file — also when the rewritten buckets are read back from the
    previous version and unioned with the batch."""
    import os

    from timescale_cdc_spark.cdc.materialize import MaterializedTable

    mat = MaterializedTable(spark, str(tmp_path / "mat"), ASSETS_SCHEMA,
                            "id", n_buckets=4)
    # step 2 updates half the keys and keeps the rest, so every bucket
    # is rebuilt from both its kept rows and the batch's upserts
    states = [[], _seed_rows(200), _seed_rows(100, name="m") + _seed_rows(200)[100:]]
    for i in range(1, len(states)):
        ts = T0 + dt.timedelta(minutes=i)
        log.append(cdc_transform(_assets(spark, states[i - 1]),
                                 _assets(spark, states[i]),
                                 "id", "dataschema", "assets", F.lit(ts)))
        mat.apply_changes(log.read().filter(F.col("ts") == ts).repartition(3))
        buckets = mat.store.load()["buckets"]
        assert len(buckets) == 4
        for b, v in buckets.items():
            files = os.listdir(mat.store.part_dir(b, v))
            assert sum(f.endswith(".parquet") for f in files) == 1, (b, files)
    got = {(r["id"], r["name"]) for r in mat.read().collect()}
    assert got == {(r[0], r[1]) for r in states[-1]}


def test_append_and_apply_leave_no_persisted_rdds(spark, log, tmp_path):
    """Long sessions keep no cached state: the distributed-ids persist
    in append and the batch persist in apply_changes are released, so
    the session's persistent RDD count is flat across repeated
    append + apply_changes calls."""
    from timescale_cdc_spark.cdc.materialize import MaterializedTable

    jsc = spark.sparkContext._jsc
    mat = MaterializedTable(spark, str(tmp_path / "mat"), ASSETS_SCHEMA,
                            "id", n_buckets=4)
    states = [[], SEED, SEED[:2], [(1, "Water Pump XL", "WP001", T0, T0)]]
    before = jsc.getPersistentRDDs().size()
    counts = []
    for i in range(1, len(states)):
        ts = T0 + dt.timedelta(minutes=i)
        log.append(cdc_transform(_assets(spark, states[i - 1]),
                                 _assets(spark, states[i]),
                                 "id", "dataschema", "assets", F.lit(ts)),
                   distributed_ids=i % 2 == 1)
        mat.apply_changes(log.read().filter(F.col("ts") == ts))
        counts.append(jsc.getPersistentRDDs().size())
    assert counts == [before] * 3
    assert {r["name"] for r in mat.read().collect()} == {"Water Pump XL"}


def test_hourly_chunked_log(spark, tmp_path):
    """Hour chunking (Timescale chunk_time_interval parity,
    init.sql:69-70): nested event_hour partitions, hour-level partition
    pruning, day-level retention, and leaf-preserving compaction."""
    import os

    from timescale_cdc_spark.cdc.retention import (
        apply_retention,
        compact_partition,
    )

    log = EventLog(spark, str(tmp_path / "log"), chunk="hour")
    s0 = _assets(spark, [])
    old_day = T0 - dt.timedelta(days=30)
    for i, ts in enumerate([T0, T0 + dt.timedelta(hours=3), old_day]):
        env = cdc_transform(
            s0, _assets(spark, SEED), "id", "dataschema", f"t{i}", F.lit(ts)
        )
        log.append(env)

    # nested layout: event_date=.../event_hour=NN
    day_dir = os.path.join(log.data_path, f"event_date={T0.date().isoformat()}")
    assert sorted(os.listdir(day_dir)) == ["event_hour=12", "event_hour=15"]

    # hour-level pruning reaches the scan
    pruned = log.read().filter(
        (F.col("event_date") == T0.date().isoformat())
        & (F.col("event_hour") == 12)
    )
    assert pruned.count() == 3
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "event_hour" in plan and "PartitionFilters" in plan

    # ids stay dense across hourly appends
    ids = [r["event_id"] for r in log.read().orderBy("event_id").collect()]
    assert ids == list(range(1, 10))

    # retention drops whole old days (both hours of a day at once)
    dropped = apply_retention(log, horizon_days=7, now=T0.date())
    assert dropped == [old_day.date()]
    assert log.read().count() == 6

    # compaction preserves rows AND the hour-leaf layout
    n = compact_partition(log, T0.date())
    assert n == 6
    assert sorted(os.listdir(day_dir)) == ["event_hour=12", "event_hour=15"]
    assert log.read().count() == 6
    assert log.read().filter(F.col("event_hour") == 15).count() == 3

    # streaming delivery works from an hourly-chunked log (the stream
    # schema gains the event_hour partition field)
    from timescale_cdc_spark.streaming.pipeline import CdcStreamPipeline

    pipe = CdcStreamPipeline(
        spark, log, str(tmp_path / "topics"),
        tables=[("dataschema", "t0"), ("dataschema", "t1")],
    )
    q = pipe.start(available_now=True)
    q.awaitTermination(120)
    assert pipe.read_topic("t0").count() == 3
    assert pipe.read_topic("t1").count() == 3


def test_hour_compaction_crash_between_renames(spark, tmp_path):
    """Crash-safety contract for hour chunks (ADVICE r3 high): a crash
    between _compact_dir's two renames leaves only
    ``event_hour=NN._compact_old`` + ``._compact_tmp`` survivors — the
    live leaf is missing. recover_partition must restore the real leaf
    (not no-op on the suffixed dirs), and compact_partition on the
    crashed state must recover-then-compact under the real name, never
    stranding data under ``._compact_*`` partition names."""
    import os
    import shutil

    from timescale_cdc_spark.cdc.retention import (
        compact_partition,
        recover_partition,
    )

    log = EventLog(spark, str(tmp_path / "log"), chunk="hour")
    s0 = _assets(spark, [])
    for i, ts in enumerate([T0, T0 + dt.timedelta(hours=3)]):
        env = cdc_transform(
            s0, _assets(spark, SEED), "id", "dataschema", f"t{i}", F.lit(ts)
        )
        log.append(env)
    assert log.read().count() == 6

    day_dir = os.path.join(log.data_path, f"event_date={T0.date().isoformat()}")
    leaf = os.path.join(day_dir, "event_hour=12")

    def simulate_crash_between_renames():
        # state mid-_compact_dir: tmp written, live renamed to old,
        # second rename never ran
        shutil.copytree(leaf, leaf + "._compact_tmp")
        os.rename(leaf, leaf + "._compact_old")

    simulate_crash_between_renames()
    assert not os.path.isdir(leaf)
    assert recover_partition(log, T0.date())
    assert os.path.isdir(leaf)
    assert not os.path.isdir(leaf + "._compact_old")
    assert not os.path.isdir(leaf + "._compact_tmp")
    assert log.read().count() == 6
    assert log.read().filter(F.col("event_hour") == 12).count() == 3

    # compact_partition directly on the crashed state: recovers first,
    # compacts the real leaves, strands nothing
    simulate_crash_between_renames()
    n = compact_partition(log, T0.date())
    assert n == 6
    assert sorted(os.listdir(day_dir)) == ["event_hour=12", "event_hour=15"]
    assert log.read().count() == 6
    assert log.read().filter(F.col("event_hour") == 12).count() == 3


def test_distributed_id_assignment_dense(spark, log):
    """SCALE.md fallback: per-partition id ranges stay dense and
    gap-free without a global sort."""
    env = (
        spark.range(0, 10000, 1, 8)  # 8 partitions
        .select(
            F.timestamp_seconds(F.lit(1735689600) + F.col("id")).alias("ts"),
            F.lit("dataschema").alias("schema_name"),
            F.lit("assets").alias("table_name"),
            F.lit("INSERT").alias("operation"),
            F.lit(None).cast("string").alias("before"),
            F.to_json(F.struct(F.col("id"))).alias("after"),
        )
    )
    assert log.append(env, distributed_ids=True) == 10000
    ids = [r.event_id for r in log.read().select("event_id").collect()]
    assert sorted(ids) == list(range(1, 10001))  # dense, gap-free, unique

    # second distributed append continues above the watermark
    assert log.append(env.limit(100), distributed_ids=True) == 100
    ids2 = [r.event_id for r in log.read().select("event_id").collect()]
    assert sorted(ids2) == list(range(1, 10101))


@pytest.mark.slow
def test_compress_partition_ratio_and_content(spark, log):
    """compress_chunk analog: cold-chunk rewrite (segment/order sort +
    zstd) must preserve content EXACTLY, report a real size reduction
    on repetitive CDC payloads, and stay readable transparently."""
    from timescale_cdc_spark.cdc.retention import compress_partition

    s0 = _assets(spark, [])
    # many small appends with repetitive payloads across several
    # tables -> unsorted snappy files with poor encodability
    for i in range(6):
        s1 = _assets(
            spark,
            [(j, f"Pump Model {j % 3}", f"SN{j % 5:03d}", T0, T0)
             for j in range(i * 20 + 1, i * 20 + 21)],
        )
        log.append(
            cdc_transform(s0, s1, "id", "dataschema", f"t{i % 3}",
                          F.lit(T0))
        )
    before_rows = sorted(map(tuple, log.read().collect()))
    stats = compress_partition(log, T0.date())
    assert stats["rows"] == len(before_rows)
    assert 0 < stats["bytes_after"] < stats["bytes_before"], stats
    # transparent reads, identical content
    after_rows = sorted(map(tuple, log.read().collect()))
    assert after_rows == before_rows
    # the rewrite is idempotent and stays crash-recoverable via the
    # same swap machinery (second run re-reports, content unchanged)
    stats2 = compress_partition(log, T0.date())
    assert stats2["rows"] == stats["rows"]
    assert sorted(map(tuple, log.read().collect())) == before_rows


def test_compress_partition_crash_recovery(spark, tmp_path):
    """A half-swapped crash (live leaf renamed to ._compact_old, new
    data not yet in place) heals inside compress_partition before the
    rewrite — same recovery contract as compact_partition."""
    import os
    import shutil

    from timescale_cdc_spark.cdc.retention import compress_partition

    log = EventLog(spark, str(tmp_path / "log"))
    s0 = _assets(spark, [])
    log.append(cdc_transform(s0, _assets(spark, SEED), "id",
                             "dataschema", "assets", F.lit(T0)))
    part = os.path.join(log.data_path, f"event_date={T0.date()}")
    os.rename(part, part + "._compact_old")
    assert not os.path.isdir(part)
    stats = compress_partition(log, T0.date())
    assert stats["rows"] == 3
    assert log.read().count() == 3
    assert not os.path.isdir(part + "._compact_old")


@pytest.mark.slow
def test_compress_partition_zorder_layout(spark, log):
    """Round 10 (VERDICT r9 #1): compress_partition(zorder_by=...)
    rewrites the cold chunk Morton-ordered, persists the normalization
    bounds in the chunk's _layout.json manifest, reuses them on the
    next run (incremental rewrites stay key-comparable), measurably
    prunes row groups for a (table_name, ts-range) box predicate, and
    a plain re-compress sweeps the manifest."""
    import os

    from timescale_cdc_spark.cdc.retention import (
        compress_partition,
        read_layout,
    )
    from timescale_cdc_spark.operators.layout import rowgroup_prune_stats

    s0 = _assets(spark, [])
    # several tables × spread timestamps inside one date chunk
    for i in range(8):
        rows = [
            (j, f"Pump {j}", f"SN{j:04d}", T0, T0)
            for j in range(i * 50 + 1, i * 50 + 51)
        ]
        log.append(
            cdc_transform(
                s0, _assets(spark, rows), "id", "dataschema", f"t{i % 4}",
                F.lit(T0 + dt.timedelta(minutes=7 * i)),
            )
        )
    before_rows = sorted(map(tuple, log.read().collect()))
    part = os.path.join(log.data_path, f"event_date={T0.date()}")

    stats = compress_partition(
        log, T0.date(), zorder_by=("table_name", "ts"),
        max_records_per_file=50,
    )
    assert stats["layout"] == "zordered"
    assert stats["bounds_source"] == "computed"
    assert set(stats["bounds"]) == {"table_name", "ts"}
    # reads stay hash-identical — the rewrite is a pure reorder
    assert sorted(map(tuple, log.read().collect())) == before_rows
    # manifest committed with the bounds used
    m = read_layout(part)
    assert m == {
        "layout": "zordered",
        "zorder_by": ["table_name", "ts"],
        "bits": stats["bits"],
        "bounds": stats["bounds"],
    }
    # the layout prunes: one table × 1/8 of the time range must open
    # fewer row groups than exist (50-row files ⇒ 8 groups)
    box = {
        "table_name": ("t1", "t1"),
        "ts": (T0, T0 + dt.timedelta(minutes=10)),
    }
    must_open, total = rowgroup_prune_stats(part, box)
    assert total >= 8
    assert must_open < total, (must_open, total)

    # second z-order run: bounds come from the manifest, content fixed
    stats2 = compress_partition(
        log, T0.date(), zorder_by=("table_name", "ts"),
        max_records_per_file=50,
    )
    assert stats2["bounds_source"] == "manifest"
    assert stats2["bounds"] == stats["bounds"]
    assert sorted(map(tuple, log.read().collect())) == before_rows

    # a plain segment/order re-compress destroys the layout → manifest
    # must not survive to mislead a later incremental rewrite
    compress_partition(log, T0.date())
    assert read_layout(part) is None
    assert sorted(map(tuple, log.read().collect())) == before_rows


def test_maintenance_zorder_policy(spark, tmp_path):
    """run_maintenance(zorder_by=...): cold chunks adopt the z layout
    (manifest + report fields), hot chunks stay untouched."""
    import os

    from timescale_cdc_spark.cdc.retention import read_layout
    from timescale_cdc_spark.maintenance import run_maintenance

    log = EventLog(spark, str(tmp_path / "log"))
    s0 = _assets(spark, [])
    old_ts = T0 - dt.timedelta(days=3)
    for name, ts in (("cold", old_ts), ("hot", T0)):
        log.append(
            cdc_transform(s0, _assets(spark, SEED), "id", "dataschema",
                          name, F.lit(ts))
        )
    report = run_maintenance(
        str(tmp_path / "log"),
        retention_days=30,
        now=T0.date(),
        compress_after_days=2,
        zorder_by=("table_name", "ts"),
    )
    key = old_ts.date().isoformat()
    assert list(report["compressed_partitions"]) == [key]
    stats = report["compressed_partitions"][key]
    assert stats["layout"] == "zordered"
    assert stats["rows"] == 3
    cold_part = os.path.join(log.data_path, f"event_date={old_ts.date()}")
    hot_part = os.path.join(log.data_path, f"event_date={T0.date()}")
    assert read_layout(cold_part)["zorder_by"] == ["table_name", "ts"]
    assert read_layout(hot_part) is None
    assert log.read().count() == 6


def test_maintenance_compression_policy(spark, tmp_path):
    """add_compression_policy analog: the runner compresses chunks
    older than the threshold (idempotently) and reports per-chunk
    byte stats; hot chunks are untouched."""
    from timescale_cdc_spark.maintenance import run_maintenance

    log = EventLog(spark, str(tmp_path / "log"))
    s0 = _assets(spark, [])
    old_ts = T0 - dt.timedelta(days=3)
    for name, ts in (("cold", old_ts), ("hot", T0)):
        log.append(
            cdc_transform(s0, _assets(spark, SEED), "id", "dataschema",
                          name, F.lit(ts))
        )
    report = run_maintenance(
        str(tmp_path / "log"),
        retention_days=30,
        now=T0.date(),
        compress_after_days=2,
    )
    assert list(report["compressed_partitions"]) == [old_ts.date().isoformat()]
    stats = report["compressed_partitions"][old_ts.date().isoformat()]
    assert stats["rows"] == 3 and stats["bytes_after"] > 0
    assert log.read().count() == 6


def test_compact_partition_sweeps_zorder_manifest(spark, log):
    """ADVICE r10: a plain compact_partition rewrite destroys the
    z-ordered layout exactly like a non-zorder re-compress — the
    chunk's _layout.json must not survive to claim layout=zordered
    over re-sorted data."""
    import os

    from timescale_cdc_spark.cdc.retention import (
        compact_partition,
        compress_partition,
        read_layout,
    )

    s0 = _assets(spark, [])
    log.append(
        cdc_transform(s0, _assets(spark, SEED), "id", "dataschema",
                      "assets", F.lit(T0))
    )
    compress_partition(log, T0.date(), zorder_by=("table_name", "ts"))
    part = os.path.join(log.data_path, f"event_date={T0.date()}")
    assert read_layout(part)["layout"] == "zordered"

    before = sorted(map(tuple, log.read().collect()))
    n = compact_partition(log, T0.date())
    assert n == 3
    assert read_layout(part) is None
    assert sorted(map(tuple, log.read().collect())) == before


def test_maintenance_skips_compaction_for_compressed_chunks(spark, tmp_path):
    """ADVICE r10: with compact=True AND a compression policy in the
    same run, chunks cold enough to be compressed get ONE full rewrite
    (the compress pass), not two — plain compaction skips them.
    Chunks between the hot cutoff and the compress cutoff still
    compact normally."""
    from timescale_cdc_spark.maintenance import run_maintenance

    log = EventLog(spark, str(tmp_path / "log"))
    s0 = _assets(spark, [])
    coldest = T0 - dt.timedelta(days=5)  # past compress cutoff
    mid = T0 - dt.timedelta(days=2)      # compact-only band
    for name, ts in (("coldest", coldest), ("mid", mid), ("hot", T0)):
        log.append(
            cdc_transform(s0, _assets(spark, SEED), "id", "dataschema",
                          name, F.lit(ts))
        )
    report = run_maintenance(
        str(tmp_path / "log"),
        retention_days=30,
        compact=True,
        keep_hot_days=1,
        now=T0.date(),
        compress_after_days=3,
        zorder_by=("table_name", "ts"),
        zorder_bits=10,
    )
    assert list(report["compacted_partitions"]) == [mid.date().isoformat()]
    assert list(report["compressed_partitions"]) == [
        coldest.date().isoformat()
    ]
    stats = report["compressed_partitions"][coldest.date().isoformat()]
    # zorder_bits plumbed end-to-end (CLI exposes it too)
    assert stats["layout"] == "zordered" and stats["bits"] == 10
    assert log.read().count() == 9


def test_compress_zorder_undefined_bounds_falls_back(spark, log):
    """ADVICE r10: z-order compression of a chunk whose z columns have
    no defined bounds (existing-but-empty chunk / all-NULL numeric
    column) must fall back to the plain sorted rewrite — no z report
    fields, no manifest, no raise — instead of failing after the
    policy already chose to compress. (String z columns can't hit
    this: xxhash64 maps NULL to the seed, so their bounds always
    exist.)"""
    import os

    from timescale_cdc_spark.cdc.retention import (
        compress_partition,
        read_layout,
    )

    s0 = _assets(spark, [])
    log.append(
        cdc_transform(s0, _assets(spark, SEED), "id", "dataschema",
                      "assets", F.lit(T0))
    )
    part = os.path.join(log.data_path, f"event_date={T0.date()}")
    # make the chunk EXIST but hold zero rows (retention raced a
    # rewrite, or an append was rolled back): same schema, no data
    schema_df = spark.read.parquet(part).limit(0)
    import shutil as _sh

    tmp = part + ".__empty"
    schema_df.write.parquet(tmp)
    _sh.rmtree(part)
    os.rename(tmp, part)

    stats = compress_partition(log, T0.date(), zorder_by=("event_id", "ts"))
    assert stats["rows"] == 0
    assert "layout" not in stats  # plain rewrite, no z report fields
    assert read_layout(part) is None


def test_json_commit_never_leaves_a_partial_file(tmp_path, monkeypatch):
    """write_json_atomic, which every manifest, watermark, offset and
    meta writer uses: a dump that dies mid-write leaves the previous
    content (or no file) and no temp file, so the bandstore readers
    never meet a truncated _meta.json — a missing gen meta reads as
    unpruned, a batch meta keeps its last committed size."""
    import os

    from timescale_cdc_spark.cdc import store
    from timescale_cdc_spark.operators.bandstore import BandedIndexStore

    bands = BandedIndexStore()
    bands.index_path = str(tmp_path)
    batch = tmp_path / "ingest_batch=0"
    gen = tmp_path / "_base" / "gen=1"
    os.makedirs(batch)
    os.makedirs(gen)
    bands._write_batch_meta(0, 5)

    def torn_dump(obj, f):
        f.write('{"batch_do')
        raise OSError("killed mid-dump")

    monkeypatch.setattr(store.json, "dump", torn_dump)
    with pytest.raises(OSError):
        bands._write_batch_meta(0, 7)
    with pytest.raises(OSError):
        store.write_json_atomic(str(gen / "_meta.json"), {"prefix_mod": 4})
    monkeypatch.undo()
    assert bands._batch_sizes() == [5.0]
    assert bands._gen_meta("gen=1") == {}
    assert os.listdir(batch) == ["_meta.json"]
    assert os.listdir(gen) == []


def test_driver_memory_default_is_half_available():
    """The default driver heap (when SPARK_DRIVER_MEMORY is unset) is
    half of MemAvailable in whole GiB, at least 1g."""
    from timescale_cdc_spark.session import driver_memory

    meminfo = (
        "MemTotal:       16479424 kB\n"
        "MemFree:        14719984 kB\n"
        "MemAvailable:   15960228 kB\n"
    )
    assert driver_memory(meminfo) == "7g"
    assert driver_memory("MemAvailable:    4194304 kB\n") == "2g"
    assert driver_memory("MemAvailable:    1048576 kB\n") == "1g"
    assert driver_memory("MemTotal:       16479424 kB\n") == "1g"
