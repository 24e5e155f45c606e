"""The metric catalog. BENCHMARK.json lists exactly these names
(tests/test_bench.py keeps the two in step).

End-to-end metrics are measured with tracing off, on every workload.
A workload is a closed loop of operations of a few kinds: a CDC write
or one of the six reads after it; one query row. A run holds two
(cdc_mixed) or three (query_surface) samples of each kind, so each kind
is summarized by its median; no percentile above the median has ten
samples beyond it, and a median over a mix of kinds would jump between
kinds, so neither is an end-to-end metric. The runner prints per-kind
median wall and CPU times and every sample on the line before the
result.

Per-layer metrics come from the traced run, one layer per engine
module. Time and count metrics are medians per call over the measured
steps; a layer the workload does not exercise reports 0.
"""

from __future__ import annotations

END_TO_END = [
    # (name, unit, better, bound, meaning)
    ("setup_s", "s", "lower", 0.25,
     "median of the workload's set-ups (engine calls only; inputs are written first)"),
    ("live_heap_mb", "MB", "lower", 0.15,
     "JVM heap still in use after a full collection at the end of the loop"),
    ("iteration_s", "s", "lower", 0.25,
     "one loop iteration: sum over operation kinds of each kind's median latency"),
    ("kind_geomean_s", "s", "lower", 0.25,
     "geometric mean over operation kinds of each kind's median latency"),
]

#: query_surface rows: the relational headline (join+agg+window, hash
#: agg, as-of join), the CDC replay row and the production c2 sketch
#: pairs (the largest executor cost). cdc_mixed loads the cagg refresh
#: path; the run budget leaves no room for the multi-second library
#: entries.
SURFACE_ROWS = [
    "flagship_segment_revenue",
    "b25_agg_pricing_summary",
    "b23_asof_join",
    "b30_latest_state_replay",
    "c2_minhash_production",
]

_MB = 2.0**-20
_NS = 1e-9

# (name, unit, better, span, span key, scale); span None = computed by
# the runner or the workload.
PER_LAYER = [
    ("session.persistent_rdds", "count", "lower", None, None, None),
    ("session.cached_mb", "MB", "lower", None, None, None),
    ("cdc.capture.build_s", "s", "lower", "cdc.capture.build", "self_s", 1),
    ("cdc.capture.changes", "count", "higher", "cdc.capture.build", "changes", 1),
    ("cdc.log.append_s", "s", "lower", "cdc.log.append", "self_s", 1),
    ("cdc.log.append_cpu_s", "s", "lower", "cdc.log.append", "cpu_ns", _NS),
    ("cdc.log.append_shuffle_mb", "MB", "lower", "cdc.log.append", "shuffle_write_b", _MB),
    ("cdc.log.files", "count", "lower", None, None, None),
    ("cdc.log.bytes_per_event", "B", "lower", None, None, None),
    ("streaming.pipeline.drain_s", "s", "lower", "streaming.pipeline.drain", "self_s", 1),
    ("streaming.pipeline.trigger_ms", "ms", "lower", "streaming.pipeline.drain", "trigger_ms", 1),
    ("streaming.pipeline.add_batch_ms", "ms", "lower", "streaming.pipeline.drain", "add_batch_ms", 1),
    ("streaming.pipeline.micro_batches", "count", "lower", "streaming.pipeline.drain", "micro_batches", 1),
    ("streaming.pipeline.rows", "count", "higher", "streaming.pipeline.drain", "rows", 1),
    ("cdc.incremental.fetch_s", "s", "lower", "cdc.incremental.fetch", "self_s", 1),
    ("cdc.incremental.rows", "count", "higher", "cdc.incremental.fetch", "rows", 1),
    ("cdc.materialize.apply_s", "s", "lower", "cdc.materialize.apply", "self_s", 1),
    ("cdc.materialize.apply_cpu_s", "s", "lower", "cdc.materialize.apply", "cpu_ns", _NS),
    ("cdc.materialize.apply_shuffle_mb", "MB", "lower", "cdc.materialize.apply", "shuffle_write_b", _MB),
    ("cdc.materialize.buckets_rewritten", "count", "lower", "cdc.materialize.apply", "buckets_rewritten", 1),
    ("cdc.materialize.read_s", "s", "lower", "cdc.materialize.read", "self_s", 1),
    ("cdc.caggs.refresh_s", "s", "lower", "cdc.caggs.refresh", "self_s", 1),
    ("cdc.caggs.regions_rewritten", "count", "lower", "cdc.caggs.refresh", "regions_rewritten", 1),
    ("cdc.caggs.query_s", "s", "lower", "cdc.caggs.query", "self_s", 1),
    ("cdc.replay.latest_state_s", "s", "lower", "cdc.replay.latest_state", "self_s", 1),
    ("cdc.replay.as_of_s", "s", "lower", "cdc.replay.as_of", "self_s", 1),
    ("cdc.replay.shuffle_mb", "MB", "lower", "cdc.replay.latest_state", "shuffle_write_b", _MB),
    ("cdc.views.scan_s", "s", "lower", "cdc.views.scan", "self_s", 1),
    ("streaming.monitor.window_s", "s", "lower", "streaming.monitor.window", "self_s", 1),
] + [
    (f"queries.{row}.{metric}", unit, "lower", span and f"queries.{row}.{span}", "self_s", 1)
    for row in SURFACE_ROWS
    # cpu_s and shuffle_mb cover construct and exec (surface.py)
    for metric, unit, span in (
        ("construct_s", "s", "construct"),
        ("exec_s", "s", "exec"),
        ("cpu_s", "s", None),
        ("shuffle_mb", "MB", None),
    )
] + [
    ("trace.overhead_s", "s", "lower", None, None, None),
]


def benchmark_json() -> dict:
    """BENCHMARK.json as this catalog defines it."""
    return {
        "command": ["python3", "cdcbench/run.py"],
        "paths": ["cdcbench"],
        "run_seconds": RUN_SECONDS,
        "workloads": [{"name": n, "why": w} for n, w in WORKLOADS],
        "end_to_end": [
            {"name": n, "unit": u, "better": b, "bound": bound}
            for n, u, b, bound, _ in END_TO_END
        ],
        "per_layer": [
            {"name": n, "unit": u, "better": b} for n, u, b, *_ in PER_LAYER
        ],
    }


RUN_SECONDS = 10
WORKLOADS = [
    ("cdc_mixed",
     "capture, append, topic drain, cagg refresh, polling and upsert with late rows on hot keys, "
     "then six log reads, so a write that worsens the layout shows as slower reads"),
    ("query_surface",
     "registered query rows built fresh and counted after clearCache, "
     "loading plan construction and executors while the CDC write path is idle"),
]
