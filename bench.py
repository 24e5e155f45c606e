#!/usr/bin/env python3
"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
ONE JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query is executed to completion via a count() action (forces the
full plan: scans, shuffles, windows) after a warm-up pass of the
flagship to amortize JVM/codegen startup out of the first measurement.

Min-of-N self-defense (VERDICT r3 #6 / r4 #2): each query runs
$SPARK_GRAFT_BENCH_RUNS times (default 3) and the HEADLINE number is
the per-query MIN — the closest observable to the query's intrinsic
cost on a machine with background load (sandbox noise swung unchanged
queries ±80% between rounds). The single-shot first-run numbers are
kept alongside in "queries_run1" so cold-cache behavior stays visible.

Environment calibration (round 9, VERDICT r8 #3): round 8 showed a
UNIFORM ×1.2 wall-clock drift on plan-identical queries that cost a
judge re-run to adjudicate as environmental. The bench now records:

- ``calibration_jvm_sec``: min-of-3 of a FIXED CPU-bound JVM job
  (sum over spark.range(2e8) with a multiply — pure whole-stage
  codegen, no I/O, no shuffle variance), the same execution machinery
  the queries use;
- ``calibration_py_sec``: min-of-3 of a fixed pure-Python xorshift
  loop (driver-side CPU speed, GIL-local);
- ``load_avg_start``/``load_avg_end`` (os.getloadavg 1-min) and
  ``mem_available_kb`` (/proc/meminfo);
- ``calibration_jvm_sec_end``: the same JVM job re-timed AFTER the
  measurement passes (the host swings 2-5× within minutes — the
  start/end pair shows whether drift hit mid-run);
- ``samples``: every per-query timing (not just run1/min) and
  ``pass_wall_s``: wall-clock of each complete pass, so a reader can
  see exactly which passes a load burst hit.

Floor methodology (round 15, VERDICT r14 #2): the normalization
divisor is the MEDIAN of a run-spanning raw calibration vector (3
samples at start, one single-shot tick after every measurement pass,
3 at end — k≥11), emitted whole as ``calib_samples_jvm`` in
BENCH_DETAIL with ``calib_floor``/``calib_spread`` in the summary.
r14's floor was min(start-min3, end-min3) and the two bracket points
disagreed 3.7× within one session, which mechanically shifted every
normalized number; a median over interleaved samples can't be
captured by one regime. The streaming rates are normalized by min of
a (pre, post) pair sampled immediately around the streaming leg
(``calib_stream_pair`` in BENCH_DETAIL) — that leg runs minutes
after the query passes, in whatever regime the host is in THEN.

Per-query-GROUP floors (round 16, VERDICT r15 #2): one run-global
median still let a host-regime shift that lands mid-pass inflate the
queries it hit while the divisor stayed put (r15's same-code legs
spanned ±15% normalized for exactly this reason). The headline list
is split into contiguous GROUPS (``GROUPS`` below); a single-shot
calibration tick now runs BETWEEN groups inside every pass, each
query's ``normalized`` value divides by the median of the ticks
ADJACENT to its own group (the tick immediately before the group and
the one immediately after, across all passes — ≥ 2·runs samples),
and the per-group floor vector is emitted as ``calib_group_floors``
in the summary (raw per-group tick vectors: ``calib_group_ticks`` in
BENCH_DETAIL). The run-global ``calib_floor``/``calib_spread`` keep
their exact prior meaning (median/spread of the full vector, which
now has more samples), so the r15-style global normalization stays
re-derivable as queries[q]/calib_floor. ``pass_wall_s`` now includes
the intra-pass ticks (~0.3-1.5 s each, visible in the vectors).

Output (round 10, VERDICT r9 #4; round 12, VERDICT r11 #2): THREE
self-contained JSON lines — a ``BENCH_DETAIL``-prefixed diagnostics
line (samples, pass walls, coverage notes, load), a compact
``BENCH_FAMILIES``-prefixed per-family breakdown for the two library
mega-entries, then a compact (<1.5 KB) summary line with the
headline metric, per-query mins, and calibration. The two compact
lines come LAST and small so a tail-truncating log capture always
keeps them whole (r9's single fat line lost its head fields; r11's
family timings drowned inside BENCH_DETAIL).

Round-over-round comparison (documented in README.md): divide each
round's headline total by (calibration_jvm_sec_rN /
calibration_jvm_sec_r{{N-1}}) before comparing — a machine-level
slowdown moves the calibration and the queries together, an engine
regression moves only the queries.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from timescale_cdc_spark.queries import QUERIES  # noqa: E402
from timescale_cdc_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Headline set: one per judge-visible operator category.
HEADLINE = [
    "flagship_segment_revenue",  # join+agg+window
    "b25_agg_pricing_summary",  # TPC-H Q1 hash agg
    "b21_join_broadcast",  # broadcast dim joins
    "b22_range_join_bucketed",  # keyless time-proximity join
    "b23_asof_join",  # as-of reconstruction (bounded lookback)
    "b28_window_rank_recent",  # ranking window
    "b30_latest_state_replay",  # CDC replay core (real envelope path)
    "b31_sort_limit_topk",  # top-K
    "b36_json_fns",  # JSON payload extraction
    "c1_dedup_exact",  # exact dedup + group audit
    "c2_minhash_simhash",  # MinHash-LSH + SimHash near-dup
    "c3_topk_cosine",  # similarity top-K
    "c3_embedding_dup_pairs",  # LSH-bucketed embedding near-dup
    "c4_text_analysis",  # language/quality/tokens/fingerprint
    "b43_b44_windows",  # tumbling + session windows (merged r12)
    "cdc_scd2_history",  # SCD2 history materialization
    # Round 8 (VERDICT r7 #6): the round-7 library families, benched
    # so regressions show round-over-round in BENCH_r{N}, not only in
    # soaks. The headline TOTAL grows by construction this round —
    # compare per-query against BENCH_r07; the pre-existing 16 queries
    # are unchanged.
    "cdc_continuous_aggregate",  # incremental cagg refresh + rt view
    "lib_state_heartbeat_freq",  # state/heartbeat/freq hourly->daily rollups
    "lib_stats_counter_candle",  # stats/counter/candle hourly->daily rollups
    "lib_m4_split_sample",  # M4 hourly + deterministic split/sample/mixture
    # Round 9: new family benched from birth (the r8 convention).
    "c4_decontamination",  # train/eval n-gram overlap flagging
]

# Contiguous slices of HEADLINE (execution order preserved) for the
# per-group calibration floors (round 16, VERDICT r15 #2). A group
# boundary is where a calibration tick runs inside each pass; each
# query normalizes by the median of its own group's adjacent ticks.
# Slicing rationale: the 9 sub-second relational queries finish in
# ~3 s together (one tick brackets them tightly); the LLM block, the
# cagg refresh entry, the three lib mega-entries, and the decontam
# tail each get their own bracket because they are the multi-second
# rows where a mid-pass regime shift hurts most.
GROUPS: list[tuple[str, list[str]]] = [
    ("rel", HEADLINE[0:9]),      # flagship .. b36_json_fns
    ("llm", HEADLINE[9:16]),     # c1 .. cdc_scd2_history
    ("cagg", HEADLINE[16:17]),   # cdc_continuous_aggregate
    ("lib", HEADLINE[17:20]),    # the three lib mega-entries
    ("tail", HEADLINE[20:21]),   # c4_decontamination
]
GROUP_OF = {q: g for g, qs in GROUPS for q in qs}
assert [q for _, qs in GROUPS for q in qs] == HEADLINE

# Round 16 (VERDICT r15 #5b): ADDED bench row (never removes or
# renames an existing one) timing the PRODUCTION xxhash64 sketch
# lanes of the c2 pipeline. The registered c2_minhash_simhash entry
# is contract-bound to the sha256 portable lanes (the r14 #3 hard
# oracle; DuckDB cannot compute xxhash64), which carry a ~2 s
# cryptographic-hash tax at sf0.1 — this row benches the path
# production callers actually run, without reducing oracle coverage.
# Resolved from this bench-local table, NOT the registry: it is a
# measurement row, not a declared query.
def _extra_queries():
    from timescale_cdc_spark.queries.llm_queries import (
        c2_minhash_production,
    )

    return {"c2_minhash_production": c2_minhash_production}

# The two library mega-entries report one number each; a regression
# in one family is invisible until it doubles the entry (VERDICT r10
# #3). After the measurement passes the bench times each family
# sub-frame: filtering the union on its literal family tag lets
# Catalyst constant-fold every other branch away, so each count
# executes ONLY that family's subtree. The query is CONSTRUCTED once
# per entry (construction runs the eager driver-side bits — e.g. the
# ppl LM fit collect — once, reported as '_construct'), then each
# family is timed min-of-2. tests/test_plans.py pins these lists
# against the entries' actual family tags.
FAMILY_TIMED = {
    "lib_state_heartbeat_freq": [
        "state", "heartbeat", "freq", "state_interp",
    ],
    "lib_m4_split_sample": [
        "m4", "split", "sample", "reservoir", "mixture", "pack",
        "packtext", "components", "ppl", "shard", "srccap", "urldup",
        "linededup",
    ],
    "lib_stats_counter_candle": [
        "stats", "counter", "candle", "gauge", "percentile", "udd",
        "histogram", "hll",
    ],
}


def _time_families(spark) -> dict:
    from pyspark.sql import functions as F

    out: dict[str, dict[str, float]] = {}
    for entry, fams in FAMILY_TIMED.items():
        if entry not in QUERIES:
            continue
        t0 = time.perf_counter()
        df = QUERIES[entry](spark, SF_DIR)
        # 3 decimals: the BENCH_FAMILIES + summary lines must fit the
        # driver's 2 KB tail together (see the emit site)
        d = {"_construct": round(time.perf_counter() - t0, 3)}
        for fam in fams:
            best = float("inf")
            for _ in range(2):
                t0 = time.perf_counter()
                df.filter(F.col("family") == fam).count()
                best = min(best, time.perf_counter() - t0)
            d[fam] = round(best, 3)
        out[entry] = d
    return out


# Entries whose CONTENT changed this round — so the round-over-round
# per-query comparison knows a slower number means more coverage, not
# a regression. Rewritten (not appended) each round.
COVERAGE_NOTES = {
    "c2_minhash_production": (
        "round 16 (VERDICT r15 #5b): ADDED row — the identical c2 "
        "sketch-pairs pipeline with the production xxhash64 lanes "
        "(portable=False). Not a declared query (DuckDB cannot "
        "compute xxhash64, so it has no oracle); the registered "
        "c2_minhash_simhash keeps the sha256 lanes and full hash "
        "coverage. The headline total grows by this row's cost by "
        "construction — compare per-query."
    ),
    "c2_minhash_simhash": (
        "round 15 (VERDICT r14 #3): the entry now runs the sketches "
        "in portable=True mode — sha256-based det_hash lanes instead "
        "of xxhash64 — which flipped it from rows-only to a HARD "
        "DuckDB oracle (the full pair set re-derived in SQL, incl. "
        "the star-pairing guard, which the portable hash makes "
        "genuinely active at sf0.1). Cost of the cryptographic hash, "
        "interleaved A/B at sf0.1: pairs pipeline 2.39 -> 4.38 s min "
        "(1.8x) — expect this entry's bench row to grow ~2 s. "
        "Production callers keep the xxhash64 default (unchanged)."
    ),
    "b41_b48_streaming_semantics": (
        "round 15, NOT in the headline set: the vecsync family "
        "streams a THIRD batch — id-changing UPDATE envelopes "
        "through the sync's new updates='split' rewrite (VERDICT "
        "r14 #5), digest-checked with the moved ids at their new "
        "values — and the per-batch apply gained one broadcast "
        "guard join (validate-before-mutate, ADVICE r14) plus the "
        "log-ahead deleted record. Expect a few seconds of growth "
        "(one more micro-batch + one more index append)."
    ),
}


def _stream_throughput(spark) -> dict:
    """Round 13 (VERDICT r12 observation #2): streaming PERFORMANCE
    previously had no round-over-round bench row — only SCALE.md soak
    numbers. This measures the two engine-side streaming rates on a
    fixed deterministic workload (the full events fixture as CDC
    envelopes, duplicated once → ~2× |events| rows): EventLog.append
    throughput (envelope validation + dense distributed id
    assignment + date-partitioned write) and the CdcStreamPipeline
    drain rate (file-source stream → whitelist route → per-topic
    sinks, availableNow).

    Best-of-2 complete runs (round 15, VERDICT r14 #1): the r14
    "streaming drop" was a SINGLE-SHOT measurement landing in a slow
    host phase — the interleaved A/B (SCALE.md)
    showed both trees 2-4× faster warm and within noise of each
    other. The first run still pays stream-startup/codegen warm-up;
    best-of-2 reads the machinery's capability the way min-of-N
    reads a query's floor, for ~25 s of extra bench time. Excluded
    from the headline total — it is a throughput rate, not a query —
    and reported under "streaming" in the compact summary line."""
    import shutil

    from pyspark.sql import functions as F

    from timescale_cdc_spark.catalog import load_table
    from timescale_cdc_spark.cdc.log import EventLog
    from timescale_cdc_spark.streaming.harness import run_to_completion
    from timescale_cdc_spark.streaming.pipeline import CdcStreamPipeline

    root = os.path.join(
        os.environ.get("TMPDIR", "/tmp"), "bench_stream_throughput"
    )
    shutil.rmtree(root, ignore_errors=True)
    ev = load_table(spark, SF_DIR, "events").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    env = ev.select(
        "ts",
        F.lit("dataschema").alias("schema_name"),
        F.expr(
            "CASE WHEN event_type IN ('click','view') THEN 'activity' "
            "ELSE 'account' END"
        ).alias("table_name"),
        F.lit("INSERT").alias("operation"),
        F.lit(None).cast("string").alias("before"),
        F.expr("to_json(struct(event_id, user_id, event_type, value))")
        .alias("after"),
    )
    env = env.unionByName(env).localCheckpoint()  # 2x, source cost excluded
    n = 0
    append_s = drain_s = float("inf")
    for _ in range(2):
        shutil.rmtree(root, ignore_errors=True)
        log = EventLog(spark, os.path.join(root, "log"))
        t0 = time.perf_counter()
        n = log.append(env, distributed_ids=True)
        append_s = min(append_s, time.perf_counter() - t0)
        pipe = CdcStreamPipeline(
            spark,
            log,
            os.path.join(root, "topics"),
            tables=[("dataschema", "activity"), ("dataschema", "account")],
        )
        t0 = time.perf_counter()
        # run_to_completion (not bare awaitTermination): a wedged
        # drain — the regression class this row exists to expose —
        # times out at 600 s with a named failure instead of hanging
        # the whole bench
        run_to_completion(pipe.start(available_now=True))
        drain_s = min(drain_s, time.perf_counter() - t0)
    shutil.rmtree(root, ignore_errors=True)
    env.unpersist()
    # raw rates only here (seconds are re-derivable as n/eps); the
    # caller adds the calibration-normalized *_per_wu pair (VERDICT
    # r13 #7) — five numbers total, and the compact lines must fit
    # the driver's 2 KB tail together
    return {
        "events": n,
        "append_events_per_s": int(n / append_s),
        "drain_events_per_s": int(n / drain_s),
    }


def _calib_samples_jvm(spark, n: int = 3) -> list[float]:
    """``n`` raw timings of a fixed CPU-bound whole-stage-codegen job
    — the machine-speed yardstick the round-over-round comparison
    divides by. Deterministic work: no I/O, no shuffle, no Python
    in-loop. Callers min() or median() the raw samples."""
    out = []
    for _ in range(n):
        start = time.perf_counter()
        # bit_xor never overflows (sum of hashes would under ANSI mode)
        spark.range(200_000_000).selectExpr(
            "bit_xor(xxhash64(id)) AS s"
        ).collect()
        out.append(round(time.perf_counter() - start, 4))
    return out


def _calibrate_py() -> float:
    """Min-of-3 of a fixed pure-Python xorshift loop (driver CPU)."""
    best = float("inf")
    for _ in range(3):
        start = time.perf_counter()
        x = 0x9E3779B9
        for _i in range(2_000_000):
            x ^= (x << 13) & 0xFFFFFFFFFFFFFFFF
            x ^= x >> 7
            x ^= (x << 17) & 0xFFFFFFFFFFFFFFFF
        best = min(best, time.perf_counter() - start)
    return round(best, 4)


def _mem_available_kb() -> int | None:
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemAvailable:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return None


def main() -> None:
    spark = get_spark(app_name="timescale_cdc_spark_bench")
    sf = os.path.basename(SF_DIR.rstrip("/")).replace("sf", "")
    qmap = dict(QUERIES)
    qmap.update(_extra_queries())
    names = [n for n in HEADLINE if n in qmap]
    # Default raised 3→5 in round 7: same-code bench totals measured
    # 15.9/16.6/18.1 s across one session on an idle box (sandbox
    # noise only); two more min-passes cost ~40 s and tighten the
    # floor the round-over-round comparison reads.
    runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "5")))
    # Wall-clock budget (seconds) for the measurement passes: on a
    # quiet box 5 passes fit in ~2-4 min, but this host shows
    # multi-tenant CPU-steal bursts that stretched one 5-pass run to
    # 12+ min — past any sane harness timeout. After each COMPLETE
    # pass (keeping per-query sample counts equal), stop if the budget
    # is spent; min-of-N degrades to min-of-fewer instead of the whole
    # bench timing out and reporting nothing.
    # 360→420 in round 8: four new headline queries need ~15 s/pass.
    budget_s = float(os.environ.get("SPARK_GRAFT_BENCH_BUDGET_S", "420"))
    # Warm-up: JVM + codegen + parquet footer caches.
    qmap[names[0]](spark, SF_DIR).count()

    load_start = os.getloadavg()
    calib_start = _calib_samples_jvm(spark, 3)
    calib_jvm = min(calib_start)
    calib_py = _calibrate_py()

    # Round-robin the repeats (1..N of q1..qk, not N×q1 then N×q2) so
    # a transient load spike degrades one SAMPLE per query, not every
    # sample of one query.
    bench_start = time.perf_counter()
    runs_done = 0
    pass_wall_s: list[float] = []
    # Interleaved calibration ticks (round 15, VERDICT r14 #2): r14's
    # start/end calibration pair disagreed by 3.7× WITHIN one run, so
    # a floor built from min(start, end) inherited whichever host
    # regime those two instants landed in and made every normalized
    # number arguable. One single-shot calibration tick after each
    # measurement pass gives k≥5 samples spread across the run; the
    # normalization floor is the MEDIAN of all raw samples (robust to
    # a tick landing in a load burst), and the full vector is emitted
    # in BENCH_DETAIL so the spread is inspectable.
    calib_ticks: list[float] = []
    # Per-group adjacent ticks (round 16, VERDICT r15 #2): a
    # single-shot calibration sample between consecutive GROUPS in
    # every pass. Each group's floor is the median of the ticks
    # immediately before and after it across all passes, so a regime
    # shift that lands on one part of a pass moves that part's
    # divisor WITH its queries instead of being averaged away.
    groups = []
    for g, qs in GROUPS:
        qs2 = [q for q in qs if q in qmap]
        if g == "llm" and "c2_minhash_simhash" in qs2:
            # the added production-lane row (see _extra_queries) runs
            # directly after its oracle-contract sibling
            qs2.insert(
                qs2.index("c2_minhash_simhash") + 1,
                "c2_minhash_production",
            )
        groups.append((g, qs2))
    names = [q for _, qs in groups for q in qs]
    samples: dict[str, list[float]] = {n: [] for n in names}
    group_of = {q: g for g, qs in groups for q in qs}
    group_ticks: dict[str, list[float]] = {g: [] for g, _ in groups}
    for _ in range(runs):
        pass_start = time.perf_counter()
        prev_tick = _calib_samples_jvm(spark, 1)[0]
        calib_ticks.append(prev_tick)
        for gname, gqueries in groups:
            for name in gqueries:
                start = time.perf_counter()
                qmap[name](spark, SF_DIR).count()
                samples[name].append(round(time.perf_counter() - start, 4))
            tick = _calib_samples_jvm(spark, 1)[0]
            calib_ticks.append(tick)
            group_ticks[gname].extend([prev_tick, tick])
            prev_tick = tick
        pass_wall_s.append(round(time.perf_counter() - pass_start, 2))
        runs_done += 1
        if runs_done >= 1 and time.perf_counter() - bench_start > budget_s:
            break
    runs = runs_done
    group_floors = {
        g: round(statistics.median(ts), 4)
        for g, ts in group_ticks.items()
        if ts
    }

    # Second min-of-3 calibration AFTER the measurement passes: round
    # 9 observed the host swinging 2-5× WITHIN a single bench run.
    # start/end still bracket the run for round-over-round comparison
    # (calibration_jvm_sec keeps its historical min-of-3 meaning);
    # the NORMALIZATION floor below is the median of all samples.
    calib_end = _calib_samples_jvm(spark, 3)
    calib_jvm_end = min(calib_end)
    calib_all = calib_start + calib_ticks + calib_end
    calib_floor = round(statistics.median(calib_all), 4)

    # Per-family diagnostics for the two library mega-entries
    # (VERDICT r10 #3) — after the end calibration so the bracket
    # stays a pure measurement-pass bracket.
    family_timings = _time_families(spark)
    # Streaming rates are normalized by a floor sampled ADJACENT to
    # the streaming leg (round 15, VERDICT r14 #2): the leg runs
    # minutes after the query passes, so the run-wide median can
    # belong to a different host regime than the one the rates were
    # measured in. min of the (pre, post) bracket = the leg's own
    # fast-phase yardstick; both samples join the emitted vector.
    stream_pre = _calib_samples_jvm(spark, 1)[0]
    streaming = _stream_throughput(spark)
    stream_post = _calib_samples_jvm(spark, 1)[0]
    stream_floor = min(stream_pre, stream_post)
    # events-per-work-unit (rate × calibration floor seconds) is the
    # round-over-round comparable (VERDICT r13 #7). short keys: the
    # FAMILIES + summary lines share a 2 KB tail.
    streaming["append_per_wu"] = int(
        streaming["append_events_per_s"] * stream_floor
    )
    streaming["drain_per_wu"] = int(
        streaming["drain_events_per_s"] * stream_floor
    )
    # stream_floor itself is re-derivable as min(calib_stream_pair)
    # in BENCH_DETAIL — not emitted here (2 KB tail budget)

    timings = {n: min(s) for n, s in samples.items()}
    total = round(sum(timings.values()), 4)
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    # Truncation-proof output (VERDICT r9 #4): the driver records only
    # the TAIL of stdout, and BENCH_r09's single fat line lost its head
    # (metric/value) to Spark progress-bar noise ahead of it. Emit the
    # bulky diagnostics (per-sample arrays, coverage notes) as a
    # clearly-tagged detail line FIRST, then END with a compact summary
    # line small enough (<1.5 KB) to always survive tail-truncation
    # whole. Both lines are self-contained JSON.
    print(
        "BENCH_DETAIL "
        + json.dumps(
            {
                "queries_run1": {n: s[0] for n, s in samples.items()},
                "samples": samples,
                "pass_wall_s": pass_wall_s,
                "coverage_notes": COVERAGE_NOTES,
                "load_avg_start": [round(x, 2) for x in load_start],
                "load_avg_end": [round(x, 2) for x in os.getloadavg()],
                "mem_available_kb": _mem_available_kb(),
                "calibration_py_sec": calib_py,
                # the full raw calibration vector (round 15, VERDICT
                # r14 #2): 3 start + 1/pass + 3 end, then the
                # (pre, post) pair bracketing the streaming leg
                "calib_samples_jvm": calib_all,
                "calib_group_ticks": group_ticks,
                "calib_stream_pair": [stream_pre, stream_post],
            }
        ),
        flush=True,
    )
    # The driver records only a ~2 KB stdout TAIL: BENCH_r11's
    # family_timings were emitted but buried inside the fat
    # BENCH_DETAIL line ahead of coverage_notes and truncated away
    # (VERDICT r11 #2). Emit them as their own compact tagged line
    # (~0.5 KB) DIRECTLY before the final summary so both always
    # survive the tail capture. Round 13: the streaming throughput
    # rates ride this line (diagnostics class), and both compact
    # lines use tight JSON separators — the summary grew the
    # judge-requested "normalized" block and the two lines together
    # must stay under the 2 KB tail.
    print(
        "BENCH_FAMILIES "
        + json.dumps(
            {**family_timings, "streaming": streaming},
            separators=(",", ":"),
        ),
        flush=True,
    )
    # Calibration-normalized values (round 13, VERDICT r12 #3; floor
    # methodology reworked round 15, VERDICT r14 #2): the host swings
    # 1.5-2.5× between rounds, and until now the judge divided by
    # calibration by hand. Each query's min is divided by the MEDIAN
    # of the k≥11 raw calibration samples interleaved across the run
    # — r14's min-of-two-bracket-points swung 3.7× within one session
    # and uniformly shifted every normalized number; the median of a
    # run-spanning vector is insensitive to any single regime the
    # bracket happened to land in. Unit is "work-units"
    # (dimensionless multiples of the fixed codegen job). Compare
    # THESE round-over-round; raw seconds, the historical min-of-3
    # bracket pair, and the full sample vector (BENCH_DETAIL) remain
    # alongside for re-derivation.
    # Precision budget (the FAMILIES + summary lines must fit the
    # 2 KB tail together): queries at 3 decimals (ms), normalized at
    # 1 decimal (the host swings 1.5-2.5×; tenths of a work-unit is
    # already below adjudication resolution). calibration_py_sec
    # lives in BENCH_DETAIL (diagnostic).
    # Round 16 (VERDICT r15 #2): normalized divides by the query's
    # own GROUP floor (adjacent-tick median) instead of the run-global
    # median, so PERF's round-over-round comparison no longer needs a
    # drift essay when one host regime hits part of a pass. The old
    # global normalization stays re-derivable: queries[q]/calib_floor.
    normalized = {
        n: round(t / group_floors.get(group_of.get(n, ""), calib_floor), 1)
        for n, t in timings.items()
    }
    print(
        json.dumps(
            {
                "metric": "headline_queries_total",
                "value": total,
                "unit": "sec",
                "queries": {n: round(t, 3) for n, t in timings.items()},
                "normalized": normalized,
                "value_normalized": round(sum(normalized.values()), 1),
                "runs": runs,
                "sf": sf_val,
                "calibration_jvm_sec": calib_jvm,
                "calibration_jvm_sec_end": calib_jvm_end,
                # the normalization divisor + its min/median spread
                # (want <1.3×; full k-sample vector in BENCH_DETAIL)
                "calib_floor": calib_floor,
                "calib_spread": round(calib_floor / min(calib_all), 2),
                # per-group adjacent-tick floors (round 16, VERDICT
                # r15 #2) — the divisors behind "normalized" above
                "calib_group_floors": group_floors,
            },
            separators=(",", ":"),
        ),
        flush=True,
    )


if __name__ == "__main__":
    main()
