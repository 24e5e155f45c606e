"""CDC benchmark: one seeded workload against the engine's public API.

    python3 cdcbench/run.py --workload cdc_mixed --seed 7 --seconds 6 --trace 0

Run from the repository root. Workloads: ``cdc_mixed`` and
``query_surface`` (metrics.WORKLOADS says why each exists). One
process drives Spark on ``local[N]`` (N = $SPARK_GRAFT_CPUS, else the
CPUs this process may use) with one closed-loop client.

A run builds the workload's initial state three times (``setup_s`` is
the median; only the engine calls are timed, the generated inputs are
written before), warms up untimed (one loop iteration, or the value-hash
pass of query_surface), then runs the workload's fixed number of loop
iterations, and more until ``--seconds`` have passed, then checks the
engine's outputs outside the timed region. A fixed count
keeps the samples comparable: later iterations run on a warmer JVM.
``--trace 1`` traces every other iteration and reports per-layer
metrics instead, plus the tracing overhead (traced minus untraced
median iteration time); its spans are written to ``.bench_out/``.

Standard output ends with a line describing the environment (including
the CPU time the host stole during the loop) and the latency
summaries, then the result line: one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``. The exit code is
1 when a correctness check or an operation failed, 2 when the engine
package is missing.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True,
                   choices=["cdc_mixed", "query_surface"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = _args(argv)
    if not os.path.isdir(os.path.join(ROOT, "timescale_cdc_spark")):
        print("cdcbench: the engine package timescale_cdc_spark is not next to "
              "cdcbench/; run from a full checkout", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # Everything the engine, Spark and the JVMs write stays in the
    # checkout (the JVM's perf-data file would go to /tmp).
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    sys.path.insert(0, ROOT)
    try:
        return _run(args, work, tmp)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _session(tmp: str):
    from timescale_cdc_spark.session import get_spark

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
    return get_spark(
        app_name="cdcbench", master=f"local[{cpus}]", shuffle_partitions=cpus,
        extra_conf={
            "spark.driver.memory": "3g",
            "spark.local.dir": tmp,
            "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        },
    )


def _workload(name: str, spark, seed: int, tracer):
    if name == "cdc_mixed":
        from cdcbench.mixed import Mixed as cls
    else:
        from cdcbench.surface import Surface as cls
    return cls(spark, seed, tracer)


def _run(args, work: str, tmp: str) -> int:
    import pyspark

    from cdcbench.common import (
        Clock, geomean, host_steal_s, jvm_live_heap_mb, jvm_peak_rss_mb, summarize)
    from cdcbench.metrics import END_TO_END, PER_LAYER
    from cdcbench.spans import Tracer, median_of

    spark = _session(tmp)
    try:
        tracer = Tracer(spark, enabled=False)
        wl = _workload(args.workload, spark, args.seed, tracer)

        clock = Clock(spark)
        setups = []  # (wall, CPU) seconds
        for i in range(wl.setups):
            d = os.path.join(work, f"state{i}")
            wl.prepare(d)  # the generator writes the inputs, untimed
            spark.catalog.clearCache()
            t0 = clock.start()
            wl.setup(d)
            setups.append(clock.since(t0))
            if i < wl.setups - 1:
                shutil.rmtree(d)
        t0 = time.perf_counter()
        wl.warmup()  # untimed
        warmup_s = time.perf_counter() - t0

        ops: list[tuple[str, float, float]] = []  # (kind, wall, CPU seconds)
        untraced: list[float] = []
        traced: list[float] = []
        attempted = failed = iterations = 0
        start, steal = clock.start(), host_steal_s()
        while iterations < wl.iterations or clock.since(start)[0] < args.seconds:
            tracer.enabled = bool(args.trace) and iterations % 2 == 0
            try:
                got = wl.iteration()
            except Exception:  # an op failed: count it and stop the loop
                traceback.print_exc()
                attempted += 1
                failed += 1
                break
            tracer.harvest()
            attempted += len(got)
            iterations += 1
            (traced if tracer.enabled else untraced).append(sum(t for _, t, _ in got))
            if not tracer.enabled:
                ops.extend(got)
        tracer.enabled = False
        (loop_s, cpu), steal = clock.since(start), host_steal_s() - steal
        live_heap_mb = jvm_live_heap_mb(spark)

        t0 = time.perf_counter()
        problems = wl.check() if not failed else ["not checked: an operation failed"]
        check_s = time.perf_counter() - t0
        attempted += 1
        failed += bool(problems)
        for p in problems:
            print(f"cdcbench: check failed: {p}", file=sys.stderr)

        walls: dict[str, list[float]] = {}
        cpus: dict[str, list[float]] = {}
        for kind, wall, cpu_t in ops:
            walls.setdefault(kind, []).append(wall)
            cpus.setdefault(kind, []).append(cpu_t)
        kind_p50 = {k: statistics.median(v) for k, v in walls.items()}
        kind_cpu_p50 = {k: statistics.median(v) for k, v in cpus.items()}
        values: dict[str, float] = {}
        if ops:
            values = {
                "setup_s": statistics.median(w for w, _ in setups),
                "live_heap_mb": live_heap_mb,
                "iteration_s": sum(kind_p50.values()),
                "kind_geomean_s": geomean(list(kind_p50.values())),
            }
        units = {n: u for n, u, *_ in END_TO_END}
        if args.trace:
            spans = tracer.by_name()
            extra = wl.layer_metrics(spans)
            extra["session.persistent_rdds"] = float(tracer.cache_peak[0])
            extra["session.cached_mb"] = tracer.cache_peak[1]
            if traced and untraced:
                extra["trace.overhead_s"] = statistics.median(traced) - statistics.median(untraced)
            units = {n: u for n, u, *_ in PER_LAYER}
            values = {
                n: extra.get(n, 0.0) if span is None else median_of(spans.get(span, []), key, scale)
                for n, _, _, span, key, scale in PER_LAYER
            }
            os.makedirs(os.path.join(ROOT, ".bench_out"), exist_ok=True)
            tracer.write(os.path.join(
                ROOT, ".bench_out", f"trace-{args.workload}-{args.seed}.jsonl"))

        sc = spark.sparkContext
        print(json.dumps({
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "master": sc.master, "defaultParallelism": sc.defaultParallelism,
            "nproc": os.cpu_count(), "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
            "pyspark": pyspark.__version__, "iterations": iterations,
            "warmup_s": warmup_s, "loop_s": loop_s, "check_s": check_s,
            "loop_cpu_s": cpu, "host_steal_s": steal,
            "setup_s": setups, "latency": summarize([t for _, t, _ in ops]) if ops else None,
            "kind_p50_s": kind_p50, "kind_cpu_p50_s": kind_cpu_p50,
            "samples": [(round(w, 4), round(c, 3)) for _, w, c in ops],
            "traced_iterations": len(traced),
            "session_cache_peak": tracer.cache_peak, "peak_rss_mb": jvm_peak_rss_mb(clock.pid),
            "failed_ratio": failed / attempted, "problems": problems,
        }))
        correct = not failed and bool(ops)
        print(json.dumps({
            "correct": correct, "attempted": attempted, "failed": failed,
            "metrics": {n: {"value": v, "unit": units[n]} for n, v in values.items()},
        }))
        return 0 if correct else 1
    finally:
        _stop(spark)


def _stop(spark) -> None:
    """Stop Spark and wait for its JVM, which exits when its stdin
    closes."""
    proc = spark.sparkContext._gateway.proc
    spark.stop()
    proc.stdin.close()
    proc.wait(timeout=60)


if __name__ == "__main__":
    sys.exit(main())
