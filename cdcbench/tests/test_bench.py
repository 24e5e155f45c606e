"""The benchmark's own tests.

    python3 -m pytest cdcbench/tests -q      # from the repository root
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys

from conftest import ROOT
from cdcbench import gen
from cdcbench.metrics import END_TO_END, PER_LAYER, benchmark_json

RUN = os.path.join(ROOT, "cdcbench", "run.py")


def _digest(tables: dict, tmp_path, tag: str) -> str:
    h = hashlib.sha256()
    for name, table in tables.items():
        path = tmp_path / f"{tag}-{name}.parquet"
        gen.write_parquet(table, str(path))
        h.update(path.read_bytes())
    return h.hexdigest()


def _inputs(seed: int) -> dict:
    snaps = gen.SnapshotGenerator(seed, n_keys=300, changes=40)
    feed = gen.ChangeGenerator(seed, n_keys=300, hot_keys=20, changes=50, step_s=600)
    out = {"history": feed.history(200, 7200), "snap": snaps.snapshot()}
    for i in range(3):
        out[f"feed{i}"] = feed.step()
        out[f"snap{i}"] = snaps.step(feed.now_s)
    return out


def test_generators_are_deterministic(tmp_path):
    a = _digest(_inputs(7), tmp_path, "a")
    assert a == _digest(_inputs(7), tmp_path, "b")
    assert a != _digest(_inputs(8), tmp_path, "c")
    fx = _digest(gen.fixture_tables(scale=0.001), tmp_path, "fa")
    assert fx == _digest(gen.fixture_tables(scale=0.001), tmp_path, "fb")


def test_change_stream_has_late_rows_and_every_op():
    batch = gen.ChangeGenerator(3, n_keys=100, hot_keys=10, changes=400, step_s=600)
    batch.history(300, 3600)
    start_us = batch.now_s * 1_000_000
    step = batch.step()
    ts = step.column("ts").cast("int64").to_pylist()
    assert sum(t < start_us for t in ts) > 0
    assert set(step.column("operation").to_pylist()) == {"INSERT", "UPDATE", "DELETE"}


def test_benchmark_json_matches_the_catalog():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        assert json.load(f) == benchmark_json()


def test_every_workload_says_why_it_exists():
    spec = benchmark_json()
    names = [w["name"] for w in spec["workloads"]]
    assert names == ["cdc_mixed", "query_surface"]
    for w in spec["workloads"]:
        assert 20 < len(w["why"]) <= 200 and "\n" not in w["why"]
    for m in spec["end_to_end"]:
        assert 0 < m["bound"] <= 0.25
    assert len(spec["per_layer"]) <= 128


def _run(workload: str, trace: int, cwd: str = ROOT):
    return subprocess.run(
        [sys.executable, RUN, "--workload", workload, "--seed", "5",
         "--seconds", "1", "--trace", str(trace)],
        cwd=cwd, capture_output=True, text=True, timeout=300,
    )


def test_untraced_run_prints_every_end_to_end_metric():
    p = _run("query_surface", 0)
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0
    assert set(result["metrics"]) == {n for n, *_ in END_TO_END}
    assert all(m["value"] > 0 for m in result["metrics"].values())


def test_traced_run_prints_every_layer_and_writes_spans():
    p = _run("cdc_mixed", 1)
    assert p.returncode == 0, p.stderr[-3000:]
    metrics = json.loads(p.stdout.strip().splitlines()[-1])["metrics"]
    assert set(metrics) == {n for n, *_ in PER_LAYER}
    for name, m in metrics.items():
        if not name.startswith(("queries.", "trace.", "session.")):
            assert m["value"] > 0, name
    path = os.path.join(ROOT, ".bench_out", "trace-cdc_mixed-5.jsonl")
    spans = [json.loads(line) for line in open(path)]
    layers = {s["name"] for s in spans}
    assert {"cdc.log.append", "streaming.pipeline.drain", "cdc.materialize.read"} <= layers
    assert all("self_s" in s and "cpu_ns" in s and s["trace"] for s in spans)


def test_bare_directory_fails_without_a_result(tmp_path):
    shutil.copytree(os.path.join(ROOT, "cdcbench"), tmp_path / "cdcbench",
                    ignore=shutil.ignore_patterns("__pycache__", "tests"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = subprocess.run(
        [sys.executable, "cdcbench/run.py", "--workload", "cdc_mixed", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert p.returncode != 0
    assert '"correct"' not in p.stdout


def test_dropped_row_fails_the_mixed_check(spark, tmp_path):
    from pyspark.sql import functions as F

    from cdcbench.mixed import Mixed
    from cdcbench.spans import Tracer

    wl = Mixed(spark, seed=2, tracer=Tracer(spark, enabled=False))
    wl.prepare(str(tmp_path / "state"))
    wl.setup(str(tmp_path / "state"))
    wl.iteration()
    assert wl.check() == []
    # drop one row from the materialized table behind the log's back
    victim = wl.table.read().select("id").first()["id"]
    wl.table.apply_changes(spark.createDataFrame(
        [(1, "DELETE", json.dumps({"id": victim}), None)],
        "event_id long, operation string, before string, after string",
    ).withColumn("ts", F.current_timestamp()))
    assert any("latest_state" in p for p in wl.check())
