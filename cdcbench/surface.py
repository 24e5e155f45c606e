"""``query_surface``: registered query rows over the pinned fixture.

Each pass builds every row of metrics.SURFACE_ROWS fresh and counts it,
in an order the seed permutes, after ``spark.catalog.clearCache()``
(untimed). The untimed warm-up pass computes each row's count and value
hash instead; both must equal pinned.json, and every timed count must
equal the pinned count. pin.py rebuilds pinned.json and cross-checks
the oracle-backed rows against their DuckDB oracle.
"""

from __future__ import annotations

import json
import os
import random
import statistics
from collections import defaultdict

from timescale_cdc_spark.catalog import register_views
from timescale_cdc_spark.queries import QUERIES
from timescale_cdc_spark.queries.llm_queries import c2_minhash_production

from cdcbench import gen
from cdcbench.common import Clock, value_hash
from cdcbench.metrics import SURFACE_ROWS

PINNED = os.path.join(os.path.dirname(os.path.abspath(__file__)), "pinned.json")


def query_fn(row: str):
    """The row's builder; c2_minhash_production is a bench-only row
    outside the registry."""
    return c2_minhash_production if row == "c2_minhash_production" else QUERIES[row]


class Surface:
    #: A warm pass takes about 5 s on 4 cores, the cold warm-up pass 12 s.
    setups = 3
    iterations = 3

    def __init__(self, spark, seed: int, tracer):
        self.spark = spark
        self.tracer = tracer
        self.clock = Clock(spark)
        self.order = list(SURFACE_ROWS)
        random.Random(seed).shuffle(self.order)
        with open(PINNED) as f:
            self.pinned = json.load(f)["rows"]
        self.fixture = gen.fixture_tables()
        self.problems: list[str] = []
        self.passes = 0

    def prepare(self, root: str) -> None:
        """Write the fixture where the engine reads it."""
        self.sf_dir = os.path.join(root, "sf")
        gen.write_fixture(self.sf_dir, self.fixture)

    def setup(self, root: str) -> None:
        """Register the fixture's views."""
        register_views(self.spark, self.sf_dir)

    def warmup(self) -> None:
        for row in self.order:
            self.spark.catalog.clearCache()
            n, h = value_hash(query_fn(row)(self.spark, self.sf_dir))
            want = self.pinned[row]
            if (n, h) != (want["rows"], want["hash"]):
                self.problems.append(
                    f"{row}: {n} rows hash {h}, pinned {want['rows']} rows hash {want['hash']}")

    def iteration(self) -> list[tuple[str, float, float]]:
        tr = self.tracer
        self.passes += 1
        ops = []
        for row in self.order:
            self.spark.catalog.clearCache()
            with tr.trace(f"{row}@{self.passes}"):
                t0 = self.clock.start()
                with tr.span(f"queries.{row}.construct"):
                    df = query_fn(row)(self.spark, self.sf_dir)
                with tr.span(f"queries.{row}.exec"):
                    n = df.count()
                ops.append((row, *self.clock.since(t0)))
            tr.note_cache()
            if n != self.pinned[row]["rows"]:
                self.problems.append(f"{row}: counted {n} rows, pinned {self.pinned[row]['rows']}")
        return ops

    def check(self) -> list[str]:
        return self.problems

    def layer_metrics(self, spans: dict) -> dict:
        """Executor CPU and shuffle of a whole row (its construct may
        run jobs too), median over traced passes."""
        out = {}
        for row in SURFACE_ROWS:
            per_pass = defaultdict(lambda: [0, 0])
            for part in ("construct", "exec"):
                for s in spans.get(f"queries.{row}.{part}", []):
                    per_pass[s["trace"]][0] += s["cpu_ns"]
                    per_pass[s["trace"]][1] += s["shuffle_write_b"]
            if per_pass:
                out[f"queries.{row}.cpu_s"] = statistics.median(c for c, _ in per_pass.values()) / 1e9
                out[f"queries.{row}.shuffle_mb"] = statistics.median(b for _, b in per_pass.values()) / 2**20
        return out
