"""Query registry: one (PySpark callable, DuckDB oracle SQL) pair per
operator in SURVEY.md §2. The driver's harness (__spark_entry__.py)
reads QUERIES/ORACLES verbatim.

Determinism conventions (so the driver's order-insensitive value hash
matches bit-exact):

* Money aggregates go through DECIMAL: fixture doubles are exactly
  2-dp (verified), so ``CAST(x AS DECIMAL(18,2))`` is lossless, decimal
  sums are exact in both engines, and the final ``CAST(... AS DOUBLE)``
  of an identical exact decimal yields identical bits.
* Averages = exact decimal sum cast to double, divided by count —
  one IEEE division of identical operands on both sides.
* Top-K / ranking queries order by (rounded score, id) with
  ``row_number`` so ties break identically in both engines.
* Every computed column is aliased identically in Spark and SQL.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from timescale_cdc_spark.catalog import load_table

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def register(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register a query under ``name``; ``oracle`` is DuckDB-dialect SQL
    over the pre-registered fixture views (None → rows-only check for
    genuinely non-SQL-expressible ops)."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query name: {name}")
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


#: Frames each entry cached or localCheckpointed, keyed by entry name.
#: An entry's construction first releases what its PREVIOUS
#: construction registered (entries are built and consumed one at a
#: time, so that plan is done being consumed), so repeated
#: invocations hold one construction's caches per entry instead of
#: accumulating persistent RDDs. Keyed by entry: building one entry
#: never drops another entry's checkpoints (entries share the fact
#: scan's cache, whose release only costs a re-scan).
_ENTRY_CACHES: dict[str, list[DataFrame]] = {}


def fresh_caches(entry: str) -> list[DataFrame]:
    """Release every frame ``entry``'s previous construction
    registered; return the empty list this construction registers its
    own caches into. A registered frame releases its own cache and
    every local checkpoint its plan reads — including those an
    operator took internally (connected_components' edge cuts)."""
    for df in _ENTRY_CACHES.pop(entry, []):
        df.unpersist()
        # DataFrame.unpersist does not reach a localCheckpoint's
        # blocks: they belong to the RDD under a LogicalRDD leaf
        leaves = df._jdf.queryExecution().logical().collectLeaves()
        for i in range(leaves.size()):
            if leaves.apply(i).nodeName() == "LogicalRDD":
                leaves.apply(i).rdd().unpersist(False)
    return _ENTRY_CACHES.setdefault(entry, [])


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Shorthand fixture-table loader used by query functions."""
    return load_table(spark, sf_dir, name)


def scratch_path(sf_dir: str, name: str) -> str:
    """Local scratch path for registered queries that materialize an
    index/sink as part of their plan. Keyed by (sf, pid): the scratch
    artifact is rebuilt on every call (each site rmtree's first), so
    cross-process reuse never happens anyway — and without the pid a
    concurrent run at the same sf (pytest alongside the driver's
    verify, or two driver phases overlapping) rmtree's the other
    process's in-flight build mid-read."""
    import os
    import tempfile

    return os.path.join(
        tempfile.gettempdir(),
        "timescale_cdc_spark_io",
        os.path.basename(sf_dir.rstrip("/")),
        f"pid{os.getpid()}",
        name,
    )


# Reusable Spark SQL expression fragments (DataFrame .selectExpr /
# F.expr side) mirrored by identical DuckDB fragments in oracles.
DEC_PRICE = "CAST(l_extendedprice AS DECIMAL(12,2))"
DEC_DISC = "CAST(l_discount AS DECIMAL(3,2))"
REVENUE_EXPR = f"{DEC_PRICE} * (CAST(1.00 AS DECIMAL(3,2)) - {DEC_DISC})"
