"""SparkSession factory tuned for this engine.

Local mode for tests/bench; the same config keys are the ones you would set
on a real cluster (AQE on, Arrow on, sane shuffle partitioning, a codegen
class cache that holds the registry's working set, partition listing on
the driver). UTC pinned so timestamp-derived keys match the DuckDB oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# driver heap bounds: the 24g ceiling is the size sf1 needed (its ~60M-row
# pair expansions OOM'd a broadcast build under 8g, r6)
DRIVER_MEMORY_MAX_GB = 24
DRIVER_MEMORY_MIN_GB = 1

# spark.sql.codegen.cache.maxEntries (Spark default 100; a static conf, so
# it is fixed at session start). Specs are served over and over, so the
# generated classes they need are a fixed working set; at 100 entries one
# gated_ops cycle (192 classes) evicted and recompiled 184-186 classes with
# Janino every cycle, and the fresh classes ran interpreted until the JIT
# compiled them again. fuzzy_dedup_keep alone generates 62-64 classes per
# execution. The 66 bench.py headline queries at sf0.01 generate 1,078
# distinct classes on a first pass and 34-36 more on a second (adaptive-
# execution variants); 2048 holds all of them with headroom.
CODEGEN_CACHE_ENTRIES = 2048

# spark.sql.sources.parallelPartitionDiscovery.threshold (Spark default 32):
# a read path with more directories than this is listed by a Spark job with
# one task per directory. In local mode that job runs in the driver's own
# JVM, so it adds a job's latency and no parallelism. A schema-given read of
# a month table (one directory per month, one file each), 4 cores, 5 runs
# per arm, job vs driver listing: 40 dirs 402-515 vs 29-65 ms (the
# session's first reads, 1.18 s and 0.99 s, left out), 60 dirs 343-528 vs
# 24-53 ms, 600 dirs 2.33-2.92 s vs 89-120 ms, 6000 dirs 20.8-22.4 s vs
# 0.69-0.73 s. The driver won at every size, so a session built here never
# starts the listing job.
PARTITION_DISCOVERY_THRESHOLD = 2**31 - 1


def default_driver_memory(meminfo: str = "/proc/meminfo") -> str:
    """Default ``spark.driver.memory`` for the host it runs on: half its
    MemTotal in whole GiB, clamped to [1g, 24g]. Local mode runs driver
    and executors in ONE JVM; the other half is left to the JVM's off-heap
    use (Arrow buffers, netty, metaspace), the Python workers and the OS.
    Without a readable MemTotal (non-Linux), the 24g ceiling."""
    try:
        with open(meminfo) as f:
            kib = next(
                int(line.split()[1]) for line in f if line.startswith("MemTotal:")
            )
    except (OSError, StopIteration, ValueError, IndexError):
        return f"{DRIVER_MEMORY_MAX_GB}g"
    gib = kib // (2 * 1024 * 1024)
    return f"{min(DRIVER_MEMORY_MAX_GB, max(DRIVER_MEMORY_MIN_GB, gib))}g"


def get_spark(app_name: str = "vtl_spark", cpus: int | None = None) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(max(cpus, 4)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # driver testdata stores TIMESTAMP(NANOS) which Spark's parquet reader
        # rejects; read as long (nanos since epoch) instead
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # local mode: ONE JVM holds driver + all executor threads, so this
        # bounds every shuffle/broadcast/checkpoint buffer in the process;
        # sized from the host unless SPARK_DRIVER_MEMORY says otherwise (a
        # real cluster sizes executors separately)
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY") or default_driver_memory(),
        )
        # Spark floors every file split at openCostInBytes (default 4 MiB),
        # so a multi-row-group parquet file under ~128 MiB still scans as
        # 1-2 tasks — narrow stages over a corpus-sized table then run on
        # one core of 32 (sf1 cosine scoring measured 30x slower than its
        # parallel shape). 256 KiB lets maxSplitBytes follow
        # totalBytes/defaultParallelism for small-to-mid files while
        # changing nothing for cluster-scale files (bytesPerCore
        # dominates long before 256 KiB matters).
        .config("spark.sql.files.openCostInBytes", "262144")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config(
            "spark.sql.sources.parallelPartitionDiscovery.threshold",
            str(PARTITION_DISCOVERY_THRESHOLD),
        )
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
