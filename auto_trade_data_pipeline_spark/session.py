"""SparkSession factory tuned for this engine.

Local-mode defaults mirror what we would set fleet-wide on a real
cluster: AQE on (runtime re-planning, skew-join splitting, partition
coalescing), UTC session timezone (all storage is UTC; New-York
wall-clock is derived per-expression), Arrow enabled for the
pandas-UDF kernels, and shuffle partitions sized to the machine
instead of the 200 default.

At 100 TB the same settings hold conceptually: AQE handles the
shuffle-partition sizing dynamically, `spark.sql.files.maxPartitionBytes`
keeps scan tasks bounded, and broadcast threshold lets dimension
tables (region/nation/suppliers/symbol lists) skip the shuffle.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Share of physical memory the driver heap defaults to. The rest
#: covers the JVM's off-heap use (metaspace, code cache, Arrow and
#: shuffle buffers) and the Python workers, so the heap feels GC
#: pressure before the host runs out of memory.
HEAP_SHARE = 0.6


def default_driver_memory() -> str:
    """``spark.driver.memory`` default: ``HEAP_SHARE`` of physical
    memory (``MemTotal`` in ``/proc/meminfo``, else the page count),
    in whole GiB, at least 1g. On a 15.7 GiB host this is ``9g``."""
    try:
        with open("/proc/meminfo") as f:
            kib = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
        total = kib * 1024
    except (OSError, StopIteration):
        total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, int(total * HEAP_SHARE / 2**30))}g"


def get_spark(
    app_name: str = "auto_trade_data_pipeline_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned session.

    ``SPARK_GRAFT_CPUS`` (driver contract) controls local parallelism;
    shuffle partitions default to that same number — on local mode a
    shuffle partition per core is right, 200 would just add scheduling
    overhead on small inputs (AQE coalesces anyway, but starting right
    is free).

    ``SPARK_GRAFT_DRIVER_MEM`` sets ``spark.driver.memory``; unset, the
    heap is :func:`default_driver_memory` (about 60% of physical
    memory), never more than the host has.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # Driver testdata stores events.ts as TIMESTAMP(NANOS); Spark has
        # no nanos type, so read as int64 (sources.files truncates to µs).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", "128m")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Let the planner pick shuffled-hash join when its build side
        # fits (guide §3.1/§9): skips the per-partition sorts of SMJ.
        # Scale-valid — the planner's size conditions still gate it,
        # and AQE can re-plan. Interleaved A/B at sf0.1: tpch_q9
        # 3.02->2.03s, q21 1.43->1.17s, q5 0.76->0.62s; upsert_merge
        # +0.2s (sorted-merge suited its keyed upsert) — net strongly
        # positive across the join family. (Round-10 re-check: the
        # upsert_merge delta was NOISE — its only join is a broadcast
        # anti join, so this conf cannot affect it.)
        # Known failure mode at scale (r9 advice): the planner's
        # ceiling is autoBroadcastJoinThreshold x shufflePartitions
        # of ESTIMATED build bytes, and SHJ's per-partition build map
        # does not spill — a post-filter stats underestimate can OOM
        # an executor. Mitigations kept on: AQE (re-plans a stage
        # before execution from observed sizes) and skew-join
        # splitting; per-query MERGE hints remain the escape hatch.
        .config("spark.sql.join.preferSortMergeJoin", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
