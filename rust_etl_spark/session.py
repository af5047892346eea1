"""SparkSession factory tuned for this engine.

Local-mode defaults follow the driver environment (local[$SPARK_GRAFT_CPUS]),
but every knob here is chosen to also hold on a real multi-executor
cluster at large scale: AQE on (runtime coalesce + skew-join), broadcast
threshold sized for dimension tables, UTC session time zone so results
are comparable across engines, Arrow enabled for the few Pandas-UDF
operators.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def _default_driver_mem() -> str:
    """16g clears the 100x tier's sort buffers (see the inline comment
    at the config site), but an unconditional 16g heap fails to launch
    on a smaller host (ADVICE round 8) — clamp to ~half of physical
    RAM, floored at 2g. ``SPARK_GRAFT_DRIVER_MEM`` overrides outright."""
    try:
        with open("/proc/meminfo") as f:
            total_kb = int(
                next(line for line in f if line.startswith("MemTotal")).split()[1]
            )
        half_gb = max(2, total_kb // (1024 * 1024) // 2)
        return f"{min(16, half_gb)}g"
    except (OSError, StopIteration, ValueError):
        return "16g"


def get_spark(
    app_name: str = "rust_etl_spark",
    *,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine session.

    ``shuffle_partitions`` defaults to the local core count: on
    local[N] the 200-partition default just adds scheduling overhead,
    while on a big cluster AQE coalesces post-shuffle partitions to
    the right size anyway (`spark.sql.adaptive.coalescePartitions`).
    """
    cores = default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cores}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # Let AQE pick the post-shuffle partition count by bytes, not
        # the static cores count: start wide (8x cores) and coalesce to
        # ~64 MB targets. Small tiers coalesce back to a handful of
        # partitions (no extra scheduling), while GB-scale shuffles get
        # enough sort partitions to stay in memory — at the 100x tier
        # with a fixed 32, join_star (whose dims outgrow the broadcast
        # threshold there and fall back to shuffle joins) and
        # window_range_frame each sorted >1 GB shuffles through 32
        # partitions and spilled 5.2 / 2.6 GB; starting at 256 removes
        # the spill. This mirrors the right cluster setting: partition
        # count scales with data volume, AQE owns the final number.
        .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum", str(8 * cores))
        # AQE's 64 MB default advisory target is sized for cluster
        # executors with GBs of execution memory per task; here each of
        # the 32 local task slots gets ~heap*0.6/32 ≈ 300 MB, and a
        # 64 MB shuffle partition expands ~5x as unsafe rows + sort
        # buffers — the 100x tier's q21 sorted exactly at that edge and
        # spilled 9.3 GB (wall 16.2 s). 16 MB targets keep post-shuffle
        # sorts in memory (q21: zero spill, 12.8 s) and coalesce
        # identically for small shuffles (anything < 16 MB is still one
        # partition). Cluster translation: advisory size ≈
        # (executor memory * memory fraction / cores) / ~5x row
        # expansion, rather than a constant.
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16m")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "snappy")
        # events.parquet stores ts as TIMESTAMP(NANOS): read as long
        # (nanos) and convert in the loader, as Spark has no nanos type.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Byte-small but compute-heavy tables (embeddings: 64-float
        # arrays driving O(N*C) distance folds) under-split at the
        # default 4 MB openCost floor — a 6 MB single-file scan plans
        # 1-2 tasks and serializes 100% of the kernel work on one core
        # (the 10x scaling run measured kmeans_iterate at 46x for 10x
        # rows from exactly this). Lowering the split floor restores
        # row-group-grain parallelism; on a real cluster the file count
        # provides it and these two mostly don't bind.
        .config("spark.sql.files.maxPartitionBytes", str(32 * 1024 * 1024))
        .config("spark.sql.files.openCostInBytes", str(256 * 1024))
        .config("spark.ui.enabled", "false")
        # Local mode: all executor threads share the driver JVM, so
        # per-task execution memory is heap * 0.6 / cores. At 8g/32
        # cores that is ~150 MB — the 100x tier's GB-scale sort-merge
        # joins and two-level window sorts need ~190 MB/task and
        # spilled 5.2/2.6 GB (join_star / window_range_frame); 16g
        # clears both to zero spill. The cluster translation: size
        # executor memory so sort buffers cover shuffle-partition
        # bytes, or equivalently keep partition bytes under
        # (executor memory * fraction / cores).
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", _default_driver_mem()))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
