"""SparkSession factory tuned for the test harness (local[N]) while keeping
cluster-scale defaults explicit.

At 100 TB on a real cluster the same settings hold: AQE re-plans shuffles at
runtime (coalescing small partitions, splitting skewed ones), shuffle
partition count becomes a starting hint rather than a fixed fan-out, and the
UTC session timezone keeps timestamp semantics engine-independent.

Streaming checkpoints are committed through Hadoop's FileSystem API
(`FileSystemBasedCheckpointFileManager`), not Spark's default FileContext
manager. Every micro-batch writes its offset log, its commit log and one
delta file per state store to a temp path and renames it into place.
Without a native Hadoop library, FileContext's rename of a local file
resolves symlinks by forking `readlink` twice per path (~4.6 ms per fork,
~1,200 forks per benchmark stream replay). On `file:` paths both managers
end in the same `java.io.File.renameTo`, and a non-overwriting commit still
checks that the target does not exist, so the commit semantics are the
same. A cluster session whose checkpoints live on HDFS should keep
Spark's FileContext default, whose overwriting rename is atomic there.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_DRIVER_MEM_CAP_MB = 48 * 1024


def driver_memory(meminfo: str | None = None) -> str:
    """`spark.driver.memory` for this host: SPARK_GRAFT_DRIVER_MEM when set,
    else 5/8 of /proc/meminfo MemTotal capped at 48g. In local mode the
    driver JVM holds every executor, and a heap near or above physical
    memory lets it grow until the kernel OOM-kills it. `meminfo` is the
    text of /proc/meminfo (read from the host when None); without a
    MemTotal line the cap is used."""
    override = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if override:
        return override
    if meminfo is None:
        try:
            with open("/proc/meminfo") as f:
                meminfo = f.read()
        except OSError:
            meminfo = ""
    mb = _DRIVER_MEM_CAP_MB
    for line in meminfo.splitlines():
        if line.startswith("MemTotal:"):
            mb = min(mb, int(line.split()[1]) * 5 // 8 // 1024)
    return f"{mb}m"


def get_spark(app_name: str = "gtec_etl_spark", cpus: int | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession.

    Honors SPARK_GRAFT_CPUS for local parallelism. Shuffle partitions are
    sized to cores for local mode; on a real cluster AQE coalescing makes
    the initial number a ceiling, not a commitment.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Runtime bloom filters (semi-join reduction) are on by default but
        # gated by a 10 MB creation-side estimate — far below any join
        # whose probe side is worth pruning. Raising the gate lets a
        # shuffle join build a bloom from a GB-scale side and drop probe
        # rows BEFORE the exchange: measured 2x on the triangle-closure
        # semi join at 10x data (834M wedge rows pruned pre-shuffle,
        # 87 s -> 45 s), the same setting a real cluster runs with.
        .config(
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
            "512MB",
        )
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        # No nanosAsLong legacy conf: the events table's ts unit is detected
        # per-directory from the parquet footer (catalog.events_ts_unit), so
        # TIMESTAMP semantics stay default for any other parquet.
        # Everything the engine WRITES is TIMESTAMP(MICROS): INT96 is
        # deprecated, and micros round-trips through the footer-driven
        # reader and DuckDB identically.
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", driver_memory())
        .config("spark.ui.enabled", "false")
        # See the module docstring: no readlink fork per checkpoint rename.
        .config(
            "spark.sql.streaming.checkpointFileManagerClass",
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileSystemBasedCheckpointFileManager",
        )
        # Managed-table warehouse (bucketed tables) outside the repo tree.
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/spark_graft_warehouse"),
        )
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
