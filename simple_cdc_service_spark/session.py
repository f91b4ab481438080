"""SparkSession factory.

Defaults are chosen for correctness-reproducibility across engines (UTC
session timezone so timestamp→epoch conversions agree with the DuckDB
oracle) and for scale (AQE on: runtime join-strategy switching, skew-join
splitting, partition coalescing — the things a 100 TB run needs that a
local test never exercises).

Streaming checkpoints are committed through the Hadoop FileSystem API
(FileSystemBasedCheckpointFileManager) rather than Spark's FileContext
default. Without native libhadoop, Hadoop's local filesystem starts a
child process for every permission it sets or reads, and a FileContext
rename with overwrite does so many times. A trigger writes three log
entries (source, offsets, commits), so that default put tens of
milliseconds of process launches into every micro-batch's commit.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _half_mem(mem: str) -> str:
    """Half a JVM memory string ("8g" → "4g", "1g" → "512m", "512m" →
    "256m"). Unparseable strings fall back to Spark's 1g default —
    conservative on purpose (a too-small limit fails loudly and is
    overridable via SPARK_GRAFT_MAX_RESULT; a too-large one OOMs)."""
    m = mem.strip().lower()
    try:
        if m.endswith("g"):
            mb = int(m[:-1]) * 1024
        elif m.endswith("m"):
            mb = int(m[:-1])
        else:
            mb = int(m) // (1024 * 1024)  # plain bytes
    except ValueError:
        return "1g"
    half = max(mb // 2, 256)
    return f"{half // 1024}g" if half % 1024 == 0 else f"{half}m"


def get_spark(
    app_name: str = "simple-cdc-service-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    On a real cluster ``master`` comes from spark-submit; locally we default
    to ``local[$SPARK_GRAFT_CPUS]`` (driver contract) or ``local[*]``.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        # local-mode driver hosts all 32 executor threads; the 1g default
        # heap is far too small for that (must be set before JVM launch)
        .config("spark.driver.memory", driver_mem)
        # Verification harnesses collect full query results to compare
        # against the oracle; at 10x bench scale a genuine near-dup pair
        # list alone exceeds the 1g default. The default is HALF the
        # driver heap (ADVICE r6): a limit equal to the heap would let a
        # collect OOM the driver before hitting the clean maxResultSize
        # error the limit exists to give. Execution plans are
        # unaffected — this only permits larger driver-side collects.
        .config(
            "spark.driver.maxResultSize",
            os.environ.get("SPARK_GRAFT_MAX_RESULT", _half_mem(driver_mem)),
        )
        # AQE: runtime coalescing of small shuffle partitions, dynamic
        # broadcast-join conversion, and skew-join splitting. Essential at
        # scale, harmless locally.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Arrow for any pandas-UDF path (multimodal, vector ops fallback).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Deterministic timestamp semantics vs the DuckDB oracle.
        .config("spark.sql.session.timeZone", "UTC")
        # Local default; a real deployment sizes this to cluster cores × 2-3
        # (or relies on AQE's initialPartitionNum + coalescing).
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))),
        )
        # Checkpoint logs (offsets, commits, the file source's log, state
        # store files) are written to a temp file and renamed into place.
        # FileSystem.rename starts no process on the local filesystem;
        # FileContext.rename(OVERWRITE) starts ~16 when libhadoop is not
        # loaded. The rename is atomic on POSIX local filesystems and on
        # HDFS, and a checkpoint has one writer (the streaming contract),
        # so the FileSystem manager keeps exactly-once there. On object
        # stores neither manager's rename is atomic.
        .config(
            "spark.sql.streaming.checkpointFileManagerClass",
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileSystemBasedCheckpointFileManager",
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
