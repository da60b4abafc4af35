"""SparkSession construction with the scale-aware defaults from SURVEY.md §4.3.

Local testing runs a single JVM (``local[N]``); the configs below are the
ones that also matter on a real cluster: AQE (runtime re-planning, skew-join
splitting, shuffle coalescing), Arrow at the Python boundary, and a shuffle
partition count sized to the parallelism rather than the 200 default.
"""

from __future__ import annotations

import os

import pyspark
from pyspark.sql import SparkSession

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def check_pyspark_version(python_version: str, jvm_version: str) -> None:
    """Workers import the driver's pyspark (see ``pydaemon``), so it must be
    the JVM's release: a split would run Python tasks against another
    protocol than the one the JVM speaks."""
    if python_version != jvm_version:
        raise RuntimeError(
            f"pyspark {python_version} is installed but the JVM runs Spark "
            f"{jvm_version}; Python workers import the installed pyspark, so "
            "the two must match"
        )


def build_session(
    app_name: str = "hsr-bigdata-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    master = master or f"local[{cpus}]"
    # ~2× cores keeps every core busy through stragglers without tiny-task
    # overhead at test scale; AQE coalesces further at runtime. On a real
    # cluster this would be sized to data volume instead (see README).
    # Streaming queries are the exception AQE cannot reach: their stateful
    # partition count is fixed at checkpoint creation, so
    # streams.run_available_now sizes it per query to
    # clamp(ceil(staged bytes / advisoryPartitionSizeInBytes), 1, this value).
    shuffle_partitions = shuffle_partitions or max(2 * cpus, 8)
    builder = SparkSession.builder
    # Scale-adaptive input-split knob (r17, r16 verdict task #2): at the
    # test SFs every parquet table is 1–9 × 128 MB splits, so SCAN
    # parallelism — not core count — bounds most stages, which is exactly
    # why the driver's 8-vs-32-core ratios read ≈1 at sf0.1. Amplified-SF
    # scaling demonstrations set this to split the scans finer (e.g. 16m);
    # the default (unset → Spark's 128 MB) keeps every driver bench
    # comparable with prior rounds.
    mpb = os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES")
    if mpb:
        builder = builder.config("spark.sql.files.maxPartitionBytes", mpb)
    spark = (
        builder.appName(app_name)
        .master(master)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Let AQE right-size CACHED plan output too (off by default for
        # partitioning stability): a cached stage ending in a shuffle
        # otherwise pins spark.sql.shuffle.partitions forever — at test
        # scale every warm read of such a cache scheduled 32 near-empty
        # tasks per downstream stage (q_minhash 0.62 s → 0.98 s after the
        # round-11 collapse join entered the cached shingle build), and at
        # 100 TB the same knob lets the coalescer target the advisory
        # partition size instead of a fixed count (round 11).
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        # Streaming checkpoints through the FileSystem API. The default
        # FileContext manager stats every rename source and target with
        # getFileLinkStatus, which on local disk without libhadoop forks a
        # readlink process each time (64 forks per stream_tumbling run at
        # sf0.01). Both managers rename by a non-atomic exists check plus
        # RawLocalFileSystem.rename on local disk.
        .config(
            "spark.sql.streaming.checkpointFileManagerClass",
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileSystemBasedCheckpointFileManager",
        )
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # Python workers fork from a daemon that first drops Spark's zip
        # and jar archives from sys.path: each task's
        # importlib.invalidate_caches() re-read their directories, 0.23-0.33
        # s per task. The executor PYTHONPATH carries the repo root so the
        # worker finds that module when the package is not installed (pytest
        # puts the root on the driver's sys.path only).
        .config(
            "spark.python.daemon.module",
            "highspeedrailwaybigdatasystem_spark.pydaemon",
        )
        .config("spark.executorEnv.PYTHONPATH", _ROOT)
        .getOrCreate()
    )
    check_pyspark_version(pyspark.__version__, spark.version)
    return spark
