"""SparkSession factory with scale-appropriate defaults.

Local test profile is ``local[$SPARK_GRAFT_CPUS]`` (default 32); the
configs below are the ones that matter on a real cluster too: AQE for
runtime re-planning (skew joins, partition coalescing), Arrow for any
Python<->JVM data movement, and a shuffle-partition count sized to the
parallelism rather than the 200 default.

Streaming checkpoints (every subscriber, pipeline, state store and CDC
query) commit through Spark's FileSystem-based checkpoint manager on
Hadoop's raw local file system: without native Hadoop libraries the
default FileContext manager and checksum layer fork a ``chmod`` per
metadata file, which cost ~130 ms of every live-delivery trigger.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "kafkaish-spark",
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine.

    On a multi-executor cluster the same settings apply; only ``master``
    would change (provided externally via spark-submit).
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    # Shuffle parallelism is ENV-parameterised, never a baked-in
    # constant (optimization guide §2.2 / round-12 rule): locally it
    # defaults to the core count (small frames, AQE coalesces below
    # it), on a cluster set SPARK_GRAFT_SHUFFLE_PARTITIONS to
    # 2-4x total executor cores (or higher with AQE coalescing on,
    # which this session always enables) so post-shuffle partitions
    # land in the 100 MB-1 GB band at the deployment's data size.
    shuffle_n = shuffle_partitions or int(
        os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", str(cpus))
    )
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_n))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # INT96 (the legacy default) writes NO footer min/max stats, which
        # kills row-group skipping on ts predicates and the footer-driven
        # retention jobs; micros is the modern interoperable encoding
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.streaming.schemaInference", "false")
        # Python Data Source API: allow readers that implement
        # pushFilters (sources/pyds.py) — off by default in 4.1
        .config("spark.sql.python.filterPushdown.enabled", "true")
        # A file-stream micro-batch names each of its files as a root
        # path, and above this many paths Spark lists them with a
        # one-task-per-path Spark job: 1.1 s for a 100-file batch of a
        # topic log on a 4-vCPU host, against 0.03 s listed on the
        # driver.  Topic logs are local/POSIX directories (topic_log
        # walks them with os.walk), where a driver-side stat costs
        # microseconds, so list serially up to the largest batch the
        # default subscribe byte bound can form (64 MiB of ~1 KB
        # segments).
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "65536")
        # Streaming checkpoints: every trigger writes three metadata
        # files (source file log, offset WAL, commit log).  Without
        # native Hadoop libraries, each Hadoop local-file-system create
        # that carries a permission forks `chmod` (RawLocalFileSystem.
        # setPermission -> Shell.execCommand), and Spark's default
        # FileContext manager plus the checksum layer's `.crc` sidecar
        # both pass one: 35-58 ms per file, ~130-160 ms of a 256-306 ms
        # `live_single` trigger on a 4-vCPU host.  The FileSystem-based
        # manager creates its temp file with `fs.create(path,
        # overwrite)`, and RawLocalFileSystem (no checksum layer)
        # passes no permission, so no subprocess is forked and each
        # step drops to ~5-15 ms.  The temp-file rename is still a
        # POSIX rename(2), atomic on the local/POSIX directories topic
        # logs and checkpoints live in.  Trade-off: Hadoop writes no
        # `.crc` sidecars for local files (Spark parquet writes
        # included); the pyarrow-written segments never had them and
        # parquet footers, which fsck and the segment stats read, are
        # unchanged.  Checkpoints written with sidecars resume as
        # before.  `spark.hadoop.*` takes effect only when the
        # SparkContext is created: a context started elsewhere keeps
        # its file system.
        .config(
            "spark.sql.streaming.checkpointFileManagerClass",
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileSystemBasedCheckpointFileManager",
        )
        .config("spark.hadoop.fs.file.impl", "org.apache.hadoop.fs.RawLocalFileSystem")
    )
    if SparkSession.getActiveSession() is None:
        builder = builder.master(f"local[{cpus}]").config(
            "spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g")
        )
    return builder.getOrCreate()


def session_token(spark: SparkSession) -> tuple[str, int]:
    """Stable identity for cache keys.  ``id(spark)`` is unsafe: after
    a stopped session is garbage-collected, CPython can hand the same
    id to a NEW session, silently serving a cached frame bound to the
    dead one (round-3 ADVICE item 5).  (applicationId, startTime) is
    unique per JVM application instance and never recycled."""
    sc = spark.sparkContext
    return (sc.applicationId, sc.startTime)
