"""SparkSession factory with the engine's tuned defaults.

Scale posture: AQE on (runtime re-plan + skew-join splitting), Arrow on
(any pandas-UDF path is batch-vectorized), shuffle partitions sized to
the local core budget (on a real cluster you'd set this to 2-3x total
cores or let AQE coalesce).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app: str = "scylla-cdc-java-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra: dict | None = None,
) -> SparkSession:
    cores = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    master = master or f"local[{cores}]"
    shuffle_partitions = shuffle_partitions or cores
    b = (
        SparkSession.builder.appName(app)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        # Local-FS efficiency: the sandbox has no native Hadoop lib, so the
        # default ChecksumFileSystem doubles every file create (.crc twins)
        # and shells out (fork+exec of an 8-16 GB JVM) for chmod on commit
        # paths — measured as a 32-thread fork/file-op storm that inflates
        # system CPU ~6x. Raw local FS + committer v2 + no summary files
        # cut the per-file metadata ops. On a real cluster (HDFS/S3/Iceberg
        # catalog) none of these matter — they are local-mode hygiene.
        .config("spark.hadoop.fs.file.impl",
                "org.apache.hadoop.fs.RawLocalFileSystem")
        .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version",
                "2")
        .config("spark.hadoop.parquet.summary.metadata.level", "NONE")
        # The sink opens segment dirs it already knows from its manifest
        # (O(touched buckets x segments) paths). Above this many paths
        # Spark lists them with a distributed job; on the local FS the
        # driver lists 10^3 dirs in ~0.2 s where that job takes ~4 s,
        # and 10^4 in ~1.5 s vs ~30 s (4-core host), so list on the
        # driver up to 10^4 paths.
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold",
                "10000")
    )
    for k, v in (extra or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
