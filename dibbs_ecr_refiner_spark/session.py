"""SparkSession factory tuned for this engine.

Local-mode defaults follow the public Spark tuning guidance: shuffle
partitions ~ cores, AQE on (runtime coalesce + skew-join splitting), Arrow
enabled for the pandas-UDF paths, UTC session timezone so results compare
bit-for-bit against the DuckDB oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_cores() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "dibbs-ecr-refiner-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``cores`` controls ``local[N]``; the same code runs unchanged under
    ``spark-submit --py-files`` on a real cluster (the master/conf are the
    only things that change — all parallelism decisions below are expressed
    through partitioning, not through local-mode assumptions).
    """
    n = cores or default_cores()
    shuf = shuffle_partitions or max(n, 8)
    builder = SparkSession.builder
    # under spark-submit --master (a real cluster), respect it; only
    # default to local[n] when nothing was provided
    from pyspark import SparkConf

    if not SparkConf().contains("spark.master"):
        builder = builder.master(f"local[{n}]")
    builder = (
        builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuf))
        .config("spark.default.parallelism", str(n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # PySpark 4 captures a Python call-site stack frame on EVERY
        # DataFrame/Column API call for error enrichment; on the replay
        # path that is thousands of inspect.stack probes per batch of pure
        # driver overhead (profiled in OPTIMIZATION_r06.md). Errors still
        # carry the JVM-side plan context.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # 16g measured 4-7× faster than 48g on the replay workload: an
        # over-sized heap gives G1 a huge young gen whose evacuation pauses
        # and cache-hostile copying dominate; this workload streams data
        # through, it doesn't retain it
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        .config("spark.driver.extraJavaOptions", "-XX:+UseG1GC -XX:MaxGCPauseMillis=300")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.compression.codec", "snappy")
        # int64-micros timestamps (not legacy INT96): INT96 carries NO
        # parquet min/max statistics, which would silently disable both
        # row-group skipping on ts predicates and the manifest file-stats
        # stamping in lake/table.py (same choice as Iceberg/Delta).
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        # v2 commit: tasks move their own files (no serial driver-side
        # rename of every dynamic partition at job commit)
        .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
        .config("spark.hadoop.parquet.summary.metadata.level", "NONE")
        # bench-scale inputs are small; 32m keeps scan parallelism ≈ cores
        # (at lake scale with many files the default 128m is fine — this is
        # a knob, not a design assumption)
        .config("spark.sql.files.maxPartitionBytes", os.environ.get("SPARK_GRAFT_MAX_PART_BYTES", "33554432"))
        # keep chained Projects separate: CollapseProject would inline a
        # materialized column's defining expression into every reference
        # (the refine pass references its match column ~6×); codegen still
        # pipelines chained Projects row-wise with each expr evaluated once
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.CollapseProject",
        )
    )
    # experiment hook: SPARK_GRAFT_EXTRA_CONF="k=v;k=v" (bench A/B runs in
    # fresh subprocesses without code edits)
    env_conf = os.environ.get("SPARK_GRAFT_EXTRA_CONF", "")
    for pair in filter(None, env_conf.split(";")):
        k, _, v = pair.partition("=")
        builder = builder.config(k.strip(), v.strip())
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
