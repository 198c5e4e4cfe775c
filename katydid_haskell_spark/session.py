"""SparkSession factory with scale-oriented defaults.

Test/bench runs are ``local[N]`` on one JVM, but every setting here is
chosen to also hold on a 1000-executor cluster: AQE on (runtime coalescing +
skew-join splitting), Arrow for every pandas-UDF exchange, sane shuffle
partition counts, broadcast threshold for dimension tables.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "katydid-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 8
    if shuffle_partitions is None:
        # ~2x cores locally; on a real cluster this would be sized to
        # (input bytes / 128MB) and AQE coalesces down from there.
        shuffle_partitions = 2 * cores
    # AQE is the right default for real clusters (skew splitting, runtime
    # coalescing), but its per-stage re-planning barriers add ~100ms+ per
    # shuffle stage — measurable when local stages complete in seconds.
    # Benchmarks that are stage-latency-bound can turn it off via env.
    aqe = os.environ.get("SPARK_GRAFT_AQE", "true")
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", aqe)
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Local test files are tiny single parquet files; without these a
        # 10 MB file is one split and 31 of 32 cores idle.  On a real
        # cluster inputs have many splits and these are harmless.
        .config("spark.sql.files.maxPartitionBytes", "8m")
        .config("spark.sql.files.minPartitionNum", str(cores))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        # try_parse_json keeps the last of duplicate keys, as the JSON
        # decoders of the automaton path do, instead of returning NULL
        .config("spark.sql.variant.allowDuplicateKeys", "true")
    )
    return builder.getOrCreate()
