"""SparkSession factory with scale-oriented defaults.

Defaults are chosen for the north-rule workload (wide fact table of
pre-tokenized sequences, skewed ``source`` key, Arrow-heavy UDF paths):

- AQE on (runtime re-plan, skew-join splitting, partition coalescing),
- explicit shuffle-partition count equal to the local core count: each
  stateful micro-batch commits one state-store version per shuffle
  partition, so partitions beyond the cores add a second wave of tasks
  to every trigger (on a real cluster: ~2-3x total executor cores),
- Arrow enabled for pandas UDF exchange with a bounded batch size so
  512-element int32 token arrays don't blow executor memory,
- broadcast threshold high enough that dimension tables (sources, date
  ranges) always broadcast instead of shuffling the fact side.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    master: str | None = None,
    app_name: str = "bistro_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or reuse) a SparkSession with engine defaults applied."""
    master = master or f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]"
    cores = _parse_local_cores(master)
    if shuffle_partitions is None:
        # 1x cores locally: every stateful micro-batch commits one
        # state-store version (and writes one sink part) per shuffle
        # partition, so partitions beyond the cores run as a second wave.
        # On a cluster this should be 2-3x total cores (set via extra_conf).
        shuffle_partitions = cores

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("BISTRO_DRIVER_MEM", "8g"))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.shuffle.spill.compress", "true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def _parse_local_cores(master: str) -> int:
    if master.startswith("local["):
        inner = master[len("local[") : -1]
        if inner == "*":
            return os.cpu_count() or 8
        try:
            return int(inner)
        except ValueError:
            return 8
    return 32
