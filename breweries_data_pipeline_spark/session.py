"""SparkSession factory.

Carries over the reference's session configuration (dynamic partition
overwrite + Arrow; cf. reference
src/pipelines/breweries_transform_silver_notebook.py:35-36) and adds
the scale-oriented settings the reference leaves at defaults:

- AQE on (runtime shuffle-partition coalescing, skew-join splitting,
  dynamic broadcast demotion) — essential at 100 TB where static
  partition counts are always wrong for some stage.
- session timezone pinned to UTC so timestamp semantics are stable
  across driver/executors and match external engines.
- shuffle partitions sized from the local core count for tests; on a
  real cluster AQE coalesces from a deliberately-high initial number.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "breweries_data_pipeline_spark",
    *,
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's standard conf.

    In local/test mode ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]``,
    or to the host's core count when that is unset; on a cluster pass
    ``master=None`` with a pre-set spark.master, or let spark-submit
    own it.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count() or 1)
    if master is None and "SPARK_MASTER" not in os.environ:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus)

    builder = (
        SparkSession.builder.appName(app_name)
        # --- reference-carried configuration ---
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # --- scale-oriented configuration ---
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        # parquet input split size: the local testdata files are a few
        # MB, so the 128 MB default would hand entire tables to ONE
        # task — 4 MiB keeps all local cores busy. On a real cluster
        # export SPARK_GRAFT_MAX_PARTITION_BYTES=134217728 (or higher):
        # at 100 TB you want fewer, larger splits, not more tasks.
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", "4194304"),
        )
        # parquet TIMESTAMP(NANOS) is otherwise unreadable (PARQUET_TYPE_ILLEGAL);
        # read as long and normalize in readers.read_table
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
    )
    if master is not None:
        builder = builder.master(master)
    if master is not None and master.startswith("local"):
        # Partition discovery above this many directories lists them in
        # a Spark job, so a cluster's executors share a big listing. In
        # local mode those tasks run in the driver JVM anyway: the job
        # buys no parallelism the driver lacks, and on a 4-core host it
        # cost 0.3-0.5 s, plus about 1 s of task-deserialisation CPU,
        # on every read of a 43-directory partitioned table. So local
        # sessions always list on the driver; cluster sessions keep the
        # default (32).
        builder = builder.config(
            "spark.sql.sources.parallelPartitionDiscovery.threshold",
            str(2**31 - 1),
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
