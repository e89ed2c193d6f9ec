"""SparkSession factory with scale-oriented defaults.

The settings below are the ones that matter at 100 TB just as much as
on a single local box:

* AQE on (runtime coalescing + skew-join splitting backstops the
  explicit salting done by the spatial layer).
* Arrow execution for every pandas-UDF / mapInPandas / mapInArrow
  boundary, with each Python batch bounded by BYTES: a batch holds at
  most ARROW_MAX_BYTES_PER_BATCH of row data, so a Python worker's
  input per batch stays under that bound whatever the row width: 16
  half-MiB tile rows, or up to Spark's default record cap of 10 000
  small page / embedding rows, enough to amortize the per-batch
  Arrow/pandas overhead of the small-row kernels without any kernel
  re-batching by hand. This replaces the reference's
  riomucho window streaming (rio_toa/radiance.py:122-128).
* shuffle partition count sized by the caller (cores on local mode,
  2-3x total cores on a cluster).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32
ARROW_MAX_BYTES_PER_BATCH = 8 << 20


def get_spark(
    app_name: str = "rio_toa_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))
    master = master or os.environ.get("SPARK_GRAFT_MASTER") or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or int(
        os.environ.get("SPARK_GRAFT_SHUFFLE", DEFAULT_SHUFFLE_PARTITIONS)
    )

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.execution.arrow.maxBytesPerBatch",
            str(ARROW_MAX_BYTES_PER_BATCH),
        )
        # Tile/page parquet files are written small at test SF; on a
        # real cluster this bound splits 100 TB into ~128 MiB tasks.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
