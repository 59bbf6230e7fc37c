"""SparkSession factory tuned for the engine.

Design notes (100 TB posture):
- AQE on: runtime coalescing of shuffle partitions, skew-join splitting and
  dynamic broadcast decisions replace hand-tuned plans.
- UTC session timezone (the reference pinned US/Eastern at
  raw_layer_job.py:89 — a correctness bug across DST; we fix by design).
- snappy parquet is Spark's default codec; kept explicit for parity with the
  reference sinks (raw_layer_job.py:166-167).
- ``spark.sql.shuffle.partitions`` is only the pre-AQE upper bound; AQE
  coalesces down.  On a real cluster set it ≈ 2-3× total cores via
  SPARK_GRAFT_SHUFFLE_PARTITIONS.
- Cached plans are coalesced too
  (``spark.sql.optimizer.canChangeCachedPlanOutputPartitioning``).  Spark's
  default keeps a persisted frame at the full shuffle-partition count so
  its output partitioning stays fixed, and then every later scan of it
  runs that many tasks (32 tasks over a few hundred rows in the near-dup
  edge build).  The trade-off: a cached frame's partitioning is now only
  known once it is built, so a read that needs a particular partitioning
  may plan one more shuffle over the (small, coalesced) cached data.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_APP_NAME = "aws-genaric-datapipeline-spark"


def _default_driver_memory() -> str:
    """min(24g, half of the host's physical memory), in MiB."""
    half = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2
    return f"{min(24 << 30, half) >> 20}m"


def get_spark(
    app_name: str = DEFAULT_APP_NAME,
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    Local mode is for tests/bench only; on a cluster, ``master`` comes from
    spark-submit and this builder just layers the engine confs.
    """
    master = master or os.environ.get("SPARK_GRAFT_MASTER") or f"local[{os.environ.get('SPARK_GRAFT_CPUS', '*')}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Adaptive execution: partition coalescing, skew-join handling,
        # runtime sort-merge→broadcast conversion.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # ...and let AQE size persisted frames' final stages the same way
        # (see the design notes above).
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        # Runtime row-level filtering: build a bloom filter from the small
        # side of a shuffle join and push it into the big side's scan —
        # the biggest win on selective fact⋈dim joins at scale.
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        # Bucketed joins tolerate mismatched (integer-multiple) bucket
        # counts by coalescing instead of falling back to a full shuffle.
        .config("spark.sql.bucketing.coalesceBucketsInJoin.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "snappy")
        # Batch partition keys (ETL_PART_KEY) are opaque strings; without
        # this, 20-digit batch ids read back as decimals.
        .config("spark.sql.sources.partitionColumnTypeInference.enabled", "false")
        .config("spark.sql.parquet.filterPushdown", "true")
        # Allow Python DataSource readers (sources/pyds.py) to receive and
        # absorb filters (source-level partition pruning).
        .config("spark.sql.python.filterPushdown.enabled", "true")
        # Arrow for any pandas_udf / toPandas path (vectorized transfer).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", "64MB")
        # local[32] runs every task inside the driver JVM: size the heap for
        # 32 concurrent task slots (spark.memory.fraction 0.6 → ~0.5 GiB of
        # execution memory per slot at 24g) or erratic GC pauses dominate
        # bench timings — but never past half the host's memory, or the
        # JVM can grow into memory other processes need.  On a real
        # cluster executors get their own memory; this knob only shapes
        # the single-JVM harness.
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.maxMetadataStringLength", "500")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
