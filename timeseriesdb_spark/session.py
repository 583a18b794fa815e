"""SparkSession construction with scale-oriented defaults.

Local testing runs on ``local[N]``; the configs below are the ones that
matter identically on a 1000-executor cluster:

- AQE on (runtime shuffle-partition coalescing, skew-join splitting,
  dynamic broadcast conversion) — replaces the reference's hand-tuned
  buffer/daemon thresholds (compression_daemon.rs:51-79).
- Arrow transfer for the pandas-UDF operators (PAA/FFT/kNN/multimodal)
  so Python boundaries are columnar batches, never per-row pickling.
- shuffle partitions sized from the env so the same code scales from
  local[4] pytest runs to a real cluster (set it to ~2-3x total cores).
- a codegen class cache of 4096 entries
  (`spark.sql.codegen.cache.maxEntries`, static: the JVM's first session
  fixes it). Spark keeps the classes Janino generates for each plan in
  one JVM-wide cache of 100 entries by default, and a repeated query
  whose classes were evicted compiles them again. Measured working
  sets: about 217 classes for the 28-query signal mix (`perfbench`
  `signal_queries`), 2,388 for the whole registry at sf0.01. At 100
  entries a warm pass recompiled about 200 of the mix's and 3,631 of
  the registry's; at 4096, 0-8 and 62. 4096 is the next power of two
  above the registry's set. The cost is heap, about 33 KB per cached
  class: after one pass of the whole registry the live heap is 208 MB
  against 132 MB at 100 entries.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "spark-tsdb",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_TSDB_SHUFFLE", cpus))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_TSDB_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.codegen.cache.maxEntries", "4096")
    )
    return builder.getOrCreate()
