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
- streamed checkpoints written through Hadoop's `FileSystem` API
  (`spark.sql.streaming.checkpointFileManagerClass` =
  `FileSystemBasedCheckpointFileManager`), for every streamed writer:
  `_run_stream`'s foreachBatch sinks and the state store of the
  `applyInPandasWithState` scans. Without Hadoop's native library,
  Spark's default manager (`FileContextBasedCheckpointFileManager`)
  stats the source, the destination and their `.crc` files through
  `FileUtil.readLink` on each rename, and each stat forks `readlink`:
  26 per batch of a `maintain_rollup_stream`. The `FileSystem` manager
  forks none. Each log entry is still written to a temp file and
  renamed with the same check-then-rename no-overwrite test (on a
  local disk `FileContext` also stats and then renames), and both
  files keep their `.crc` through `LocalFileSystem`. One `perfbench`
  `stream_ingest` pass forked 525 processes before, 312 of them
  checkpoint `readlink`, and 213 after: 92 checkpoint `chmod`, which
  every created file and dir still costs, 120 data `chmod` and one for
  the pass's own dir. Two other levers were rejected:
  `spark.hadoop.fs.file.impl=RawLocalFileSystem` drops the `.crc`
  integrity check of every local file, checkpoint logs included; and
  `-Djdk.lang.Process.launchMechanism` would have to be set through
  `spark.driver.extraJavaOptions`, which overrides the driver options
  a caller passes with `--driver-java-options` (perfbench's JVM
  flags among them).
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
        .config(
            "spark.sql.streaming.checkpointFileManagerClass",
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileSystemBasedCheckpointFileManager",
        )
    )
    return builder.getOrCreate()
