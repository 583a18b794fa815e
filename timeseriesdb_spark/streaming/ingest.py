"""Structured Streaming ingestion — the Spark-native form of the
reference's ingestion pipeline (SURVEY.md §3.1):

reference                                   → here
BufferedSignal::poll chunks stream→segments → readStream micro-batches
  (future_signal.rs:121-218)
Arc<Mutex<SegmentBuffer>> shared buffer     → state store / sink files
compression daemon drains >10%-full buffer  → foreachBatch append to
  (compression_daemon.rs:51-79)               partitioned Parquet
count-based tumbling segmentation           → event-time tumbling
  (split_decider, lib.rs:337)                 window (+ count-window
                                              emulation in windows.py)
no late-data handling (arrival order)       → withWatermark (real
  (segment.rs:84 time_lapse unused)           late-data semantics)

At 100 TB/day the same topology holds: Kafka source → watermark →
windowed pre-agg → foreachBatch appends to a (day)-partitioned table,
and the rollup (aggregates._rollup) is maintained incrementally by
the same stream instead of a batch rescan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

EVENTS_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)


def read_event_stream(spark: SparkSession, source_dir: str) -> DataFrame:
    """File-based event stream (the CSV/file client analog,
    client.rs:241-254): new files in source_dir are discovered per
    micro-batch. Swap format for 'kafka' in production; the plan
    downstream is identical."""
    return (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 4)  # backpressure (exceed_batch analog)
        .parquet(source_dir)
    )


def parse_kafka_events(kafka_df: DataFrame) -> DataFrame:
    """Kafka wire format → event rows: `value` is a JSON-encoded event
    (the network client's payload, ZMQClient/README.md:1 — the
    reference ships raw f64 frames over ZMQ; JSON-over-Kafka is the
    Spark-ecosystem equivalent). Source-agnostic: works on any
    DataFrame with a binary/string `value` column, so it is unit-tested
    against kafka-shaped static rows without a broker."""
    return kafka_df.select(
        F.from_json(F.col("value").cast("string"), EVENTS_SCHEMA).alias("e")
    ).select("e.*")


def read_kafka_stream(
    spark: SparkSession,
    brokers: str,
    topic: str,
    starting: str = "earliest",
    max_offsets_per_trigger: int = 100_000,
) -> DataFrame:
    """Network-source parity (the reference's ZMQClient stub,
    client.rs:360-383): the standard Kafka source feeding the SAME
    downstream plan as the file stream — segmenter, windowed stats,
    rollup all compose unchanged. maxOffsetsPerTrigger is the
    backpressure knob (compression_daemon.rs:51 threshold analog).
    Needs the spark-sql-kafka package on the classpath; plan
    construction (options + parse) is what the tests pin."""
    raw = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", brokers)
        .option("subscribe", topic)
        .option("startingOffsets", starting)
        .option("maxOffsetsPerTrigger", max_offsets_per_trigger)
        .load()
    )
    return parse_kafka_events(raw)


def read_socket_stream(
    spark: SparkSession, host: str, port: int
) -> DataFrame:
    """TCP-socket network source — the closest RUNNABLE analog of the
    reference's ZMQ client (client.rs:360-383: raw frames over a
    socket, one event per frame) available without an external broker:
    Spark's built-in socket source delivers newline-delimited frames
    as a `value` string column, which the SAME parse layer the Kafka
    path uses (parse_kafka_events — JSON payload → typed event rows)
    turns into the event schema. Everything downstream (segmenter,
    windowed stats, rollup maintenance) composes unchanged.

    Exercised END-TO-END in tests/test_streaming.py against a real
    localhost TCP server (r12) — the network transport the Kafka path
    could never run in this sandbox. The socket source is
    at-most-once/non-replayable, so it is the demo/dev transport;
    production swaps in read_kafka_stream on the identical plan."""
    raw = (
        spark.readStream.format("socket")
        .option("host", host)
        .option("port", port)
        .load()
    )
    return parse_kafka_events(raw)


def rate_signal_stream(spark: SparkSession, signals: int = 8, rows_per_sec: int = 1000) -> DataFrame:
    """Synthetic generator client (client.rs:258-343 normal/uniform
    generators): rate source + deterministic value mixing."""
    rate = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", rows_per_sec)
        .load()
    )
    return rate.select(
        F.col("value").alias("event_id"),
        F.col("timestamp").alias("ts"),
        (F.col("value") % signals).alias("user_id"),
        F.lit("gen").alias("event_type"),
        (F.sin(F.col("value").cast("double")) * 50 + 50).alias("value"),
        F.lit("{}").alias("props"),
    )


def windowed_stats(stream: DataFrame, window: str = "1 minute", watermark: str = "2 minutes") -> DataFrame:
    """Watermarked tumbling per-signal stats — the streaming AggStats
    (buffer_pool.rs:757: maintained incrementally at put; here the
    state store owns it)."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy("user_id", F.window("ts", window).alias("w"))
        .agg(
            F.count("value").alias("cnt"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
            F.sum(F.col("value").cast("decimal(38,6)")).cast("double").alias("sum_value"),
        )
        .select("user_id", F.col("w.start").alias("win_start"), "cnt",
                "min_value", "max_value", "sum_value")
    )


def session_stats(
    stream: DataFrame, gap: str = "30 seconds", watermark: str = "2 minutes"
) -> DataFrame:
    """Session-windowed per-signal stats: activity bursts separated by
    ≥`gap` of silence become one session each (F.session_window — the
    engine merges/extends sessions in the state store; watermark
    closes them). The streaming form of q_sessionize's batch gap
    logic: identical session boundaries, state-store bounded by open
    sessions only. Works unchanged on a batch DataFrame, which is what
    the parity test exploits."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy("user_id", F.session_window("ts", gap).alias("w"))
        .agg(
            F.count("value").alias("cnt"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
            F.sum(F.col("value").cast("decimal(38,6)")).cast("double").alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("sess_start"),
            F.col("w.end").alias("sess_end"),
            "cnt", "min_value", "max_value", "sum_value",
        )
    )


def ingest_to_parquet(
    stream_stats: DataFrame, out_dir: str, checkpoint_dir: str
):
    """foreachBatch append to unpartitioned Parquet — the compression
    daemon's persist path (fm_write, compression_daemon.rs:124-140).
    availableNow trigger drains all pending input then stops (used by
    tests; production uses processingTime)."""
    from timeseriesdb_spark.api import _run_stream

    return _run_stream(
        stream_stats, checkpoint_dir,
        lambda batch_df, _bid: batch_df.write.mode("append").parquet(out_dir),
    )


def seasonal_baseline(events: DataFrame) -> DataFrame:
    """Per-(signal, hour-of-day) mean/std baseline from a batch frame —
    the static side of the streaming anomaly check. Decimal component
    sums (the q_signal_corr discipline) keep the baseline identical at
    any parallelism; refresh it on whatever cadence the corpus drifts
    (daily compaction is typical)."""
    dec = lambda c: F.sum(c.cast("decimal(38,6)")).cast("double")  # noqa: E731
    stats = events.groupBy(
        "user_id", F.hour("ts").cast("bigint").alias("hour_of_day")
    ).agg(
        F.count("*").alias("n"),
        dec(F.col("value")).alias("sx"),
        dec(F.col("value") * F.col("value")).alias("sxx"),
    )
    n = F.col("n").cast("double")
    var = (n * F.col("sxx") - F.col("sx") * F.col("sx")) / (n * n)
    return stats.where(var > 0).select(
        "user_id",
        "hour_of_day",
        (F.col("sx") / n).alias("mu"),
        F.sqrt(var).alias("sd"),
    )


def flag_anomalies_stream(
    stream: DataFrame, baseline: DataFrame, k: float = 3.0
) -> DataFrame:
    """Flag streamed events more than k·sd from their signal's
    hour-of-day baseline — "is this value high FOR 3am" on the ingest
    path. A stream-static equi-join on (user_id, hour bucket): the
    baseline broadcasts, every micro-batch row is checked in place, NO
    state store (a replayed batch re-evaluates identically). Events
    whose (signal, hour) has no baseline pass through unflagged —
    a cold-start signal should alert via volume, not crash the query."""
    withhour = stream.withColumn("hour_of_day", F.hour("ts").cast("bigint"))
    joined = withhour.join(
        F.broadcast(baseline), ["user_id", "hour_of_day"], "left"
    )
    flag = (
        F.col("sd").isNotNull()
        & (F.abs(F.col("value") - F.col("mu")) > F.lit(k) * F.col("sd"))
    ).cast("int")
    return joined.withColumn("is_anomaly", flag).drop("mu", "sd")
