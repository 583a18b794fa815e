"""Streaming EWMA — the sequential-recurrence smoother as a custom
stateful operator with O(1) carry state per signal.

The batch form (operators/tsanalytics.q_ewma) runs the recurrence over
each signal's whole history; a stream can't, so state carries ONLY the
previous smoothed value s_{t-1} (one double per signal). Both forms run
the one step, tsanalytics.ewma_step, whose exactness argument makes
chunked output BIT-IDENTICAL to the one-pass batch recurrence (pinned
by tests/test_streaming_smoothing.py).

This is the 100 TB shape: per-(signal, day-partition) chunks processed
in time order with the previous chunk's tail as carry-in — state-store
size is #signals × one double regardless of throughput.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StructField,
    StructType,
    TimestampType,
)

from timeseriesdb_spark.operators.transforms import stateful_stream_scan
from timeseriesdb_spark.operators.tsanalytics import ewma_step

EWMA_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("ewma", DoubleType()),
    ]
)

STATE_SCHEMA = StructType([StructField("s", DoubleType())])


def ewma_stream(events: DataFrame, alpha: float) -> DataFrame:
    """events stream (user_id, event_id, ts, value) → stream of
    smoothed rows."""
    return stateful_stream_scan(
        events, ewma_step(alpha), EWMA_SCHEMA, STATE_SCHEMA
    )
