"""Streaming SCD-2 dimension maintenance — the CDC interval build
(operators/funnels.q_scd2) as a custom stateful operator with O(1)
carry state per key.

State carries only the OPEN dimension row: (state, valid_from_us,
version) — three scalars per user regardless of throughput (the
streaming/alerts.py discipline). A type change closes the open
interval and emits it with is_current = 0; the new current row
replaces it in state. Every CLOSED interval is therefore
BIT-IDENTICAL to the batch query's is_current = 0 rows (endpoints
pass through untouched, versions count from the user's true first
change — tests/test_streaming_dimensions.py); the still-open current
row per user lives in state exactly like a warehouse's current
dimension record, closing (and emitting) on the next change whenever
it arrives. Batches must arrive per-key in time order — the
reference's arrival-order ingestion assumption (future_signal.rs:207),
same as alerts/segmenter.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from timeseriesdb_spark.operators.transforms import stateful_stream_scan

INTERVAL_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("state", StringType()),
        StructField("valid_from", TimestampType()),
        StructField("valid_to", TimestampType()),
        StructField("version", IntegerType()),
        StructField("is_current", IntegerType()),
    ]
)

STATE_SCHEMA = StructType(
    [
        StructField("cur_state", StringType()),
        StructField("valid_from_us", LongType()),
        StructField("version", LongType()),
    ]
)


def scd2_stream(events: DataFrame) -> DataFrame:
    """events stream (user_id, event_id, ts, event_type) → stream of
    CLOSED SCD-2 intervals (is_current = 0 rows of the batch build).
    The open current row per user stays in state — query it by
    unioning this sink's intervals with the state-closing change that
    eventually arrives, exactly a warehouse's current-record table."""

    def scd2(uid, rows, state):
        import pandas as pd

        cur = list(state) if state is not None else None  # [state, vf_us, ver]
        closed: list[tuple] = []
        us = rows["ts"].astype("datetime64[us]").astype("int64").to_numpy()
        for t_us, et in zip(us, rows["event_type"].to_numpy()):
            if cur is None:
                cur = [et, int(t_us), 1]
            elif et != cur[0]:
                closed.append((cur[0], cur[1], int(t_us), cur[2]))
                cur = [et, int(t_us), cur[2] + 1]
        out = pd.DataFrame(
            {
                "user_id": [uid] * len(closed),
                "state": [s for s, _, _, _ in closed],
                "valid_from": [pd.Timestamp(f * 1000) for _, f, _, _ in closed],
                "valid_to": [pd.Timestamp(t * 1000) for _, _, t, _ in closed],
                "version": [v for _, _, _, v in closed],
                "is_current": [0] * len(closed),
            }
        ) if closed else None
        return out, cur

    return stateful_stream_scan(events, scd2, INTERVAL_SCHEMA, STATE_SCHEMA)
