"""Streaming rolling quantiles — the selection-quantile operator
(operators/windows.q_rolling_quantile) as a custom stateful operator
with BOUNDED carry state per signal.

The batch form computes rank-selected median/p90 over a trailing
RQ_ROWS-row frame. A stream can't re-read the frame, so state carries
exactly the last RQ_ROWS − 1 values per signal (the minimal window
tail the next row's frame needs — the same bounded-carry discipline
as streaming/smoothing.py, but with a fixed-size buffer instead of
one double). Each micro-batch prepends the carry, slides the frame,
and emits rank-selected quantiles identical to the batch form:
selection over the same sorted doubles has no accumulation state, so
stream == batch EXACTLY (pinned by tests/test_streaming_quantile.py).

This is the 100 TB shape: state-store size is #signals × RQ_ROWS
doubles regardless of throughput, and each row's work is one
O(w log w) sort of a 25-value frame.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StructField,
    StructType,
    TimestampType,
)

from timeseriesdb_spark.operators.transforms import stateful_stream_scan
from timeseriesdb_spark.operators.windows import RQ_ROWS

QUANTILE_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("med", DoubleType()),
        StructField("p90", DoubleType()),
        StructField("n_frame", LongType()),
    ]
)

STATE_SCHEMA = StructType([StructField("tail", ArrayType(DoubleType()))])


def rolling_quantile_stream(events: DataFrame, w_rows: int = RQ_ROWS) -> DataFrame:
    """events stream (user_id, event_id, ts, value) → stream of
    rank-selected rolling quantiles over a trailing `w_rows` frame."""
    if w_rows < 2:
        # w_rows=1 would make the carry slice buf[-(w_rows-1):] ==
        # buf[-0:] == the WHOLE buffer — unbounded state (r8 advice).
        raise ValueError(f"rolling quantile needs w_rows >= 2, got {w_rows}")

    def quantiles(uid, rows, state):
        import numpy as np
        import pandas as pd

        tail = list(state[0]) if state is not None else []
        v = rows["value"].to_numpy(dtype=np.float64)
        buf = np.concatenate([np.asarray(tail, dtype=np.float64), v])
        k = len(tail)
        med = np.empty(len(v))
        p90 = np.empty(len(v))
        nf = np.empty(len(v), dtype=np.int64)
        for i in range(len(v)):
            end = k + i + 1
            frame = np.sort(buf[max(0, end - w_rows) : end])
            n = len(frame)
            med[i] = frame[(n + 1) // 2 - 1]
            p90[i] = frame[(9 * n + 9) // 10 - 1]
            nf[i] = n
        out = pd.DataFrame(
            {
                "user_id": rows["user_id"],
                "event_id": rows["event_id"],
                "ts": rows["ts"],
                "med": med,
                "p90": p90,
                "n_frame": nf,
            }
        )
        # plain Python floats: numpy scalars don't pickle into the
        # state row
        return out, ([float(x) for x in buf[-(w_rows - 1) :]],)

    return stateful_stream_scan(
        events, quantiles, QUANTILE_SCHEMA, STATE_SCHEMA
    )
