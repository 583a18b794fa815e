"""Streaming counter-rate — PromQL increase()/rate() deltas as a
stateful operator with O(1) carry state per signal.

The batch form (operators/tsanalytics.q_counter_rate) computes each
row's delta with lag() over the signal's whole history; a stream can't
lag across micro-batches, so state carries ONLY the previous raw value
(one double per signal — the same minimal-carry discipline as
streaming/smoothing.py). The kernel emits PER-ROW rate events
(inc_raw, is_reset) and deliberately does NOT round or aggregate:
inc_raw is the identical IEEE subtraction Spark's lag() would produce,
so any downstream consumer that applies the batch query's own
round→decimal-sum aggregation gets BIT-IDENTICAL per-(signal, day)
increase/resets/span (pinned by tests/test_streaming_rates.py).
Day-boundary deltas land on the later row's day, exactly like the
batch lag-then-group order.

At 100 TB the emitted rate events partial-aggregate per (signal, day)
in the same micro-batch (mergeable integer/decimal partials, the
q_histogram_rollup pattern); state-store size stays #signals × one
double regardless of throughput.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
    TimestampType,
)

from timeseriesdb_spark.operators.transforms import (
    carry_scan_fn,
    stateful_stream_scan,
)

RATE_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("inc_raw", DoubleType()),
        StructField("is_reset", IntegerType()),
    ]
)

STATE_SCHEMA = StructType([StructField("last_value", DoubleType())])


def rate_step():
    """The delta step: state is the signal's last raw value."""

    def rate(key, rows, state):
        import numpy as np
        import pandas as pd

        v = rows["value"].to_numpy(np.float64)
        first = np.nan if state is None else state[0]
        prev = np.concatenate(([first], v[:-1]))
        delta = v - prev
        is_reset = delta < 0  # NaN (no previous value) compares False
        inc = np.where(np.isnan(delta), 0.0, np.where(is_reset, v, delta))
        out = pd.DataFrame(
            {
                "user_id": rows["user_id"],
                "event_id": rows["event_id"],
                "ts": rows["ts"],
                "inc_raw": inc,
                "is_reset": is_reset.astype(np.int32),
            }
        )
        return out, (float(v[-1]),)

    return rate


def make_counter_rate():
    """The stream runner's (key, pdfs, state) callable for rate_step."""
    return carry_scan_fn(rate_step())


def counter_rate_stream(events: DataFrame) -> DataFrame:
    """events stream (user_id, event_id, ts, value) → stream of per-row
    rate events."""
    return stateful_stream_scan(events, rate_step(), RATE_SCHEMA, STATE_SCHEMA)
