"""Streaming sustained-threshold alerting — the gaps-and-islands
episode detector (operators/tsanalytics.q_sustained_threshold) as a
custom stateful operator with O(1) carry state per signal.

State carries only the OPEN episode, if any: (n, start_us, end_us,
peak) — four scalars per signal regardless of throughput, the same
discipline as streaming/segmenter.py. An episode closes the moment a
non-breaching sample arrives for that signal and is emitted iff it
reached the minimum length; everything about a closed episode is
therefore BIT-IDENTICAL to the batch query (endpoints and peak pass
through untouched — tests/test_streaming_alerts.py). Episodes still
open when the stream pauses stay in state and emit on the sample that
eventually closes them — exactly a real alerting engine's semantics
(an alert that never clears never resolves).
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

from timeseriesdb_spark.operators.transforms import (
    carry_scan_fn,
    stateful_stream_scan,
)

EPISODE_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("start_ts", TimestampType()),
        StructField("end_ts", TimestampType()),
        StructField("n_samples", LongType()),
        StructField("peak_value", DoubleType()),
    ]
)

STATE_SCHEMA = StructType(
    [
        StructField("n", LongType()),
        StructField("start_us", LongType()),
        StructField("end_us", LongType()),
        StructField("peak", DoubleType()),
    ]
)


def episode_step(threshold: float, min_len: int):
    """The island-scan step: state is the open episode, or None (the
    runner then removes the key's state) once a calm sample closes
    it."""

    def detect(uid, rows, state):
        import pandas as pd

        open_ep = list(state) if state is not None else None  # [n, s, e, pk]
        done: list[tuple] = []
        flags = (rows["value"] > threshold).to_numpy()
        us = (rows["ts"].astype("datetime64[us]").astype("int64")).to_numpy()
        vals = rows["value"].to_numpy()
        i = 0
        n_rows = len(rows)
        while i < n_rows:
            j = i
            while j < n_rows and flags[j] == flags[i]:
                j += 1
            if flags[i]:  # breaching island [i, j)
                if open_ep is None:
                    open_ep = [j - i, us[i], us[j - 1], vals[i:j].max()]
                else:
                    open_ep[0] += j - i
                    open_ep[2] = us[j - 1]
                    open_ep[3] = max(open_ep[3], vals[i:j].max())
            else:  # calm island closes any open episode
                if open_ep is not None:
                    if open_ep[0] >= min_len:
                        done.append(tuple(open_ep))
                    open_ep = None
            i = j
        out = pd.DataFrame(
            {
                "user_id": [uid] * len(done),
                "start_ts": [pd.Timestamp(s * 1000) for _, s, _, _ in done],
                "end_ts": [pd.Timestamp(e * 1000) for _, _, e, _ in done],
                "n_samples": [n for n, _, _, _ in done],
                "peak_value": [pk for _, _, _, pk in done],
            }
        ) if done else None
        return out, open_ep

    return detect


def make_detector(threshold: float, min_len: int):
    """The stream runner's (key, pdfs, state) callable for
    episode_step."""
    return carry_scan_fn(episode_step(threshold, min_len))


def alert_stream(
    events: DataFrame, threshold: float, min_len: int
) -> DataFrame:
    """events stream (user_id, event_id, ts, value) → stream of closed
    alert episodes."""
    return stateful_stream_scan(
        events, episode_step(threshold, min_len), EPISODE_SCHEMA, STATE_SCHEMA
    )
