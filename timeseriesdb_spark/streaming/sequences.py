"""Streaming event-sequence mining — the trigram miner
(operators/funnels.q_event_ngrams) as a custom stateful operator with
a TWO-EVENT tail carry per user.

A trigram is complete when its third event arrives, so the only state
the next micro-batch needs is each user's last two event types (the
same minimal-tail discipline as streaming/quantile.py, with two
strings instead of a value buffer). Each batch takes a user's rows in
(ts, event_id) order, prepends the carried tail, emits one
(e1, e2, e3) row per completed triple, and carries the new tail —
every triple is emitted exactly once across any batch slicing, so
streamed trigram rows aggregate to EXACTLY the batch miner's counts
(pinned by tests/test_streaming_sequences.py).

100 TB shape: state-store size is #users x 2 strings regardless of
throughput; per-row work is O(1). The count tier downstream
(api.maintain_event_ngrams_stream) is linear — per-batch
(e1, e2, e3, user_id) count partials merged at read — so n and
n_users are both exact from the tier.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from timeseriesdb_spark.operators.transforms import stateful_stream_scan

TRIGRAM_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("e1", StringType()),
        StructField("e2", StringType()),
        StructField("e3", StringType()),
    ]
)

STATE_SCHEMA = StructType(
    [StructField("p1", StringType()), StructField("p2", StringType())]
)


def event_trigram_stream(events: DataFrame) -> DataFrame:
    """events stream (user_id, event_id, ts, event_type) → stream of
    completed trigrams, one row per event that closes a triple."""

    def trigrams(uid, rows, state):
        import pandas as pd

        # tail = the user's last two event types, oldest first; either
        # may be None while the stream is shorter than two events
        p1, p2 = state if state is not None else (None, None)
        types = rows["event_type"].tolist()
        buf = [t for t in (p1, p2) if t is not None] + types
        k = len(buf) - len(types)  # position of the first new event
        done = rows.iloc[max(0, 2 - k):]  # the rows that close a triple
        tri = [
            (buf[j - 2], buf[j - 1], buf[j]) for j in range(max(k, 2), len(buf))
        ]
        out = pd.DataFrame(
            {
                "user_id": done["user_id"].reset_index(drop=True),
                "event_id": done["event_id"].reset_index(drop=True),
                "ts": done["ts"].reset_index(drop=True),
                "e1": [r[0] for r in tri],
                "e2": [r[1] for r in tri],
                "e3": [r[2] for r in tri],
            }
        ) if tri else None
        return out, ([None] + buf)[-2:]

    return stateful_stream_scan(events, trigrams, TRIGRAM_SCHEMA, STATE_SCHEMA)
