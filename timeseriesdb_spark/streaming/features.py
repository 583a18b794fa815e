"""Streaming point-in-time feature enrichment — the leak-free feature
join (operators/funnels.q_feature_snapshot) as a custom stateful
operator: purchases are enriched IN-FLIGHT with the user's feature
vector as of strictly before each purchase, exactly what a live
scorer would read from an online feature store.

State per user is the feature vector itself: (last value, running
count) per feature event type — 2·|features| scalars, O(1) at any
throughput. Rows are folded in (ts, event_id) order; a purchase row
snapshots the state BEFORE its own row is folded (the strictly-before
frame of the batch query), so the streamed enrichment is BIT-IDENTICAL
to q_feature_snapshot whenever batches arrive per-key in time order
(the arrival-order ingestion assumption shared by alerts/dimensions/
segmenter; tests/test_streaming_features.py pins equality incl.
across micro-batch and Arrow-chunk seams).
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

from timeseriesdb_spark.operators.funnels import CONV_EVENT, FEATURE_EVENTS
from timeseriesdb_spark.operators.transforms import stateful_stream_scan

SNAPSHOT_SCHEMA = StructType(
    [StructField("user_id", LongType()), StructField("purchase_id", LongType()),
     StructField("purchase_ts", TimestampType())]
    + [
        f
        for feat in FEATURE_EVENTS
        for f in (
            StructField(f"last_{feat}_value", DoubleType()),
            StructField(f"n_{feat}_before", LongType()),
        )
    ]
)

STATE_SCHEMA = StructType(
    [
        f
        for feat in FEATURE_EVENTS
        for f in (
            StructField(f"last_{feat}", DoubleType()),
            StructField(f"n_{feat}", LongType()),
        )
    ]
)

def feature_snapshot_stream(events: DataFrame) -> DataFrame:
    """events stream (user_id, event_id, ts, event_type, value) →
    stream of purchases enriched with the strictly-before feature
    vector — one output row per purchase, state O(1) per user."""
    feats, conv = list(FEATURE_EVENTS), CONV_EVENT
    idx = {f: i for i, f in enumerate(feats)}

    def snapshot(uid, rows, state):
        import pandas as pd

        # [last_0, n_0, last_1, n_1, ...]
        st = list(state) if state is not None else [None, 0] * len(feats)
        out: list[tuple] = []
        for row in rows.itertuples(index=False):
            et = row.event_type
            if et == conv:
                out.append((int(row.event_id), row.ts, tuple(st)))
            j = idx.get(et)
            if j is not None:
                st[2 * j] = float(row.value)
                st[2 * j + 1] = int(st[2 * j + 1]) + 1
        if not out:
            return None, st
        data = {
            "user_id": [uid] * len(out),
            "purchase_id": [p for p, _, _ in out],
            "purchase_ts": [t for _, t, _ in out],
        }
        for j, feat in enumerate(feats):
            data[f"last_{feat}_value"] = [s[2 * j] for _, _, s in out]
            data[f"n_{feat}_before"] = [int(s[2 * j + 1]) for _, _, s in out]
        return pd.DataFrame(data), st

    return stateful_stream_scan(
        events, snapshot, SNAPSHOT_SCHEMA, STATE_SCHEMA
    )
