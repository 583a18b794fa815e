"""Admission control / load shedding — the full form of the
reference's backpressure (SURVEY.md §3.1 row "Backpressure/
thresholds": the compression daemon admits work only when the buffer
passes `exceed_threshold`/`exceed_batch`, compression_daemon.rs:51-79,
117-161 — ingest beyond capacity is implicitly dropped at the buffer).

Here the drop is EXPLICIT and observable: a stateful per-signal rate
cap admits at most `cap` rows per (signal, tumbling wall-window) in
deterministic (ts, event_id) order and FLAGS the rest instead of
silently losing them — every input row comes out exactly once with an
`admitted` boolean, so the shed stream can be counted, sampled, or
dead-lettered downstream (filter on the flag). Trigger-level
backpressure (maxFilesPerTrigger / maxOffsetsPerTrigger) still bounds
micro-batch SIZE; this operator bounds per-key RATE inside the batch,
which trigger sizing cannot do when one hot signal dominates a batch.

State is O(1) per signal: (current window start, rows admitted in it)
— two longs regardless of throughput, the same discipline as every
other stateful kernel here. The stream runner hands the step a
signal's whole micro-batch in (ts, event_id) order, so admission order
is deterministic even when the key spans Arrow chunks.

Cross-batch exactness: a window that spans micro-batches keeps
admitting against the SAME counter (carried in state), so the cap
holds per window, not per batch. Late rows belonging to an already-
passed window re-open its counter only if the state still points at
it; rows for an OLDER window than the state's are shed outright
(capacity for that window is gone — the buffer-full analog).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    LongType,
    StructField,
    StructType,
    TimestampType,
)

from timeseriesdb_spark.operators.transforms import stateful_stream_scan

ADMIT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("value", DoubleType()),
        StructField("admitted", BooleanType()),
    ]
)

STATE_SCHEMA = StructType(
    [
        StructField("win_start_us", LongType()),
        StructField("n_admitted", LongType()),
    ]
)


def admitted_stream(
    events: DataFrame, cap: int, window_sec: int
) -> DataFrame:
    """events stream (user_id, event_id, ts, value) → the same rows,
    each flagged admitted/shed under a per-signal cap of `cap` rows
    per `window_sec` tumbling window. Filter `admitted` for the
    capacity-bounded downstream; the complement is the shed stream."""
    win_us = window_sec * 1_000_000

    def admit(key, rows, state):
        import pandas as pd

        cur_win, n = state if state is not None else (None, 0)
        us = rows["ts"].astype("datetime64[us]").astype("int64").to_numpy()
        flags = []
        for t in us:
            w = (t // win_us) * win_us
            if cur_win is None or w > cur_win:
                cur_win, n = w, 0
            if w < cur_win:
                flags.append(False)  # window already passed: shed
            elif n < cap:
                flags.append(True)
                n += 1
            else:
                flags.append(False)
        out = pd.DataFrame(
            {
                "user_id": rows["user_id"],
                "event_id": rows["event_id"],
                "ts": rows["ts"],
                "value": rows["value"],
                "admitted": flags,
            }
        )
        return out, (int(cur_win), int(n))

    return stateful_stream_scan(events, admit, ADMIT_SCHEMA, STATE_SCHEMA)
