"""Count-based streaming segmentation — the reference's core ingestion
unit as a custom stateful operator.

Reference: BufferedSignal::poll chunks each signal's stream into
fixed-size segments (split_decider `|i,j| i >= j`, segment_size=1000 —
future_signal.rs:121-218, lib.rs:337, test_configs/config.toml:4) and
the buffer maintains AggStats{max,min,sum,count} per segment at put
(buffer_pool.rs:757-790, 1467-1469).

Here: a carry-scan step (operators/transforms.stateful_stream_scan)
keyed on signal_id. State is ONLY the running (segment_index, count,
min, max, sum) of the in-progress segment — O(1) per signal, never
the raw values — so state-store size is #signals × a few scalars
regardless of throughput. Completed
segments are emitted as soon as their 1000th value arrives in arrival
order (the reference's implicit ordering; stage files time-ordered to
reproduce it exactly).

At 100 TB/day the same operator runs on a Kafka source with
timeout-driven state eviction for dead signals (`idle_timeout_ms`);
the emit stream feeds the rollup table exactly like the reference's
compression daemon drains full segments.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StructField,
    StructType,
)

from timeseriesdb_spark.operators.transforms import (
    carry_scan_fn,
    stateful_stream_scan,
)

SEGMENT_SIZE = 1000  # the reference's default (config.toml:4)

SEGMENT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("seg_idx", LongType()),
        StructField("cnt", LongType()),
        StructField("seg_min", DoubleType()),
        StructField("seg_max", DoubleType()),
        StructField("seg_sum", DoubleType()),
    ]
)

STATE_SCHEMA = StructType(
    [
        StructField("seg_idx", LongType()),
        StructField("cnt", LongType()),
        StructField("mn", DoubleType()),
        StructField("mx", DoubleType()),
        StructField("sm", DoubleType()),
    ]
)


def segment_step(seg_size: int):
    """The segmentation step and its idle-timeout finalize.

    The step is vectorized over the key's micro-batch: segment
    boundaries are arithmetic (carry + batch length), per-segment
    stats come from numpy reduceat over the boundary offsets — no
    per-value Python loop in the ingest hot path. State stays O(1):
    only the open segment's (idx, cnt, min, max, sum).

    The finalize FLUSHES a timed-out signal's partial segment
    (cnt < seg_size) — the reference's buffer eviction of cold signals
    (buffer_pool.rs evict/flush path): without it, a dead signal pins
    its unfinished segment in the state store forever. Downstream
    treats the short row as a sealed short segment, exactly like the
    reference's dirty flush."""

    def chunk(uid, rows, state):
        import numpy as np
        import pandas as pd

        seg_idx, cnt, mn, mx, sm = (
            state if state is not None else (0, 0, None, None, 0.0)
        )
        if cnt == 0:  # stored 0.0 placeholders are not real extrema
            mn, mx = None, None
        v = rows["value"].to_numpy(dtype=np.float64)
        out = None
        need = seg_size - cnt  # values that close the open segment
        if cnt + len(v) < seg_size:  # batch only extends it
            cnt += len(v)
            bmn, bmx = v.min(), v.max()
            mn = bmn if mn is None or bmn < mn else mn
            mx = bmx if mx is None or bmx > mx else mx
            sm += v.sum()
        else:
            # end offset (exclusive) of every segment completed in v
            cuts = np.arange(need, len(v) + 1, seg_size)
            bounds = np.concatenate(([0], cuts))[:-1]
            body = v[: cuts[-1]]
            sums = np.add.reduceat(body, bounds)
            mins = np.minimum.reduceat(body, bounds)
            maxs = np.maximum.reduceat(body, bounds)
            sums[0] += sm  # fold the carried partial segment into #0
            if mn is not None:
                mins[0] = min(mins[0], mn)
                maxs[0] = max(maxs[0], mx)
            n_seg = len(cuts)
            out = pd.DataFrame(
                {
                    "user_id": np.full(n_seg, uid, dtype=np.int64),
                    "seg_idx": seg_idx + np.arange(n_seg, dtype=np.int64),
                    "cnt": np.full(n_seg, seg_size, dtype=np.int64),
                    "seg_min": mins,
                    "seg_max": maxs,
                    "seg_sum": sums,
                }
            )
            seg_idx += n_seg
            tail = v[cuts[-1]:]
            cnt = len(tail)
            if cnt:
                mn, mx, sm = tail.min(), tail.max(), tail.sum()
            else:
                mn, mx, sm = None, None, 0.0
        return out, (seg_idx, cnt, mn if mn is not None else 0.0,
                     mx if mx is not None else 0.0, sm)

    def flush(uid, state):
        import pandas as pd

        if not state[1]:  # nothing open to flush
            return None
        return pd.DataFrame(
            [(uid, *state)],
            columns=["user_id", "seg_idx", "cnt", "seg_min", "seg_max",
                     "seg_sum"],
        )

    return chunk, flush


def make_chunk(seg_size: int, idle_timeout_ms: int | None = None):
    """The stream runner's (key, pdfs, state) callable for
    segment_step; with `idle_timeout_ms`, an idle signal flushes its
    partial segment and clears its state."""
    return carry_scan_fn(*segment_step(seg_size), idle_timeout_ms)


def segment_stats_stream(
    events: DataFrame,
    segment_size: int = SEGMENT_SIZE,
    idle_timeout_ms: int | None = None,
) -> DataFrame:
    """events stream (user_id, ts, value, ...) → stream of completed
    per-signal segment AggStats rows. `idle_timeout_ms` enables
    cold-signal eviction (processing-time timeout → partial-segment
    flush; see segment_step)."""
    step, flush = segment_step(segment_size)
    return stateful_stream_scan(
        events, step, SEGMENT_SCHEMA, STATE_SCHEMA, flush, idle_timeout_ms
    )
