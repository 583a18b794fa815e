"""Streamed OHLC maintenance parity: per-micro-batch endpoint
partials, merged at read, must equal the one-shot batch bars EXACTLY —
min/max over lexicographic struct keys are associative, so no row
partitioning can change any bar. A crash inside a checkpoint log write
replays its batch once."""

from __future__ import annotations

import os
import shutil
import uuid

import pandas as pd
from pyspark.sql import functions as F

from tests.conftest import SF_DIR
from timeseriesdb_spark.api import SignalEngine
from timeseriesdb_spark.operators.tsanalytics import (
    merge_ohlc,
    ohlc_partials,
    q_ohlc,
)
from timeseriesdb_spark.tables import load_table

COLS = ["user_id", "day", "open", "high", "low", "close", "n_samples"]


def _bars_pdf(df) -> pd.DataFrame:
    return (
        df.select(*COLS)
        .toPandas()
        .sort_values(["user_id", "day"])
        .reset_index(drop=True)
    )


def test_partial_merge_equals_direct(spark):
    """Partials from an arbitrary repartitioning merge to the exact
    window-based bars (the associativity property itself)."""
    ev = load_table(spark, SF_DIR, "events")
    chunked = ev.repartition(7, "event_id")  # scatter rows arbitrarily
    got = _bars_pdf(merge_ohlc(ohlc_partials(chunked)))
    exp = _bars_pdf(q_ohlc(spark, SF_DIR))
    pd.testing.assert_frame_equal(got, exp, check_dtype=False)


def test_streamed_ohlc_equals_batch(spark, tmp_path):
    src = str(tmp_path / "src")
    bars = str(tmp_path / "bars")
    ckpt = str(tmp_path / "ckpt")

    ev = load_table(spark, SF_DIR, "events").select(
        "user_id", "event_id", "ts", "value"
    )
    lo, hi = ev.agg(F.min("ts"), F.max("ts")).first()
    edges = pd.date_range(lo, hi, periods=5)
    for i in range(4):
        chunk = ev.filter(
            (F.col("ts") >= str(edges[i]))
            & (F.col("ts") < str(edges[i + 1]) if i < 3 else F.lit(True))
        )
        chunk.coalesce(1).write.mode("append").parquet(src)

    eng = SignalEngine(spark, str(tmp_path / "store"))
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = eng.maintain_ohlc_stream(stream, bars, ckpt)
    q.awaitTermination(180)

    got = _bars_pdf(eng.ohlc_bars(bars))
    exp = _bars_pdf(q_ohlc(spark, SF_DIR))
    assert len(got) == len(exp) > 0
    pd.testing.assert_frame_equal(got, exp, check_dtype=False)

    # Compaction invariance: collapsing the batch partitions must not
    # change a single bar (the merge is the sketch's own combine).
    n = eng.compact_partials(bars, "ohlc")
    assert n >= 4
    pd.testing.assert_frame_equal(
        _bars_pdf(eng.ohlc_bars(bars)), exp, check_dtype=False
    )


def test_checkpoint_crash_mid_write_replays_once(spark, tmp_path):
    """A crash inside a checkpoint log write. Each log entry `<n>` is
    written to `.<n>.<uuid>.tmp` (plus its `.crc`) and then renamed; a
    crash between the two leaves the temp file and no `<n>`. Lose
    commits/3 that way after a 4-batch run, leave the same stray in
    offsets/, and restart on the same checkpoint: batch 3 runs again
    once, into its own partition, no temp file is read as a log entry,
    and the bars equal a clean run."""
    ev = load_table(spark, SF_DIR, "events").select(
        "user_id", "event_id", "ts", "value"
    )
    src = str(tmp_path / "src")
    quarter = F.pmod(F.xxhash64("event_id"), F.lit(4))
    for i in range(4):
        ev.filter(quarter == i).coalesce(1).write.mode("append").parquet(src)
    eng = SignalEngine(spark, str(tmp_path / "store"))

    def run(bars: str, ckpt: str) -> list[int]:
        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = eng.maintain_ohlc_stream(stream, bars, ckpt)
        q.awaitTermination(180)
        return [p["batchId"] for p in q.recentProgress]

    ref = str(tmp_path / "ref")
    assert run(ref, str(tmp_path / "ck_ref")) == [0, 1, 2, 3]
    bars, ckpt = str(tmp_path / "bars"), str(tmp_path / "ck")
    assert run(bars, ckpt) == [0, 1, 2, 3]

    def strand(log: str, move: bool) -> None:
        d = os.path.join(ckpt, log)
        tmp = f".3.{uuid.uuid4()}.tmp"
        put = os.rename if move else shutil.copyfile
        put(os.path.join(d, "3"), os.path.join(d, tmp))
        put(os.path.join(d, ".3.crc"), os.path.join(d, f".{tmp}.crc"))

    strand("offsets", move=False)
    strand("commits", move=True)
    assert run(bars, ckpt) == [3]

    def entries(log: str) -> list[str]:
        return sorted(n for n in os.listdir(os.path.join(ckpt, log))
                      if not n.startswith("."))

    assert entries("commits") == entries("offsets") == ["0", "1", "2", "3"]
    parts = sorted(d for d in os.listdir(bars) if d.startswith("batch_id="))
    assert parts == [f"batch_id={i}" for i in range(4)]

    def files(store: str) -> list[str]:
        return sorted(n for n in os.listdir(f"{store}/batch_id=3")
                      if n.endswith(".parquet"))

    assert len(files(bars)) == len(files(ref))  # replaced, not appended
    pd.testing.assert_frame_equal(
        _bars_pdf(eng.ohlc_bars(bars)), _bars_pdf(eng.ohlc_bars(ref)),
        check_dtype=False,
    )
