#!/usr/bin/env python
"""Weak-scaling probe for the STREAMED drift-feature maintenance
(SignalEngine.maintain_drift_feature_stream): replay the scaled events
(the scale_probe.py ×1/×4/×16 replicas) as 4 time-ordered micro-batches
with a fresh checkpoint per rep, and time (a) the maintenance drain
(stateful position carry + partials write) and (b) the drift_scores
finalize (merge partials → label → agree; bench.run_once). Median of
$SPARK_TSDB_BENCH_RUNS.

Prints the markdown rows appended to SCALING.md's streamed-drift
section. The scaled dirs must exist (run scale_probe.py first, or any
prior run that left /tmp/scale_probe/x{k}/events.parquet/_SUCCESS).
"""
from __future__ import annotations

import os
import shutil
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pandas as pd  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from bench import N_RUNS, run_once  # noqa: E402
from timeseriesdb_spark.api import SignalEngine  # noqa: E402
from timeseriesdb_spark.session import get_spark  # noqa: E402
from timeseriesdb_spark.tables import load_table  # noqa: E402

FACTORS = [1, 4, 16]
SCRATCH = "/tmp/drift_stream_probe"
SCALED = "/tmp/scale_probe"


def stage_time_chunks(spark, sf_dir: str, dst: str, n_chunks: int = 4):
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "value"
    )
    lo, hi = ev.agg(F.min("ts"), F.max("ts")).first()
    edges = pd.date_range(lo, hi, periods=n_chunks + 1)
    for i in range(n_chunks):
        chunk = ev.filter(
            (F.col("ts") >= str(edges[i]))
            & (
                F.col("ts") < str(edges[i + 1])
                if i < n_chunks - 1
                else F.lit(True)
            )
        )
        chunk.coalesce(1).write.mode("append").parquet(dst)
    return ev.schema


def main() -> None:
    spark = get_spark(app_name="drift-stream-probe")
    spark.sparkContext.setLogLevel("ERROR")
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "scale_probe", os.path.join(os.path.dirname(__file__), "scale_probe.py")
    )
    sp = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(sp)

    eng = SignalEngine(spark, f"{SCRATCH}/store")
    out = {}
    for k in FACTORS:
        sf_dir = sp.build_scaled(spark, k)  # cached if a run left it
        src = f"{SCRATCH}/src_x{k}"
        if not os.path.isdir(src):
            schema = stage_time_chunks(spark, sf_dir, src)
        else:
            schema = load_table(spark, sf_dir, "events").select(
                "user_id", "event_id", "ts", "value"
            ).schema
        drains, finals = [], []
        for rep in range(N_RUNS + 1):  # rep 0 is the untimed warm-up
            feat = f"{SCRATCH}/feat_x{k}_r{rep}"
            ckpt = f"{SCRATCH}/ck_x{k}_r{rep}"
            shutil.rmtree(feat, ignore_errors=True)
            shutil.rmtree(ckpt, ignore_errors=True)
            stream = (
                spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(src)
            )
            t0 = time.perf_counter()
            eng.maintain_drift_feature_stream(
                stream, feat, ckpt
            ).awaitTermination(600)
            drain = time.perf_counter() - t0
            _, final = run_once(
                lambda s, d: eng.drift_scores(feat, d, "kmeans"), spark, sf_dir
            )
            if rep > 0:
                drains.append(drain)
                finals.append(final)
        out[k] = (
            statistics.median(drains),
            statistics.median(finals),
        )
        print(f"x{k}: drain {out[k][0]:.3f}s finalize {out[k][1]:.3f}s")
    d1, f1 = out[1]
    print()
    print(
        "| maintenance drain (stateful position carry + partials "
        f"write) | {out[1][0]:.3f} | {out[4][0]:.3f} | "
        f"{out[16][0]:.3f} | {out[16][0] / d1:.1f}× |"
    )
    print(
        "| drift_scores finalize (merge partials → label → agree) "
        f"| {out[1][1]:.3f} | {out[4][1]:.3f} | {out[16][1]:.3f} "
        f"| {out[16][1] / f1:.1f}× |"
    )
    spark.stop()


if __name__ == "__main__":
    main()
