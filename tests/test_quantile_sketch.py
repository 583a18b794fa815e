"""Quantile-sketch tier: fixed-grid integer-bucket partials per
(signal, day). Pins (a) merge==direct (the tier is linear), (b) the
grid-exactness invariant — the sketch answer IS the bucket of the
true rank-⌈p·N⌉ value, because bucketing is monotone — (c) streamed
maintenance == batch, and (d) compaction invariance + continued
mergeability with post-compaction partials."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from tests.conftest import SF_DIR
from timeseriesdb_spark.api import SignalEngine
from timeseriesdb_spark.operators.aggregates import (
    QSK_PS,
    QSK_SCALE,
    q_quantile_rollup,
    qsk_day_buckets,
    quantiles_from_buckets,
)
from timeseriesdb_spark.tables import load_table


def _sorted(df) -> pd.DataFrame:
    return (
        df.toPandas()
        .sort_values(["user_id", "p_micros"])
        .reset_index(drop=True)
    )


def test_merge_equals_direct(spark):
    direct = quantiles_from_buckets(
        load_table(spark, SF_DIR, "events")
        .groupBy(
            "user_id",
            F.floor(F.col("value") * QSK_SCALE).cast("bigint").alias(
                "bucket"
            ),
        )
        .agg(F.count("*").alias("n"))
    )
    merged = q_quantile_rollup(spark, SF_DIR)
    pd.testing.assert_frame_equal(
        _sorted(merged), _sorted(direct), check_dtype=False
    )


def test_grid_exactness_invariant(spark):
    """q_bucket == floor(q·SCALE) of the TRUE lower quantile q at
    rank ⌈p·N⌉ — the sketch is exact to one grid cell, not merely
    close."""
    ev = (
        load_table(spark, SF_DIR, "events")
        .select("user_id", "value")
        .toPandas()
    )
    got = _sorted(q_quantile_rollup(spark, SF_DIR))
    assert len(got) > 0
    by_sig = {
        uid: g["value"].sort_values().to_numpy()
        for uid, g in ev.groupby("user_id")
    }
    for row in got.itertuples(index=False):
        vals = by_sig[row.user_id]
        n = len(vals)
        assert row.n_total == n
        rank = -(-row.p_micros * n // 1_000_000)  # ceil
        true_q = vals[rank - 1]
        assert row.q_bucket == int(true_q * QSK_SCALE // 1), (
            row,
            true_q,
        )


def test_quantile_bounds_monotone(spark):
    """p50 <= p90 <= p99 per signal, and every answer bucket holds at
    least one observed value."""
    got = _sorted(q_quantile_rollup(spark, SF_DIR))
    for _, g in got.groupby("user_id"):
        g = g.sort_values("p_micros")
        qs = g["q_bucket"].to_numpy()
        assert (qs[:-1] <= qs[1:]).all()
    assert set(got["p_micros"]) == set(QSK_PS)


def test_streamed_quantiles_equal_batch(spark, tmp_path):
    src = str(tmp_path / "src")
    tier = str(tmp_path / "qsk")
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
    q = eng.maintain_quantile_stream(stream, tier, ckpt)
    q.awaitTermination(180)

    got = _sorted(eng.quantile_estimates(tier))
    exp = _sorted(q_quantile_rollup(spark, SF_DIR))
    assert len(got) == len(exp) > 0
    pd.testing.assert_frame_equal(got, exp, check_dtype=False)

    # compaction invariance: the tier is linear — collapsing batch
    # partitions cannot change any bucket count or quantile
    n = eng.compact_partials(tier, "qsk")
    assert n >= 4
    pd.testing.assert_frame_equal(
        _sorted(eng.quantile_estimates(tier)), got, check_dtype=False
    )

    # a partial streamed AFTER compaction (an id above the generation's
    # high-water) still merges on top: feed the same rows again ->
    # counts double, every bucket answer at the same rank fraction is
    # unchanged
    qsk_day_buckets(ev).write.mode("overwrite").parquet(
        f"{tier}/batch_id=1000"
    )
    doubled = _sorted(eng.quantile_estimates(tier))
    assert (doubled["n_total"] == 2 * got["n_total"]).all()
    pd.testing.assert_frame_equal(
        doubled[["user_id", "p_micros", "q_bucket"]],
        got[["user_id", "p_micros", "q_bucket"]],
        check_dtype=False,
    )
