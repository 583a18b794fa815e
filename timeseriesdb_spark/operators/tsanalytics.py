"""Monitoring-grade time-series analytics over the events signal store:
counter rates with reset detection, keyed interval (point-in-window)
joins, EWMA smoothing, and mergeable histogram rollups.

These extend the reference's window/aggregate surface (SURVEY.md
§2.4-2.5 — influx max_groupby windows, AggStats rollups
buffer_pool.rs:757-790) with the operators a Prometheus/Influx-style
consumer of the same data runs daily. All per-signal state rides the
one (user_id) shuffle; nothing orders globally.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from timeseriesdb_spark.operators.common import merge_by
from timeseriesdb_spark.operators.transforms import stateful_grouped_scan
from timeseriesdb_spark.tables import load_table

FOLLOW_MIN = 30     # interval-join window after a trigger event, minutes
EWMA_ALPHA = 0.2    # smoothing factor
HIST_BIN_W = 25.0   # histogram bin width over `value`
# Theil-Sen: per-signal md5-window subsample cap (bounds pair fan-out
# at K²/2 per signal regardless of history length) and the int64-safe
# per-pair value-span bound in cents (span·10¹⁰ must fit in int64).
# 128 (ADVICE r12 — 32 was aggressive): ~8k pairs/signal keeps the
# bound, and signals at or under the cap get the EXACT all-pairs
# estimator (the md5 window passes everything through — at the test
# SFs' ~66 points/signal the cap is a no-op, like KNN_TRAIN_CAP);
# only genuinely long histories pay the subsample variance.
THEILSEN_SAMPLE_CAP = 128
THEILSEN_SPAN_CENTS = 900_000_000


def q_counter_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL-style increase()/rate() with counter-reset handling.

    Per signal, delta = value − lag(value); a negative delta is a
    counter reset, contributing the post-reset value (the PromQL
    rule). Grouped per (signal, day): total increase, reset count,
    and rate = increase / elapsed seconds within the day's samples.

    One shuffle (the per-signal window); the day grouping reuses the
    same partitioning. Deltas are IEEE-exact (double subtraction);
    the sum is decimal so partial-aggregation order can't change the
    result. rate divides two exact quantities once, at the end."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    delta = F.col("value") - F.lag("value").over(w)
    inc = (
        F.when(delta.isNull(), F.lit(0.0))
        .when(delta < 0, F.col("value"))
        .otherwise(delta)
    )
    day = F.date_trunc("day", F.col("ts"))
    return (
        ev.select(
            "user_id",
            day.alias("day"),
            F.round(inc, 6).cast("decimal(38,6)").alias("inc"),
            F.when(delta < 0, 1).otherwise(0).alias("is_reset"),
            F.unix_micros("ts").alias("us"),
        )
        .groupBy("user_id", "day")
        .agg(
            F.sum("inc").cast("double").alias("increase"),
            F.sum("is_reset").alias("n_resets"),
            ((F.max("us") - F.min("us")) / F.lit(1_000_000)).alias(
                "span_sec"
            ),
        )
    )


def q_follow_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed follow-window (point-after-trigger) join: events landing within 30 minutes AFTER a
    purchase by the same user (attribution / "what follows a
    trigger" — the point-in-window join every telemetry store needs;
    the reference's backward-scan-first-match is the degenerate
    last-point case, tsbs/mod.rs:29-48).

    Equi-join on the signal key carries the shuffle; the time-range
    predicate is a residual filter evaluated join-side, so no
    quadratic blow-up beyond each user's own events. For a KEYLESS
    interval join at 100 TB, bucket both sides by coarse time chunk
    (floor(ts/30min)), join on the chunk ± 1, and apply the same
    residual — same plan shape, bounded fan-out."""
    ev = load_table(spark, sf_dir, "events")
    trig = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("t_user"),
            F.col("event_id").alias("trigger_id"),
            F.col("ts").alias("t_ts"),
        )
    )
    follow = ev.alias("e").join(
        trig,
        (F.col("e.user_id") == F.col("t_user"))
        & (F.col("e.ts") > F.col("t_ts"))
        & (
            F.col("e.ts")
            <= F.col("t_ts") + F.expr(f"INTERVAL {FOLLOW_MIN} MINUTES")
        ),
    )
    return follow.groupBy("trigger_id").agg(
        F.count("*").alias("n_follow"),
        F.sum(
            F.round(F.col("e.value"), 6).cast("decimal(38,6)")
        ).cast("double").alias("sum_value"),
    )


def ewma_step(alpha: float):
    """The EWMA carry step (transforms' carry-scan contract), shared by
    the batch q_ewma and the streamed streaming/smoothing.ewma_stream:
    s_0 = v_0; s_t = α·v_t + (1−α)·s_{t−1} (adjust=False). State is
    ONLY the previous smoothed value (s_{t−1},) — one double per
    signal, the minimal carry the recurrence needs. The carry seeds
    pandas' C ewm kernel as a prepended pseudo-value, for which
    adjust=False computes exactly s_t = α·v_t + (1−α)·s_{t−1} from the
    first real row on, so output cut at ANY row boundary (Arrow
    batches, micro-batches) is BIT-IDENTICAL to the one-pass
    recurrence (pinned by tests/test_tsanalytics.py's 7-row-Arrow-batch
    test and tests/test_streaming_smoothing.py's stream == batch)."""

    def step(key, rows, state):
        v = rows["value"].reset_index(drop=True)
        seeded = v if state is None else pd.concat(
            [pd.Series(state), v], ignore_index=True
        )
        s = seeded.ewm(alpha=alpha, adjust=False).mean()
        if state is not None:
            s = s.iloc[1:].reset_index(drop=True)
        out = pd.DataFrame(
            {
                "user_id": rows["user_id"].reset_index(drop=True),
                "event_id": rows["event_id"].reset_index(drop=True),
                "ts": rows["ts"].reset_index(drop=True),
                "ewma": s,
            }
        )
        return out, (float(s.iloc[-1]),)

    return step


def q_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially weighted moving average per signal (α = 0.2,
    adjust=False semantics: s_0 = v_0; s_t = α·v_t + (1−α)·s_{t−1}).

    A linear recurrence is inherently sequential per signal, so this
    is a pandas kernel (Arrow-batched, pandas' C ewm under the hood)
    — the one shape Spark's built-ins can't express — run as
    `ewma_step` through transforms.stateful_grouped_scan: one shuffle
    on the signal key, Python crossed per Arrow batch, and ONLY the
    previous smoothed value carried when a signal straddles batches.
    Per-task memory is one Arrow batch even for a hot signal at
    100 TB — the group is never materialized.

    ORACLE-CHECKED (r8): the recurrence is a fixed sequence of IEEE
    double ops (s ← (1−α)·s + α·v, left-to-right), so a DuckDB
    recursive CTE stepping one row per signal per iteration produces
    bit-identical doubles — emitting FULL precision (no round()) is
    what makes the hash exact, since numpy and DuckDB round()
    disagree on FP ties while raw IEEE arithmetic cannot."""
    ev = load_table(spark, sf_dir, "events")
    return stateful_grouped_scan(
        ev.select("user_id", "event_id", "ts", "value"),
        ewma_step(EWMA_ALPHA),
        "user_id bigint, event_id bigint, ts timestamp, ewma double",
    )


def hist_partials(events: DataFrame) -> DataFrame:
    """Per-(signal, day, bin) equi-width histogram partials — linear
    (a pure count per cell), so partials from ANY row partitioning —
    including per-micro-batch — merge by summing to the exact one-pass
    histogram."""
    bin_ = F.floor(F.col("value") / F.lit(HIST_BIN_W))
    return (
        events.select(
            "user_id",
            F.date_trunc("day", F.col("ts")).alias("day"),
            bin_.alias("bin"),
        )
        .groupBy("user_id", "day", "bin")
        .agg(F.count("*").alias("partial_n"))
    )


def q_histogram_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable distribution sketch: per-(signal, day) equi-width
    histogram partials, merged across days per signal by summing bin
    counts — proven equal to the direct one-pass histogram by the
    oracle. The distribution twin of q_summary_merge's min/max/sum
    rollup: any time-range distribution query (quantiles, outlier
    mass) answers from partials, never a raw re-scan. Emits the
    merged bins plus each signal's cumulative-majority bin (the
    smallest bin where the running count passes half — a median
    estimate with bin resolution, exact integer arithmetic)."""
    ev = load_table(spark, sf_dir, "events")
    daily = hist_partials(ev)
    merged = daily.groupBy("user_id", "bin").agg(
        F.sum("partial_n").alias("n")
    )
    cum = Window.partitionBy("user_id").orderBy("bin").rowsBetween(
        Window.unboundedPreceding, 0
    )
    tot = Window.partitionBy("user_id")
    return (
        merged.withColumn("cum_n", F.sum("n").over(cum))
        .withColumn("total_n", F.sum("n").over(tot))
        .withColumn(
            "is_median_bin",
            (F.col("cum_n") * 2 >= F.col("total_n"))
            & ((F.col("cum_n") - F.col("n")) * 2 < F.col("total_n")),
        )
        .select("user_id", "bin", "n", "cum_n", "is_median_bin")
    )


HOLT_ALPHA = 0.5   # level smoothing
HOLT_BETA = 0.3    # trend smoothing
HOLT_H = 3         # forecast horizon (steps)

def q_holt_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt's linear-trend forecast per signal: double-exponential
    smoothing (l_t = α·v_t + (1−α)(l_{t−1}+b_{t−1});
    b_t = β(l_t−l_{t−1}) + (1−β)b_{t−1}, seeded l_0=v_0,
    b_0=v_1−v_0), then ŷ_{T+h} = l_T + h·b_T for h=1..H — the
    capacity-planning forecast a monitoring store serves next to
    rate() and the seasonal profile.

    Same execution shape as q_ewma: a sequential recurrence per
    signal → stateful_grouped_scan over the one signal-key shuffle,
    carrying ONLY (level, trend) across Arrow chunks — per-task
    memory is one Arrow batch, never a signal's history, and the
    chunked loop is bit-identical to the one-pass form (same float
    ops, same order). Pytest pins the kernel: a perfectly linear
    series forecasts exactly on the line.

    ORACLE-CHECKED (r8): like q_ewma, the state update is a fixed
    IEEE double sequence (l ← α·v + (1−α)(l+b); b ← β(l_new−l_old)
    + (1−β)b), so a DuckDB recursive CTE carrying (level, trend)
    per signal reproduces the final state bitwise; outputs are full
    precision so no round() implementation can disagree."""
    ev = load_table(spark, sf_dir, "events")

    def holt(uid, pdf: pd.DataFrame, state):
        # state = (pending_first_value | None, level, trend): the
        # recurrence continues across Arrow chunks with exactly these
        # two floats (plus the un-seeded first value while a signal
        # has produced only one row) — the same float ops in the same
        # order as the one-pass loop, so chunking is bit-identical.
        import numpy as np

        v = pdf["value"].to_numpy(dtype=np.float64)
        if state is None:
            if len(v) == 1:
                return None, (v[0], None, None)
            level, trend = v[0], v[1] - v[0]
            rest = v[1:]
        elif state[1] is None:
            first = state[0]
            level, trend = first, v[0] - first
            rest = v
        else:
            _, level, trend = state
            rest = v
        for x in rest:
            prev = level
            level = HOLT_ALPHA * x + (1 - HOLT_ALPHA) * (level + trend)
            trend = HOLT_BETA * (level - prev) + (1 - HOLT_BETA) * trend
        return None, (None, level, trend)

    def forecast(uid, state):
        import numpy as np

        if state is None or state[1] is None:  # fewer than 2 samples
            return None
        _, level, trend = state
        hs = np.arange(1, HOLT_H + 1, dtype=np.int64)
        return pd.DataFrame(
            {
                "user_id": np.full(HOLT_H, int(uid), dtype=np.int64),
                "h": hs,
                "forecast": level + hs * trend,
                "level": np.full(HOLT_H, level),
                "trend": np.full(HOLT_H, trend),
            }
        )

    return stateful_grouped_scan(
        ev.select("user_id", "event_id", "ts", "value"),
        holt,
        "user_id bigint, h bigint, forecast double, level double, trend double",
        finalize=forecast,
    )


STL_K = 12  # centered trend half-window (rows)


def q_stl_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STL-style additive decomposition: value = trend + seasonal +
    residual. Trend is a centered ±K-row moving mean per signal
    (decimal window sum / count, the q_moving_avg discipline —
    sliding float accumulation differs between engines); seasonal is
    the per-(signal, hour-of-day) mean of the detrended series (the
    q_seasonal_profile axis); residual is what remains. The full
    decomposition the reference's lossy tiers (PAA trend, seasonal
    profile) each approximate one component of.

    Two shuffles: the per-signal window, then the (signal, hour)
    partial agg; the seasonal join keys on (signal, hour) so AQE
    reuses/broadcasts per stats. Every division is double/int over
    engine-identical operands — bit-stable without a UDF."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-STL_K, STL_K)
    )
    # Means below are round-half-up(u / (1e6·n), 6) in pure integer
    # arithmetic: engine round(double) disagrees exactly at half-way
    # quotients (the q_idf_rarity lesson), and detrended values are
    # signed, so the division is sign-branched (half AWAY from zero).
    u_t = (
        F.sum(F.col("value").cast("decimal(38,6)")).over(w)
        * F.lit(1_000_000)
    ).cast("long")
    c_t = F.count("value").over(w)
    base = (
        ev.select(
            "user_id",
            "event_id",
            F.hour("ts").alias("hr"),
            "value",
            u_t.alias("_ut"),
            c_t.alias("_ct"),
        )
        .withColumn(
            "_qt",
            F.when(
                F.col("_ut") >= 0,
                F.expr("(2 * _ut + _ct) div (2 * _ct)"),
            ).otherwise(F.expr("-((2 * -_ut + _ct) div (2 * _ct))")),
        )
        .withColumn("trend", F.col("_qt").cast("double") / F.lit(1e6))
        .withColumn("detr", F.col("value") - F.col("trend"))
    )
    seasonal = (
        base.select(
            "user_id",
            "hr",
            F.round("detr", 6).cast("decimal(38,6)").alias("rd"),
        )
        .groupBy("user_id", "hr")
        .agg(
            (F.sum("rd") * F.lit(1_000_000)).cast("long").alias("_us"),
            F.count("*").alias("_cs"),
        )
        .withColumn(
            "_qs",
            F.when(
                F.col("_us") >= 0,
                F.expr("(2 * _us + _cs) div (2 * _cs)"),
            ).otherwise(F.expr("-((2 * -_us + _cs) div (2 * _cs))")),
        )
        .select(
            "user_id",
            "hr",
            (F.col("_qs").cast("double") / F.lit(1e6)).alias("seasonal"),
        )
    )
    return (
        base.join(seasonal, ["user_id", "hr"])
        .select(
            "user_id",
            "event_id",
            "trend",
            "seasonal",
            # + 0.0 folds round()'s -0.0 to 0.0 (repr-hash parity)
            (F.round(F.col("detr") - F.col("seasonal"), 6) + F.lit(0.0)).alias(
                "resid"
            ),
        )
    )


def q_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average per (signal, day): trapezoidal
    integration over irregular samples — Σ (v_i + v_{i−1})/2 · Δt_i
    divided by the covered span. THE aggregate a plain avg() gets
    wrong on irregular series (a burst of samples at one level must
    not outweigh a long quiet stretch); the canonical TSDB operator
    (Influx/Timescale time_weight) the reference's regular-rate
    generators never needed.

    Exactness chain — PURE INTEGER accumulation (no per-row round of
    an arbitrary double, which ties at grid boundaries): values sit on
    the 0.01 grid, so v·100 is an exact bigint, Δt is integer µs, each
    trapezoid term (v+pv)·Δt_us is a bigint product, and the day sums
    are bigint — associative, overflow-safe (≤ 1e5 value-units × µs
    per covered second), engine-identical at any parallelism. The only
    float ops are two final divisions of identical operands. One
    signal-key window shuffle; the day grouping reuses it.
    Day-boundary segments attribute to the later row's day (the
    counter_rate convention)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros("ts")
    vu = F.round(F.col("value") * 100).cast("long")  # exact: 0.01 grid
    prev_vu = F.lag(vu).over(w)
    prev_us = F.lag(us).over(w)
    dt_us = us - prev_us
    day = F.date_trunc("day", F.col("ts"))
    return (
        ev.select(
            "user_id",
            day.alias("day"),
            ((vu + prev_vu) * dt_us).alias("term_u"),
            F.coalesce(dt_us, F.lit(0)).alias("dt_us"),
        )
        .groupBy("user_id", "day")
        .agg(
            F.sum("term_u").alias("_tu"),
            F.sum("dt_us").alias("_du"),
        )
        .where(F.col("_du") > 0)
        .select(
            "user_id",
            "day",
            # term_u is in (value·100)·µs; /2 (trapezoid) /100 /1e6
            (F.col("_tu").cast("double") / F.lit(2e8)).alias(
                "weighted_area"
            ),
            (F.col("_du").cast("double") / F.lit(1e6)).alias("span_s"),
            F.round(
                (F.col("_tu").cast("double") / F.lit(200.0))
                / F.col("_du").cast("double"),
                6,
            ).alias("twa"),
        )
    )


def q_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC (open/high/low/close) candlestick bars per (signal, day) —
    the financial/monitoring downsample every TSDB ships
    (Influx FIRST/LAST/MIN/MAX, Timescale candlestick_agg); the
    richer sibling of the reference's per-segment AggStats
    (buffer_pool.rs:757-790: min/max/sum/count but no endpoints).

    First/last need a deterministic total order: row_number over
    (ts, event_id) both directions inside the one (signal, day)
    window shuffle; min/max/count ride the same grouping. Values pass
    through untouched (no float arithmetic), so the bars are exact.
    At 100 TB this runs per time-partition with the same plan — the
    window and the groupBy share one partitioning."""
    ev = load_table(spark, sf_dir, "events")
    # Project `day` BEFORE the windows so the window partitioning
    # attribute survives into the groupBy — Catalyst then reuses the
    # one (user_id, day) exchange for windows AND aggregation
    # (partitioning on the raw date_trunc(ts) expression dies with the
    # projection and forces a second shuffle — tests/test_plans.py).
    base = ev.select(
        "user_id",
        F.date_trunc("day", F.col("ts")).alias("day"),
        "ts",
        "event_id",
        "value",
    )
    wa = Window.partitionBy("user_id", "day").orderBy("ts", "event_id")
    wd = Window.partitionBy("user_id", "day").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        base.select(
            "user_id",
            "day",
            "value",
            F.row_number().over(wa).alias("rn_a"),
            F.row_number().over(wd).alias("rn_d"),
        )
        .groupBy("user_id", "day")
        .agg(
            F.max(F.when(F.col("rn_a") == 1, F.col("value"))).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max(F.when(F.col("rn_d") == 1, F.col("value"))).alias("close"),
            F.count("*").alias("n_samples"),
        )
    )


def ohlc_partials(events: DataFrame) -> DataFrame:
    """Mergeable OHLC partials per (signal, day): min/max over
    struct(us, event_id, value) carry the endpoint VALUES inside the
    lexicographic key ((us, event_id) is unique, so the struct order
    is total and the third field rides along) — the same
    carry-the-argmin trick as AggStats, extended to endpoints. Partials
    from any row partitioning merge associatively: min of mins, max of
    maxes, sum of counts."""
    us = F.unix_micros("ts")
    key = F.struct(
        us.alias("us"),
        F.col("event_id").alias("eid"),
        F.col("value").alias("v"),
    )
    return (
        events.groupBy(
            "user_id", F.date_trunc("day", F.col("ts")).alias("day")
        )
        .agg(
            F.min(key).alias("okey"),
            F.max(key).alias("ckey"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.count("*").alias("n_samples"),
        )
    )


# the associative OHLC combine: min of mins, max of maxes, sum of counts
combine_ohlc = merge_by(
    ("user_id", "day"),
    okey="min", ckey="max", high="max", low="min", n_samples="sum",
)


def merge_ohlc(partials: DataFrame) -> DataFrame:
    """Combine OHLC partials (associative) and project the bars —
    identical output contract to q_ohlc."""
    return combine_ohlc(partials).select(
        "user_id",
        "day",
        F.col("okey.v").alias("open"),
        "high",
        "low",
        F.col("ckey.v").alias("close"),
        "n_samples",
    )


SLO_LONG_S = 21600  # long burn window: 6 hours, in epoch seconds


def q_slo_burn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-window SLO burn rate (the Google SRE workbook alert
    shape): per hour, the error-event ratio, the enclosing 6-hour
    window's ratio, and burn = short/long — a fast-burning error
    budget shows burn ≫ 1 while the long window is still calm.

    Both rates divide exact integer counts, and the 6-hour aggregate
    is window-count-sized, so it broadcasts back onto the hour rows
    (no second fact shuffle). The 6-h bucket is emitted as epoch
    seconds (BIGINT) — timezone-free and engine-identical."""
    ev = load_table(spark, sf_dir, "events")
    is_err = (F.col("event_type") == "error").cast("long")
    win6 = (
        F.expr(f"unix_micros(ts) div {SLO_LONG_S * 1_000_000}") * SLO_LONG_S
    ).alias("win6")
    hourly = (
        ev.select(F.date_trunc("hour", "ts").alias("hour"), win6, is_err.alias("e"))
        .groupBy("hour", "win6")
        .agg(F.sum("e").alias("err_1h"), F.count("*").alias("tot_1h"))
    )
    long = (
        ev.select(win6, is_err.alias("e"))
        .groupBy("win6")
        .agg(F.sum("e").alias("err_6h"), F.count("*").alias("tot_6h"))
    )
    rate_1h = F.col("err_1h") / F.col("tot_1h")
    rate_6h = F.col("err_6h") / F.col("tot_6h")
    return (
        hourly.join(F.broadcast(long), "win6")
        .select(
            "hour",
            "win6",
            "err_1h",
            "tot_1h",
            F.round(rate_1h, 6).alias("rate_1h"),
            F.round(rate_6h, 6).alias("rate_6h"),
            # NULL burn when the long window saw zero errors (rate_6h=0)
            F.round(rate_1h / F.nullif(rate_6h, F.lit(0.0)), 6).alias("burn"),
        )
    )


def q_value_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of each signal's value distribution (cents
    grid) in bits — the information-theoretic compressibility bound
    next to q_compressibility's structural stats (the reference's CR
    predictors estimate exactly this compressibility axis,
    cr_predictor.rs:15-107: high entropy ⇒ dictionary/RLE won't
    help).

    Two aggregations sharing the signal key: distinct-value counts,
    then the entropy sum — each term p·log2(p) from exact integer
    counts, rounded to 1e-9 and decimal-summed per signal."""
    ev = load_table(spark, sf_dir, "events")
    vu = F.round(F.col("value") * 100).cast("long")
    counts = ev.groupBy("user_id", vu.alias("vu")).agg(
        F.count("*").alias("c")
    )
    wn = Window.partitionBy("user_id")
    p = F.col("c").cast("double") / F.sum("c").over(wn).cast("double")
    term = F.round(-p * F.log2(p), 9)
    return (
        counts.select(
            "user_id", term.alias("t"), F.col("c").alias("c")
        )
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_distinct"),
            F.sum("c").alias("n"),
            F.round(
                F.sum(F.col("t").cast("decimal(38,9)")).cast("double"), 6
            ).alias("entropy_bits"),
        )
    )


def q_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burstiness (Fano factor) per signal: variance/mean of the
    per-hour event counts — Poisson arrivals give 1.0, bursty
    telemetry ≫ 1 (the workload-characterization knob behind buffer
    sizing, buffer_pool.rs batch thresholds). All moments are exact
    integer sums over the (signal, hour) count frame; the index
    divides exact quantities once."""
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "user_id", F.date_trunc("hour", F.col("ts")).alias("h")
    ).agg(F.count("*").alias("c"))
    n = F.count("*").cast("double")
    sx = F.sum("c").cast("double")
    sxx = F.sum(F.col("c") * F.col("c")).cast("double")
    mean = sx / n
    var = (n * sxx - sx * sx) / (n * n)
    return hourly.groupBy("user_id").agg(
        F.count("*").alias("n_hours"),
        F.sum("c").alias("n_events"),
        F.round(mean, 6).alias("mean_per_hour"),
        F.round(var / mean, 6).alias("fano"),
    )


ANOM_K = 2.0  # seasonal anomaly threshold, in baseline sd units


def q_anomaly_seasonal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal anomaly detection in batch: events more than 2·sd from
    their signal's hour-of-day baseline — "is this value high FOR
    3am". Reuses streaming/ingest.seasonal_baseline (the SAME function
    the streaming flag path broadcasts), so the batch oracle check
    pins the streamed flags' arithmetic too.

    The baseline is (signals × 24)-sized → broadcast back onto the
    events scan; one aggregation shuffle total. mu/sd come from
    decimal component sums, so the flag comparison sees engine-
    identical doubles."""
    from timeseriesdb_spark.streaming.ingest import seasonal_baseline

    ev = load_table(spark, sf_dir, "events")
    base = seasonal_baseline(ev).withColumnRenamed("user_id", "b_uid")
    hr = F.hour("ts").cast("bigint")
    z = (F.col("value") - F.col("mu")) / F.col("sd")
    return (
        ev.join(
            F.broadcast(base),
            (F.col("user_id") == F.col("b_uid"))
            & (hr == F.col("hour_of_day")),
        )
        .where(F.abs(F.col("value") - F.col("mu")) > ANOM_K * F.col("sd"))
        .select(
            "user_id",
            "event_id",
            "ts",
            "value",
            F.round("mu", 6).alias("mu"),
            F.round("sd", 6).alias("sd"),
            F.round(z, 6).alias("z"),
        )
    )


SUSTAIN_TH = 100.0  # alert threshold on value
SUSTAIN_K = 2       # minimum consecutive breaching samples


def q_sustained_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sustained-threshold alerting: per signal, maximal runs of ≥2
    consecutive samples above the threshold — the "for: 2m"
    debouncing clause of a Prometheus alert rule, and the
    gaps-and-islands sibling of q_run_lengths (value runs,
    split_double.rs:1164's majority-run structure).

    Islands via the rn − conditional-rn trick: two row_numbers in the
    SAME signal-key window partitioning, so detection is one shuffle;
    the per-episode aggregate reuses it. Endpoints/extremes pass
    through exactly (no float arithmetic)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    hot = (
        ev.select(
            "user_id",
            "ts",
            "value",
            F.row_number().over(w).alias("rn"),
        )
        .where(F.col("value") > SUSTAIN_TH)
    )
    wf = Window.partitionBy("user_id").orderBy("rn")
    episodes = hot.select(
        "user_id",
        "ts",
        "value",
        (F.col("rn") - F.row_number().over(wf)).alias("grp"),
    )
    return (
        episodes.groupBy("user_id", "grp")
        .agg(
            F.min("ts").alias("start_ts"),
            F.max("ts").alias("end_ts"),
            F.count("*").alias("n_samples"),
            F.max("value").alias("peak_value"),
        )
        .where(F.col("n_samples") >= SUSTAIN_K)
        .drop("grp")
    )


XCORR_TOP = 4   # signals entering the pairwise scan
XCORR_LAGS = 4  # lags tested: 0..3 rows


def q_xcorr_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-correlation lag detection between signal pairs: for the
    top-4 signals by sample count, Pearson correlation of the
    row-aligned series at lags 0..3, reporting each pair's best lag —
    the "does A lead B?" diagnostic behind alert root-causing
    (the reference's kernel/LCCE NCCC machinery, kernel.rs:22-240 /
    lcce.rs:15-100, is this computation against a dictionary; here it
    runs signal-vs-signal inside the engine).

    Exactness: values sit on the 0.01 grid → ×100 bigint units; all
    five correlation moments (Σx, Σy, Σxy, Σx², Σy²) accumulate in
    DECIMAL(38,0) (order-free; the per-row products fit bigint but a
    top signal's ACCUMULATED Σx² can pass 2⁶³ at scale, and Spark's
    non-ANSI bigint sum would wrap silently — the same discipline as
    q_corr_matrix), and the n·Σxy − Σx·Σy combination stays decimal
    (exact to 1e38; DuckDB mirrors it in HUGEINT — a per-group
    magnitude guard raises if 2·n²·max|x|·max|y| approaches that
    bound, so overflow is detected, never a silent NULL). The final Pearson
    formula is IEEE-identical in both engines from identical exact
    integers (sqrt/division are correctly-rounded ops). The rank over
    (corr desc, lag) is therefore also engine-identical.

    Scale: only the top-k signals' rows survive the broadcast
    semi-join, each series shuffles once for its row_number, and the
    lag alignment is lead() inside the same window — the pair join is
    k²-bounded, never fact×fact."""
    ev = load_table(spark, sf_dir, "events")
    top = (
        ev.groupBy("user_id")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), F.col("user_id"))
        .limit(XCORR_TOP)
        .select("user_id")
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    series = (
        ev.join(F.broadcast(top), "user_id", "semi")
        .select(
            "user_id",
            F.row_number().over(w).alias("rn"),
            F.round(F.col("value") * 100).cast("long").alias("vu"),
        )
    )
    leads = series.select(
        F.col("user_id").alias("ub"),
        "rn",
        *[
            F.lead("vu", k).over(
                Window.partitionBy("user_id").orderBy("rn")
            ).alias(f"v{k}")
            for k in range(XCORR_LAGS)
        ],
    )
    a = series.select(
        F.col("user_id").alias("ua"), "rn", F.col("vu").alias("x")
    )
    joined = a.join(leads, ["rn"]).where(F.col("ua") < F.col("ub"))
    lagged = joined.select(
        "ua",
        "ub",
        "x",
        F.stack(
            F.lit(XCORR_LAGS),
            *[
                e
                for k in range(XCORR_LAGS)
                for e in (F.lit(k), F.col(f"v{k}"))
            ],
        ).alias("lag", "y"),
    ).where(F.col("y").isNotNull())
    m = (
        lagged.groupBy("ua", "ub", "lag")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("x").cast("decimal(38,0)")).alias("sx"),
            F.sum(F.col("y").cast("decimal(38,0)")).alias("sy"),
            F.sum((F.col("x") * F.col("y")).cast("decimal(38,0)")).alias("sxy"),
            F.sum((F.col("x") * F.col("x")).cast("decimal(38,0)")).alias("sxx"),
            F.sum((F.col("y") * F.col("y")).cast("decimal(38,0)")).alias("syy"),
            F.max(F.abs("x")).alias("mx"),
            F.max(F.abs("y")).alias("my"),
        )
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
        "double"
    )
    den = F.sqrt(
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    ) * F.sqrt(
        (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    )
    # Overflow guard: in non-ANSI Spark a decimal(38,0) combination
    # like n·Σxy − Σx·Σy that passes ~1e38 returns NULL silently
    # (DuckDB's HUGEINT would error at ~1.7e38 — the engines would
    # diverge in that band). The guard must cover ALL THREE
    # combinations — numerator (|n·Σxy|, |Σx·Σy| ≤ n²·mx·my) AND the
    # denominator legs (n·Σxx − Σx² needs n²·mx², n·Σyy − Σy² needs
    # n²·my²). Since mx·my ≤ max(mx,my)², 2·n²·max(mx,my)² < 1e37 (an
    # order of margin) bounds every one of them; otherwise fail loudly
    # instead of ranking a silently-NULLed corr. (Guarding only
    # 2·n²·mx·my would let n·Σxx − Σx² overflow when mx ≫ my.)
    mmax = F.greatest(F.col("mx"), F.col("my")).cast("double")
    headroom = (
        F.lit(2.0)
        * F.pow(F.col("n").cast("double"), F.lit(2.0))
        * mmax
        * mmax
    )
    corr = F.when(
        headroom >= F.lit(1e37),
        F.raise_error(
            F.concat(
                F.lit("q_xcorr_lag: moment magnitude exceeds decimal(38,0) "
                      "headroom for pair ("),
                F.col("ua"), F.lit(","), F.col("ub"),
                F.lit(") — rescale the value grid"),
            )
        ).cast("double"),
    ).otherwise(F.coalesce(num / F.nullif(den, F.lit(0.0)), F.lit(-2.0)))
    scored = m.select("ua", "ub", "lag", "n", corr.alias("corr"))
    ranked = scored.withColumn(
        "rk",
        F.row_number().over(
            Window.partitionBy("ua", "ub").orderBy(
                F.col("corr").desc(), F.col("lag")
            )
        ),
    )
    return ranked.where(F.col("rk") == 1).select(
        "ua", "ub", F.col("lag").alias("best_lag"), "n", "corr"
    )


HW_ALPHA = 0.3   # Holt-Winters level smoothing
HW_BETA = 0.1    # trend smoothing
HW_GAMMA = 0.2   # seasonal smoothing
HW_M = 7         # season length (daily series, weekly season)
HW_H = 7         # forecast horizon (one season ahead)


def q_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt-Winters additive triple exponential smoothing — the top of
    the forecasting ladder (EWMA → Holt → this): level + trend +
    m=7 seasonal slots over each signal's DAILY CLOSE series, then a
    one-season-ahead forecast ŷ_{T+h} = l_T + h·b_T + s_{T+h−m}.
    The input is pure SELECTION (last value per signal-day), so no
    arithmetic enters before the recurrence.

    Seeding (classic): l = mean of the first m closes (sequential
    left-assoc sum), b = 0, s_i = v_i − l; the recurrence runs from
    sample m+1. Seasonality is POSITION-based (every m-th sample);
    on a gappy calendar, regularize with q_resample_locf first.

    ORACLE-CHECKED like q_ewma/q_holt_forecast: every update is a
    fixed IEEE double chain — l ← α(v−s_k) + (1−α)(l+b);
    b ← β(l_new−l) + (1−β)b; s_k ← γ(v−l_new) + (1−γ)s_k — so a
    DuckDB recursive CTE carrying (level, trend, s1..s7) as columns
    replays the final state bitwise; outputs are full precision.

    Scale shape: one (signal, day) exchange for the close selection,
    then the stateful_grouped_scan discipline — state is 2 + m
    doubles per signal, per-task memory one Arrow batch, bit-identical
    across chunk seams (the streaming-kernel guarantee)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", F.date_trunc("day", F.col("ts"))).orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    daily = (
        ev.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "user_id",
            F.date_trunc("day", F.col("ts")).alias("ts"),
            "event_id",
            F.col("value").alias("close"),
        )
    )

    def hw(uid, pdf: pd.DataFrame, state):
        import numpy as np

        v = pdf["close"].to_numpy(dtype=np.float64)
        if state is None:
            buf, l, b, s, t = [], None, None, None, 0
        else:
            buf, l, b, s, t = state
            buf, s = list(buf), (list(s) if s is not None else None)
        i = 0
        if l is None:
            take = min(HW_M - len(buf), len(v))
            buf.extend(float(x) for x in v[:take])
            i = take
            if len(buf) < HW_M:
                return None, (tuple(buf), None, None, None, len(buf))
            acc = buf[0]
            for x in buf[1:]:
                acc = acc + x
            l = acc / float(HW_M)
            b = 0.0
            s = [x - l for x in buf]
            t = HW_M
        for x in v[i:]:
            t += 1
            k = (t - 1) % HW_M
            prev_l = l
            l = HW_ALPHA * (x - s[k]) + (1 - HW_ALPHA) * (prev_l + b)
            b = HW_BETA * (l - prev_l) + (1 - HW_BETA) * b
            s[k] = HW_GAMMA * (x - l) + (1 - HW_GAMMA) * s[k]
        return None, (tuple(buf), l, b, tuple(s), t)

    def forecast(uid, state):
        if state is None or state[1] is None:
            return None
        _, l, b, s, t = state
        rows = []
        for h in range(1, HW_H + 1):
            k = (t + h - 1) % HW_M
            rows.append(
                (int(uid), h, l + float(h) * b + s[k], l, b, s[k])
            )
        return pd.DataFrame(
            rows,
            columns=[
                "user_id", "h", "forecast", "level", "trend", "seasonal",
            ],
        )

    return stateful_grouped_scan(
        daily,
        hw,
        "user_id bigint, h bigint, forecast double, level double, "
        "trend double, seasonal double",
        finalize=forecast,
    )


def _hw_oracle_sql() -> str:
    """Holt-Winters recursive-CTE replay: (level, trend, s1..sm) as
    explicit columns, every update spelled as the identical IEEE
    expression tree the kernel folds (constants via !r so the
    Python-computed 1−α/1−β/1−γ bits embed verbatim)."""
    m, a, b_, g = HW_M, HW_ALPHA, HW_BETA, HW_GAMMA
    sk = (
        f"CASE ((s.rn - 1) % {m}) + 1 "
        + " ".join(f"WHEN {i} THEN r.s{i}" for i in range(1, m + 1))
        + " END"
    )
    lnew = (
        f"(CAST({a!r} AS DOUBLE) * (s.close - {sk}) "
        f"+ CAST({1 - a!r} AS DOUBLE) * (r.level + r.trend))"
    )
    s_cols = ", ".join(
        f"CASE WHEN ((s.rn - 1) % {m}) + 1 = {i} "
        f"THEN CAST({g!r} AS DOUBLE) * (s.close - {lnew}) "
        f"+ CAST({1 - g!r} AS DOUBLE) * r.s{i} ELSE r.s{i} END AS s{i}"
        for i in range(1, m + 1)
    )
    seed_sum = "d1.close"
    for i in range(2, m + 1):
        seed_sum = f"({seed_sum} + d{i}.close)"
    seed_joins = " ".join(
        f"JOIN dseq d{i} ON d{i}.user_id = d1.user_id AND d{i}.rn = {i}"
        for i in range(2, m + 1)
    )
    sk_t = (
        f"CASE ((f.rn + h.h - 1) % {m}) + 1 "
        + " ".join(f"WHEN {i} THEN f.s{i}" for i in range(1, m + 1))
        + " END"
    )
    return f"""
        WITH RECURSIVE daily AS (
            SELECT user_id, day, close FROM (
                SELECT user_id, date_trunc('day', ts) AS day,
                       value AS close,
                       row_number() OVER (
                           PARTITION BY user_id, date_trunc('day', ts)
                           ORDER BY ts DESC, event_id DESC) AS rnc
                FROM events
            ) WHERE rnc = 1
        ),
        dseq AS (
            SELECT user_id, close,
                   row_number() OVER (PARTITION BY user_id
                                      ORDER BY day) AS rn,
                   count(*) OVER (PARTITION BY user_id) AS n
            FROM daily
        ),
        seed0 AS (
            SELECT d1.user_id, d1.n,
                   {seed_sum} / CAST({m} AS DOUBLE) AS level,
                   {", ".join(f"d{i}.close AS c{i}" for i in range(1, m + 1))}
            FROM dseq d1 {seed_joins}
            WHERE d1.rn = 1
        ),
        r AS (
            SELECT user_id, CAST({m} AS BIGINT) AS rn, n, level,
                   CAST(0 AS DOUBLE) AS trend,
                   {", ".join(f"c{i} - level AS s{i}" for i in range(1, m + 1))}
            FROM seed0
            UNION ALL
            SELECT s.user_id, s.rn, r.n,
                   {lnew} AS level,
                   CAST({b_!r} AS DOUBLE) * ({lnew} - r.level)
                       + CAST({1 - b_!r} AS DOUBLE) * r.trend AS trend,
                   {s_cols}
            FROM r JOIN dseq s
              ON s.user_id = r.user_id AND s.rn = r.rn + 1
        )
        SELECT f.user_id, CAST(h.h AS BIGINT) AS h,
               f.level + h.h * f.trend + {sk_t} AS forecast,
               f.level, f.trend, {sk_t} AS seasonal
        FROM r f
        CROSS JOIN (VALUES {", ".join(f"({h})" for h in range(1, HW_H + 1))})
            AS h(h)
        WHERE f.rn = f.n
    """


WM_CHUNK = 4096      # arrival-order bucket width for the prefix-max carry
WM_PCTS = [50, 95, 99]  # exact type-1 lateness percentiles reported


def q_watermark_lateness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time lateness profile — the measurement that SIZES a
    streaming watermark: for every event (arrival order = event_id,
    the ingest sequence), lateness = high-water mark of event time
    seen so far minus this event's own event time. Per event type it
    reports how much of the stream is out-of-order and the exact
    p50/p95/p99 lateness — 'withWatermark(X)' is read straight off
    this table (choose X ≥ p99 to lose <1% of rows to late-drop).

    Scale shape: the global running max is NOT a global sort — it is
    the two-level carry q_running_sum pins (max is associative):
    within-bucket prefix max partitioned by (event_id div WM_CHUNK),
    plus a prefix max over the per-bucket maxima (a frame of
    rows/WM_CHUNK — tiny), broadcast back by bucket. Percentiles are
    rank SELECTION (type 1) over the per-type frame: row_number +
    count ride one event_type exchange; no value arithmetic anywhere,
    so every output is an exact integer."""
    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        "event_id",
        "event_type",
        F.unix_micros("ts").alias("us"),
        F.expr(f"event_id div {WM_CHUNK}").alias("bkt"),
    )
    w_in = (
        Window.partitionBy("bkt")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    within = base.withColumn("in_max", F.max("us").over(w_in))
    w_c = Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)
    carries = (
        base.groupBy("bkt")
        .agg(F.max("us").alias("bmax"))
        .select("bkt", F.max("bmax").over(w_c).alias("carry"))
    )
    late = within.join(F.broadcast(carries), "bkt").select(
        "event_type",
        "event_id",
        (
            F.greatest(
                F.col("in_max"),
                F.coalesce(F.col("carry"), F.lit(-(1 << 62)).cast("long")),
            )
            - F.col("us")
        ).alias("late_us"),
    )
    wt = Window.partitionBy("event_type")
    wr = Window.partitionBy("event_type").orderBy("late_us", "event_id")
    ranked = late.select(
        "event_type",
        "late_us",
        F.row_number().over(wr).alias("rn"),
        F.count("*").over(wt).alias("n"),
    )
    aggs = [
        F.max("n").alias("n_events"),
        F.count(F.when(F.col("late_us") > 0, 1)).alias("n_late"),
        F.max("late_us").alias("max_late_us"),
    ]
    for p in WM_PCTS:
        aggs.append(
            F.max(
                F.when(
                    F.col("rn") == F.expr(f"(n * {p} + 99) div 100"),
                    F.col("late_us"),
                )
            ).alias(f"p{p}_late_us")
        )
    return (
        ranked.groupBy("event_type")
        .agg(*aggs)
        .withColumn(
            "share_late_ppm", F.expr("(n_late * 1000000) div n_events")
        )
    )


def q_theilsen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend per signal: the median of all pairwise
    slopes — the estimator that shrugs off the outliers that wreck
    OLS (up to ~29% contamination), i.e. the trend line you fit on
    dirty telemetry before alerting on drift.

    Exactness: each slope is quantized to an integer — micro-units
    per second, floor((Δcents·10¹⁰)/Δt_us), where the ceil-negation
    identity floor(a/b) = −ceil(−a/b) keeps every div numerator
    non-negative so Spark `div` and DuckDB `//` cannot diverge on
    negative-operand semantics — and the median is rank SELECTION
    (lower median) over those integers, so the result is engine-exact
    with zero float ops. Δcents·10¹⁰ stays ≤10¹⁶ even for a 10⁶-cent
    value span, inside int64.

    Scale shape: the pair fan-out is a self equi-join on user_id, so
    raw cost would be Σᵢ nᵢ² — per-signal HISTORY squared. A hot
    signal with unbounded history would own the stage, so each signal
    is first subsampled to THEILSEN_SAMPLE_CAP points in
    (md5(event_id), event_id) order — the deterministic md5-window
    discipline of DTW_PROBE_CAP / IVF_TRAIN_CAP (similarity.py),
    replayed verbatim in the oracle so both engines rank the SAME
    ≤K²/2 pairs. Theil-Sen on a uniform subsample keeps its ~29%
    breakdown point (the sample inherits the contamination rate), and
    per-signal work is now O(K²) regardless of history length.

    Overflow contract: Δcents·10¹⁰ must stay inside int64, i.e. the
    per-pair value span ≤ THEILSEN_SPAN_CENTS (9·10⁸ cents = $9M).
    Beyond that, non-ANSI Spark would wrap silently while DuckDB
    raises — so BOTH engines guard the span explicitly and fail
    loudly and identically (raise_error / error) instead of
    diverging."""
    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        "user_id",
        F.unix_micros("ts").alias("us"),
        F.round(F.col("value") * 100).cast("long").alias("vu"),
        "event_id",
    )
    ws = Window.partitionBy("user_id").orderBy(
        F.md5(F.col("event_id").cast("string")), "event_id"
    )
    # localCheckpoint: the capped frame (≤K rows/signal) materializes
    # ONCE, so the self-join reads it twice instead of running the
    # fact scan + md5 window per side — one fact scan at any scale
    # (the decision-frame pattern; measured ~10% at sf0.1, and at
    # 100 TB it halves the query's scan volume)
    e = (
        e.withColumn("srn", F.row_number().over(ws))
        .where(F.col("srn") <= THEILSEN_SAMPLE_CAP)
        .drop("srn")
        .localCheckpoint()
    )
    l = e.select(
        "user_id",
        F.col("us").alias("us1"),
        F.col("vu").alias("v1"),
        F.col("event_id").alias("id1"),
    )
    r = e.select(
        "user_id",
        F.col("us").alias("us2"),
        F.col("vu").alias("v2"),
        F.col("event_id").alias("id2"),
    )
    # strict time order: equal-timestamp pairs have no slope (Δt = 0)
    pairs = l.join(r, "user_id").where(F.col("us1") < F.col("us2"))
    slope = F.expr(
        f"CASE WHEN abs(v2 - v1) > {THEILSEN_SPAN_CENTS} "
        "THEN CAST(raise_error('q_theilsen_trend: per-pair value span "
        "exceeds the int64-safe bound (THEILSEN_SPAN_CENTS)') AS BIGINT) "
        "WHEN (v2 - v1) >= 0 "
        "THEN ((v2 - v1) * 10000000000) div (us2 - us1) "
        "ELSE -((-((v2 - v1) * 10000000000) + (us2 - us1) - 1) "
        "div (us2 - us1)) END"
    )
    sl = pairs.select("user_id", "id1", "id2", slope.alias("slope_micro"))
    wr = Window.partitionBy("user_id").orderBy("slope_micro", "id1", "id2")
    wn = Window.partitionBy("user_id")
    ranked = sl.select(
        "user_id",
        "slope_micro",
        F.row_number().over(wr).alias("rn"),
        F.count("*").over(wn).alias("n"),
    )
    return (
        ranked.groupBy("user_id")
        .agg(
            F.max("n").alias("n_pairs"),
            F.max(
                F.when(
                    F.col("rn") == F.expr("(n + 1) div 2"),
                    F.col("slope_micro"),
                )
            ).alias("slope_micro"),
        )
        .withColumn(
            "slope_per_s", F.col("slope_micro").cast("double") / F.lit(1e6)
        )
    )


QUERIES = {
    "q_counter_rate": q_counter_rate,
    "q_ohlc": q_ohlc,
    "q_slo_burn": q_slo_burn,
    "q_anomaly_seasonal": q_anomaly_seasonal,
    "q_sustained_threshold": q_sustained_threshold,
    "q_value_entropy": q_value_entropy,
    "q_burstiness": q_burstiness,
    "q_xcorr_lag": q_xcorr_lag,
    "q_follow_window": q_follow_window,
    "q_ewma": q_ewma,
    "q_histogram_rollup": q_histogram_rollup,
    "q_stl_decompose": q_stl_decompose,
    "q_holt_forecast": q_holt_forecast,
    "q_time_weighted_avg": q_time_weighted_avg,
    "q_watermark_lateness": q_watermark_lateness,
    "q_theilsen_trend": q_theilsen_trend,
    "q_holt_winters": q_holt_winters,
}

ORACLES = {
    # The EWMA recurrence s_t = (1−α)s_{t−1} + α·v_t is a fixed
    # left-to-right IEEE double sequence, so a recursive CTE stepping
    # one row per signal per iteration is bit-identical to the pandas
    # ewm(adjust=False) kernel (equality verified empirically — see
    # q_ewma docstring). Constants are repr'd from the same Python
    # floats the kernel folds, cast to DOUBLE so DuckDB's DECIMAL
    # literal typing can't perturb them.
    "q_ewma": f"""
        WITH RECURSIVE seq AS (
            SELECT user_id, event_id, ts, value,
                   row_number() OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                   ) AS rn
            FROM events
        ),
        r AS (
            SELECT user_id, event_id, ts, rn,
                   CAST(value AS DOUBLE) AS ewma
            FROM seq WHERE rn = 1
            UNION ALL
            SELECT s.user_id, s.event_id, s.ts, s.rn,
                   CAST({1 - EWMA_ALPHA!r} AS DOUBLE) * r.ewma
                       + CAST({EWMA_ALPHA!r} AS DOUBLE) * s.value
            FROM r JOIN seq s
              ON s.user_id = r.user_id AND s.rn = r.rn + 1
        )
        SELECT user_id, event_id, ts, ewma FROM r
    """,
    # Holt's state update is likewise a fixed double sequence carrying
    # (level, trend); the new level expression is repeated inside the
    # trend term (IEEE ops are deterministic, so recomputing it yields
    # the identical double). Signals with <2 samples emit nothing,
    # matching the kernel's None-finalize.
    "q_holt_forecast": f"""
        WITH RECURSIVE seq AS (
            SELECT user_id, value,
                   row_number() OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                   ) AS rn,
                   count(*) OVER (PARTITION BY user_id) AS n
            FROM events
        ),
        r AS (
            SELECT s1.user_id, s1.rn, s1.n,
                   CAST(s1.value AS DOUBLE) AS level,
                   CAST(s2.value - s1.value AS DOUBLE) AS trend
            FROM seq s1 JOIN seq s2
              ON s2.user_id = s1.user_id AND s2.rn = 2
            WHERE s1.rn = 1 AND s1.n >= 2
            UNION ALL
            SELECT s.user_id, s.rn, s.n,
                   CAST({HOLT_ALPHA!r} AS DOUBLE) * s.value
                       + CAST({1 - HOLT_ALPHA!r} AS DOUBLE)
                         * (r.level + r.trend) AS level,
                   CAST({HOLT_BETA!r} AS DOUBLE)
                       * ((CAST({HOLT_ALPHA!r} AS DOUBLE) * s.value
                           + CAST({1 - HOLT_ALPHA!r} AS DOUBLE)
                             * (r.level + r.trend)) - r.level)
                       + CAST({1 - HOLT_BETA!r} AS DOUBLE) * r.trend
                       AS trend
            FROM r JOIN seq s
              ON s.user_id = r.user_id AND s.rn = r.rn + 1
        )
        SELECT r.user_id, CAST(h.h AS BIGINT) AS h,
               r.level + h.h * r.trend AS forecast,
               r.level, r.trend
        FROM r JOIN (VALUES {", ".join(f"({h})" for h in range(1, HOLT_H + 1))})
                 AS h(h) ON r.rn = r.n
    """,
    "q_ohlc": """
        SELECT user_id, day,
               max(CASE WHEN rn_a = 1 THEN value END) AS open,
               max(value) AS high,
               min(value) AS low,
               max(CASE WHEN rn_d = 1 THEN value END) AS close,
               count(*) AS n_samples
        FROM (
            SELECT user_id, date_trunc('day', ts) AS day, value,
                   row_number() OVER (
                       PARTITION BY user_id, date_trunc('day', ts)
                       ORDER BY ts, event_id) AS rn_a,
                   row_number() OVER (
                       PARTITION BY user_id, date_trunc('day', ts)
                       ORDER BY ts DESC, event_id DESC) AS rn_d
            FROM events
        )
        GROUP BY user_id, day
    """,
    "q_slo_burn": f"""
        WITH h AS (
            SELECT date_trunc('hour', ts) AS hour,
                   (epoch_us(ts) // {SLO_LONG_S * 1_000_000})
                       * {SLO_LONG_S} AS win6,
                   CAST(count(*) FILTER (event_type = 'error') AS BIGINT)
                       AS err_1h,
                   count(*) AS tot_1h
            FROM events GROUP BY 1, 2
        ),
        l AS (
            SELECT (epoch_us(ts) // {SLO_LONG_S * 1_000_000})
                       * {SLO_LONG_S} AS win6,
                   CAST(count(*) FILTER (event_type = 'error') AS BIGINT)
                       AS err_6h,
                   count(*) AS tot_6h
            FROM events GROUP BY 1
        )
        SELECT hour, h.win6, err_1h, tot_1h,
               round(err_1h / CAST(tot_1h AS DOUBLE), 6) AS rate_1h,
               round(err_6h / CAST(tot_6h AS DOUBLE), 6) AS rate_6h,
               round((err_1h / CAST(tot_1h AS DOUBLE))
                     / NULLIF(err_6h / CAST(tot_6h AS DOUBLE), 0.0),
                     6) AS burn
        FROM h JOIN l ON h.win6 = l.win6
    """,
    "q_value_entropy": """
        WITH counts AS (
            SELECT user_id, CAST(round(value * 100) AS BIGINT) AS vu,
                   count(*) AS c
            FROM events GROUP BY 1, 2
        ),
        t AS (
            SELECT user_id, c,
                   round(-(c / CAST(CAST(sum(c) OVER w AS BIGINT)
                                    AS DOUBLE))
                         * log2(c / CAST(CAST(sum(c) OVER w AS BIGINT)
                                         AS DOUBLE)), 9) AS t
            FROM counts
            WINDOW w AS (PARTITION BY user_id)
        )
        SELECT user_id, count(*) AS n_distinct,
               CAST(sum(c) AS BIGINT) AS n,
               round(CAST(sum(CAST(t AS DECIMAL(38,9))) AS DOUBLE), 6)
                   AS entropy_bits
        FROM t GROUP BY user_id
    """,
    "q_burstiness": """
        WITH hourly AS (
            SELECT user_id, date_trunc('hour', ts) AS h, count(*) AS c
            FROM events GROUP BY 1, 2
        ),
        m AS (
            SELECT user_id, CAST(count(*) AS DOUBLE) AS n,
                   CAST(sum(c) AS BIGINT) AS n_events,
                   CAST(CAST(sum(c) AS BIGINT) AS DOUBLE) AS sx,
                   CAST(CAST(sum(c * c) AS BIGINT) AS DOUBLE) AS sxx,
                   count(*) AS n_hours
            FROM hourly GROUP BY user_id
        )
        SELECT user_id, n_hours, n_events,
               round(sx / n, 6) AS mean_per_hour,
               round(((n * sxx - sx * sx) / (n * n)) / (sx / n), 6)
                   AS fano
        FROM m
    """,
    "q_anomaly_seasonal": f"""
        WITH stats AS (
            SELECT user_id, CAST(hour(ts) AS BIGINT) AS hour_of_day,
                   count(*) AS n,
                   CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sx,
                   CAST(sum(CAST(value * value AS DECIMAL(38,6)))
                        AS DOUBLE) AS sxx
            FROM events GROUP BY 1, 2
        ),
        base AS (
            SELECT user_id, hour_of_day,
                   sx / CAST(n AS DOUBLE) AS mu,
                   sqrt((n * sxx - sx * sx) / (CAST(n AS DOUBLE) * n)) AS sd
            FROM stats
            WHERE (n * sxx - sx * sx) / (CAST(n AS DOUBLE) * n) > 0
        )
        SELECT e.user_id, e.event_id, e.ts, e.value,
               round(b.mu, 6) AS mu, round(b.sd, 6) AS sd,
               round((e.value - b.mu) / b.sd, 6) AS z
        FROM events e
        JOIN base b ON e.user_id = b.user_id
                   AND CAST(hour(e.ts) AS BIGINT) = b.hour_of_day
        WHERE abs(e.value - b.mu) > {ANOM_K} * b.sd
    """,
    "q_sustained_threshold": f"""
        WITH r AS (
            SELECT user_id, ts, value,
                   row_number() OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS rn
            FROM events
        ),
        hot AS (SELECT * FROM r WHERE value > {SUSTAIN_TH}),
        ep AS (
            SELECT user_id, ts, value,
                   rn - row_number() OVER (PARTITION BY user_id
                                           ORDER BY rn) AS grp
            FROM hot
        )
        SELECT user_id, min(ts) AS start_ts, max(ts) AS end_ts,
               count(*) AS n_samples, max(value) AS peak_value
        FROM ep GROUP BY user_id, grp
        HAVING count(*) >= {SUSTAIN_K}
    """,
    "q_xcorr_lag": f"""
        WITH top AS (
            SELECT user_id FROM events GROUP BY user_id
            ORDER BY count(*) DESC, user_id LIMIT {XCORR_TOP}
        ),
        s AS (
            SELECT user_id,
                   row_number() OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS rn,
                   CAST(round(value * 100) AS BIGINT) AS vu
            FROM events WHERE user_id IN (SELECT user_id FROM top)
        ),
        l AS (
            SELECT user_id AS ub, rn, vu AS v0,
                   lead(vu, 1) OVER w AS v1,
                   lead(vu, 2) OVER w AS v2,
                   lead(vu, 3) OVER w AS v3
            FROM s WINDOW w AS (PARTITION BY user_id ORDER BY rn)
        ),
        j AS (
            SELECT a.user_id AS ua, l.ub, a.vu AS x, l.v0, l.v1, l.v2, l.v3
            FROM s a JOIN l ON a.rn = l.rn AND a.user_id < l.ub
        ),
        p AS (
            SELECT ua, ub, x, 0 AS lag, v0 AS y FROM j
            UNION ALL SELECT ua, ub, x, 1 AS lag, v1 FROM j
            UNION ALL SELECT ua, ub, x, 2 AS lag, v2 FROM j
            UNION ALL SELECT ua, ub, x, 3 AS lag, v3 FROM j
        ),
        m AS (
            SELECT ua, ub, lag, count(*) AS n,
                   CAST(sum(CAST(x AS HUGEINT)) AS HUGEINT) AS sx,
                   CAST(sum(CAST(y AS HUGEINT)) AS HUGEINT) AS sy,
                   CAST(sum(CAST(x * y AS HUGEINT)) AS HUGEINT) AS sxy,
                   CAST(sum(CAST(x * x AS HUGEINT)) AS HUGEINT) AS sxx,
                   CAST(sum(CAST(y * y AS HUGEINT)) AS HUGEINT) AS syy
            FROM p WHERE y IS NOT NULL GROUP BY ua, ub, lag
        ),
        c AS (
            SELECT ua, ub, lag, n,
                   COALESCE(
                       CAST(n * sxy - sx * sy AS DOUBLE)
                       / NULLIF(
                           sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                           * sqrt(CAST(n * syy - sy * sy AS DOUBLE)),
                           0.0),
                       -2.0) AS corr
            FROM m
        )
        SELECT ua, ub, lag AS best_lag, n, corr
        FROM (SELECT *, row_number() OVER (PARTITION BY ua, ub
                        ORDER BY corr DESC, lag) AS rk FROM c)
        WHERE rk = 1
    """,
    "q_stl_decompose": f"""
        WITH base AS (
            SELECT user_id, event_id, hour(ts) AS hr, value,
                   CAST(sum(CAST(value AS DECIMAL(38,6))) OVER w
                        * 1000000 AS BIGINT) AS ut,
                   count(value) OVER w AS ct
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN {STL_K} PRECEDING
                                  AND {STL_K} FOLLOWING)
        ),
        t AS (
            SELECT *,
                   CAST(CASE WHEN ut >= 0
                        THEN (2 * ut + ct) // (2 * ct)
                        ELSE -((2 * -ut + ct) // (2 * ct)) END
                     AS DOUBLE) / 1000000.0 AS trend
            FROM base
        ),
        d AS (SELECT *, value - trend AS detr FROM t),
        s0 AS (
            SELECT user_id, hr,
                   CAST(sum(CAST(round(detr, 6) AS DECIMAL(38,6)))
                        * 1000000 AS BIGINT) AS us,
                   count(*) AS cs
            FROM d GROUP BY user_id, hr
        ),
        s AS (
            SELECT user_id, hr,
                   CAST(CASE WHEN us >= 0
                        THEN (2 * us + cs) // (2 * cs)
                        ELSE -((2 * -us + cs) // (2 * cs)) END
                     AS DOUBLE) / 1000000.0 AS seasonal
            FROM s0
        )
        SELECT d.user_id, d.event_id, d.trend, s.seasonal,
               round(d.detr - s.seasonal, 6) + 0.0 AS resid
        FROM d JOIN s ON d.user_id = s.user_id AND d.hr = s.hr
    """,
    "q_time_weighted_avg": """
        WITH d AS (
            SELECT user_id, date_trunc('day', ts) AS day,
                   CAST(round(value * 100) AS BIGINT) AS vu,
                   lag(CAST(round(value * 100) AS BIGINT)) OVER w AS pvu,
                   epoch_us(ts) - lag(epoch_us(ts)) OVER w AS dt_us
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        g AS (
            SELECT user_id, day,
                   CAST(sum((vu + pvu) * dt_us) AS BIGINT) AS tu,
                   CAST(sum(COALESCE(dt_us, 0)) AS BIGINT) AS du
            FROM d GROUP BY user_id, day
        )
        SELECT user_id, day,
               CAST(tu AS DOUBLE) / 200000000 AS weighted_area,
               CAST(du AS DOUBLE) / 1000000 AS span_s,
               round((CAST(tu AS DOUBLE) / 200)
                     / CAST(du AS DOUBLE), 6) AS twa
        FROM g WHERE du > 0
    """,
    "q_counter_rate": """
        WITH d AS (
            SELECT user_id, date_trunc('day', ts) AS day,
                   value - lag(value) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                   ) AS delta,
                   value,
                   epoch_us(ts) AS us
            FROM events
        )
        SELECT user_id, day,
               CAST(sum(CAST(round(
                   CASE WHEN delta IS NULL THEN 0.0
                        WHEN delta < 0 THEN value
                        ELSE delta END, 6) AS DECIMAL(38,6)))
                 AS DOUBLE) AS increase,
               CAST(sum(CASE WHEN delta < 0 THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_resets,
               (max(us) - min(us)) / 1000000.0 AS span_sec
        FROM d GROUP BY user_id, day
    """,
    "q_follow_window": f"""
        SELECT t.event_id AS trigger_id,
               count(*) AS n_follow,
               CAST(sum(CAST(round(e.value, 6) AS DECIMAL(38,6)))
                 AS DOUBLE) AS sum_value
        FROM (SELECT user_id, event_id, ts FROM events
              WHERE event_type = 'purchase') t
        JOIN events e
          ON e.user_id = t.user_id
         AND e.ts > t.ts
         AND e.ts <= t.ts + INTERVAL {FOLLOW_MIN} MINUTE
        GROUP BY t.event_id
    """,
    "q_histogram_rollup": f"""
        WITH daily AS (
            SELECT user_id, date_trunc('day', ts) AS day,
                   CAST(floor(value / {HIST_BIN_W}) AS BIGINT) AS bin,
                   count(*) AS partial_n
            FROM events GROUP BY 1, 2, 3
        ),
        merged AS (
            SELECT user_id, bin, CAST(sum(partial_n) AS BIGINT) AS n
            FROM daily GROUP BY user_id, bin
        ),
        c AS (
            SELECT user_id, bin, n,
                   CAST(sum(n) OVER (PARTITION BY user_id ORDER BY bin
                                ROWS UNBOUNDED PRECEDING) AS BIGINT)
                     AS cum_n,
                   CAST(sum(n) OVER (PARTITION BY user_id) AS BIGINT)
                     AS total_n
            FROM merged
        )
        SELECT user_id, bin, n, cum_n,
               (cum_n * 2 >= total_n AND (cum_n - n) * 2 < total_n)
                 AS is_median_bin
        FROM c
    """,
    # The two-level (bucket, carry) prefix max is associative, so the
    # oracle may use the plain single-window running max — provably
    # the same value (max over a prefix is max over any partition of
    # that prefix).
    "q_watermark_lateness": f"""
        WITH late AS (
            SELECT event_type, event_id,
                   max(epoch_us(ts)) OVER (ORDER BY event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     - epoch_us(ts) AS late_us
            FROM events
        ),
        ranked AS (
            SELECT event_type, late_us,
                   row_number() OVER (PARTITION BY event_type
                                      ORDER BY late_us, event_id) AS rn,
                   count(*) OVER (PARTITION BY event_type) AS n
            FROM late
        )
        SELECT event_type,
               max(n) AS n_events,
               count(CASE WHEN late_us > 0 THEN 1 END) AS n_late,
               max(late_us) AS max_late_us,
               {", ".join(
                   f"max(CASE WHEN rn = (n * {p} + 99) // 100"
                   f" THEN late_us END) AS p{p}_late_us"
                   for p in WM_PCTS
               )},
               (count(CASE WHEN late_us > 0 THEN 1 END) * 1000000)
                   // max(n) AS share_late_ppm
        FROM ranked GROUP BY event_type
    """,
    "q_holt_winters": _hw_oracle_sql(),
    # Slope quantization keeps every div numerator non-negative, so
    # trunc-vs-floor division semantics cannot diverge between engines.
    # The md5-window subsample and the span guard are replayed
    # verbatim: DuckDB md5 produces the same lowercase hex as Spark,
    # and error() fails where Spark's raise_error fails.
    "q_theilsen_trend": f"""
        WITH e0 AS (
            SELECT user_id, epoch_us(ts) AS us,
                   CAST(round(value * 100) AS BIGINT) AS vu,
                   event_id,
                   row_number() OVER (
                       PARTITION BY user_id
                       ORDER BY md5(CAST(event_id AS VARCHAR)), event_id
                   ) AS srn
            FROM events
        ),
        e AS (
            SELECT user_id, us, vu, event_id FROM e0
            WHERE srn <= {THEILSEN_SAMPLE_CAP}
        ),
        sl AS (
            SELECT l.user_id, l.event_id AS id1, r.event_id AS id2,
                   CASE WHEN abs(r.vu - l.vu) > {THEILSEN_SPAN_CENTS}
                        THEN CAST(error('q_theilsen_trend: span overflow')
                                  AS BIGINT)
                        WHEN (r.vu - l.vu) >= 0
                        THEN ((r.vu - l.vu) * 10000000000) // (r.us - l.us)
                        ELSE -((-((r.vu - l.vu) * 10000000000)
                                + (r.us - l.us) - 1) // (r.us - l.us))
                   END AS slope_micro
            FROM e l JOIN e r
              ON l.user_id = r.user_id AND l.us < r.us
        ),
        ranked AS (
            SELECT user_id, slope_micro,
                   row_number() OVER (PARTITION BY user_id
                                      ORDER BY slope_micro, id1, id2) AS rn,
                   count(*) OVER (PARTITION BY user_id) AS n
            FROM sl
        )
        SELECT user_id,
               max(n) AS n_pairs,
               max(CASE WHEN rn = (n + 1) // 2 THEN slope_micro END)
                   AS slope_micro,
               CAST(max(CASE WHEN rn = (n + 1) // 2 THEN slope_micro END)
                    AS DOUBLE) / 1e6 AS slope_per_s
        FROM ranked GROUP BY user_id
    """,
}
