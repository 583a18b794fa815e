"""SignalEngine facade tests: full lifecycle (ingest → query →
rollup → downsample) against direct-DataFrame oracles.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR
from timeseriesdb_spark.api import SignalEngine
from timeseriesdb_spark.tables import load_table


@pytest.fixture(scope="module")
def engine(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("store") / "signals")
    eng = SignalEngine(spark, path)
    eng.ingest(load_table(spark, SF_DIR, "events"))
    return eng


def test_agg_matches_direct(spark, engine):
    ev = load_table(spark, SF_DIR, "events")
    got = {r.user_id: r["max"] for r in engine.agg("max").collect()}
    exp = {
        r.user_id: r.mx
        for r in ev.groupBy("user_id").agg(F.max("value").alias("mx")).collect()
    }
    assert got == exp


def test_scoped_agg_prunes_and_matches(spark, engine):
    ev = load_table(spark, SF_DIR, "events")
    got = engine.agg("count", signals=[1, 2], t0="2024-01-03", t1="2024-01-10")
    exp = (
        ev.filter(
            F.col("user_id").isin(1, 2)
            & (F.col("ts") >= "2024-01-03")
            & (F.col("ts") < "2024-01-10")
        )
        .groupBy("user_id")
        .count()
    )
    g = {r.user_id: r["count"] for r in got.collect()}
    e = {r.user_id: r["count"] for r in exp.collect()}
    assert g == e


def test_last_n(spark, engine):
    got = engine.last_n(3, signals=[0]).collect()
    assert len(got) == 3
    ev = load_table(spark, SF_DIR, "events").filter(F.col("user_id") == 0)
    newest = ev.orderBy(F.col("ts").desc(), F.col("event_id").desc()).limit(3)
    assert sorted(r.event_id for r in got) == sorted(
        r.event_id for r in newest.collect()
    )


def test_range_query(spark, engine):
    got = engine.range_query(lo=100.0, hi=110.0).count()
    ev = load_table(spark, SF_DIR, "events")
    exp = ev.filter((F.col("value") > 100.0) & (F.col("value") < 110.0)).count()
    assert got == exp


def test_rollup_agg_equals_direct(spark, engine, tmp_path):
    rp = str(tmp_path / "rollup")
    engine.build_rollup(rp, bucket="1 hour")
    got = {r.user_id: r["max"] for r in engine.rollup_agg(rp, "max").collect()}
    exp = {r.user_id: r["max"] for r in engine.agg("max").collect()}
    assert got == exp
    # sum merges exactly too (decimal-routed)
    gs = {r.user_id: r["sum"] for r in engine.rollup_agg(rp, "sum").collect()}
    es = {r.user_id: r["sum"] for r in engine.agg("sum").collect()}
    assert gs == es


def test_downsample_tier(spark, engine, tmp_path):
    dp = str(tmp_path / "paa")
    engine.downsample(dp, chunk=8)
    tier = spark.read.parquet(dp)
    n_events = engine.events().count()
    assert 0 < tier.count() <= n_events // 8 + engine.events().select(
        "user_id"
    ).distinct().count()


def test_window_max_matches_query(spark, engine):
    from timeseriesdb_spark.registry import QUERIES

    got = engine.window_max(16).orderBy("user_id", "win")
    exp = QUERIES["q_window_max"](spark, SF_DIR).orderBy("user_id", "win")
    assert [tuple(r) for r in got.collect()] == [tuple(r) for r in exp.collect()]


def _smart_agg_routes_and_matches(engine, rp):
    t0, t1 = "2024-01-03 00:00:00", "2024-01-10 00:00:00"
    for which in ("count", "min", "max", "sum"):
        via_router = {
            r.user_id: r[which]
            for r in engine.smart_agg(which, rp, t0, t1).collect()
        }
        raw = {
            r.user_id: r[which]
            for r in engine.agg(which, t0=t0, t1=t1).collect()
        }
        assert via_router == raw, which

    # aligned range: plan reads the rollup schema, not the raw store's
    plan = engine.smart_agg("max", rp, t0, t1)._jdf.queryExecution().toString()
    assert "bucket_start" in plan
    assert "event_id" not in plan

    # misaligned range: falls back to the raw store, same answer
    m0, m1 = "2024-01-03 00:30:00", "2024-01-09 12:30:00"
    got = {
        r.user_id: r["max"] for r in engine.smart_agg("max", rp, m0, m1).collect()
    }
    exp = {
        r.user_id: r["max"] for r in engine.agg("max", t0=m0, t1=m1).collect()
    }
    assert got == exp
    plan = engine.smart_agg("max", rp, m0, m1)._jdf.queryExecution().toString()
    assert "bucket_start" not in plan


def test_smart_agg_routes_and_matches(spark, engine, tmp_path, monkeypatch):
    """Aligned ranges answer from the rollup, misaligned fall back to
    raw — identical values either way (the router changes I/O only).
    Alignment is decided in the session time zone (UTC), not the
    Python process's: under TZ=Asia/Kolkata, 00:30 is a local hour
    boundary but not a UTC one."""
    import time

    rp = str(tmp_path / "rollup_sa")
    engine.build_rollup(rp, bucket="1 hour")
    _smart_agg_routes_and_matches(engine, rp)
    monkeypatch.setenv("TZ", "Asia/Kolkata")
    time.tzset()
    try:
        _smart_agg_routes_and_matches(engine, rp)
    finally:
        monkeypatch.undo()
        time.tzset()
