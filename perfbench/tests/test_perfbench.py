"""Tests of the benchmark's own helpers, plus a small-scale smoke of
every workload. Run from the repository root:

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pandas as pd
import pytest

from perfbench import measure, report, workloads

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(__file__)))


# ---- tail rule --------------------------------------------------------


@pytest.mark.parametrize(
    "n, pct, beyond",
    [(19, None, 0), (20, 50.0, 10), (39, 50.0, 19), (40, 75.0, 10),
     (100, 90.0, 10), (199, 90.0, 19), (200, 95.0, 10), (1000, 99.0, 10),
     (10_000, 99.9, 10)],
)
def test_tail_picks_highest_percentile_with_ten_beyond(n, pct, beyond):
    samples = list(np.random.default_rng(n).permutation(np.arange(1, n + 1)))
    t = measure.tail(samples)
    assert (t["pct"], t["beyond"], t["samples"]) == (pct, beyond, n)
    if pct is None:
        assert t["value"] is None
    else:
        # samples are 1..n, so the value is the rank itself
        assert t["value"] == n - beyond
        assert sum(s > t["value"] for s in samples) == beyond


def test_percentile_is_nearest_rank():
    assert measure.percentile([5, 1, 3, 2, 4], 50) == 3
    assert measure.percentile([5, 1, 3, 2, 4], 100) == 5
    assert measure.percentile([5, 1, 3, 2, 4], 0) == 1
    with pytest.raises(ValueError):
        measure.percentile([], 50)


# ---- value hash -------------------------------------------------------


def _frame():
    return pd.DataFrame({
        "k": np.array([3, 1, 2], dtype=np.int32),
        "v": np.array([0.5, 1.25, -2.0], dtype=np.float64),
        "t": pd.to_datetime(["2024-01-01", "2024-01-02", "2024-01-03"]),
    })


def test_value_hash_ignores_row_and_column_order():
    a = _frame()
    b = a.iloc[[2, 0, 1]][["t", "v", "k"]]
    assert measure.value_hash(a) == measure.value_hash(b)


def test_value_hash_unifies_widths_and_time_units():
    a = _frame()
    b = a.astype({"k": np.int64, "t": "datetime64[us]"})
    assert measure.value_hash(a) == measure.value_hash(b)


def test_value_hash_sees_value_changes():
    a = _frame()
    b = a.copy()
    b.loc[1, "v"] = 1.2500001
    c = a.iloc[[0, 1, 2, 2]]  # a duplicated row is a different result
    assert measure.value_hash(a) != measure.value_hash(b)
    assert measure.value_hash(a) != measure.value_hash(c)


# ---- failure counting -------------------------------------------------


def test_tally_counts_each_failed_operation_once():
    t = measure.Tally()
    t.attempt(4)
    t.error("p1.q_a", RuntimeError("boom"))
    t.fail("p1.q_a", "mismatch after the error")
    t.fail("p2.q_b", "rows differ")
    assert (t.attempted, t.failed) == (4, 2)
    assert t.failed_ratio == 0.5 and t.ok_ratio == 0.5
    assert t.failures["p1.q_a"].startswith("RuntimeError: boom")


def test_tally_with_nothing_attempted_is_all_failed():
    assert measure.Tally().ok_ratio == 0.0


WINDOW = {"s": 1.0, "run_cpu_s": 9.0, "steal_share": 0.01,
          "peak_rss_mb": 900.0, "heap_live_mb": 200.0, "python_hwm_mb": 100.0}


def test_end_to_end_metrics_are_never_zero_on_a_clean_run():
    class Args:
        trace = 0

    wl = workloads.QueryWorkload("x", ["q"])
    p = workloads.Pass(1, traced=False)
    p.latencies, p.wall, p.cpu = [0.2, 0.4, 0.3], 0.9, 2.5
    t = measure.Tally()
    t.attempt(3)
    out = report.build(Args, wl, t, {"start_s": 1.0}, p, [p], WINDOW, [])
    vals = {k: v["value"] for k, v in out["metrics"].items()}
    assert set(vals) == set(report.E2E)
    assert vals["cycle_cpu_s"] == 2.5 and vals["mem_live_mb"] == 300.0
    assert out["details"]["op_p50_s"] == 0.3
    assert all(v > 0 for v in vals.values())
    assert (out["correct"], out["attempted"], out["failed"]) == (True, 3, 0)


# ---- generator --------------------------------------------------------


def test_tables_are_a_function_of_the_seed(tmp_path):
    from perfbench import datagen

    for d, seed in (("a", 5), ("b", 5), ("c", 6)):
        datagen.write_tables(str(tmp_path / d), 0.001, seed)
    same = (tmp_path / "a" / "events.parquet").read_bytes()
    assert same == (tmp_path / "b" / "events.parquet").read_bytes()
    assert same != (tmp_path / "c" / "events.parquet").read_bytes()


# ---- the command in a directory without the system under test ---------


def test_run_fails_without_the_system_under_test(tmp_path):
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("out", "__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "signal_queries",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""


# ---- small-scale smoke of every workload ------------------------------


@pytest.fixture(scope="module")
def spark():
    from timeseriesdb_spark.session import get_spark

    s = get_spark(app_name="perfbench-tests", master="local[2]",
                  shuffle_partitions=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


SMOKES = {
    "signal_queries": lambda: workloads.QueryWorkload(
        "signal_queries", workloads.SIGNAL_QUERIES, sf=0.001),
    "batch_analytics": lambda: workloads.QueryWorkload(
        "batch_analytics", workloads.BATCH_QUERIES, sf=0.001),
    "stream_ingest": lambda: workloads.StreamWorkload(
        files=2, rows_per_file=2_000),
}


@pytest.mark.parametrize("name", sorted(SMOKES))
def test_workload_smoke(name, spark, tmp_path, monkeypatch):
    from perfbench.tracing import Tracer

    monkeypatch.setenv("SPARK_TSDB_TEST_SF", "")  # restored afterwards
    run = workloads.Run(spark, str(tmp_path), seed=3)
    wl = SMOKES[name]()
    wl.prepare(run)
    plain = wl.one_pass(run, 1)
    tracer = Tracer(spark.sparkContext)
    traced = wl.one_pass(run, 2, tracer)
    wl.check(run)
    assert run.tally.failures == {}
    assert run.tally.attempted > 0
    assert plain.latencies and traced.latencies
    assert all(len(pdf) > 0 for _op, _key, pdf in run.outputs)

    class Args:
        trace = 1

    setup = {"start_s": 1.0, "datagen_s": 0.1, "warmup_s": 1.0}
    out = report.build(Args, wl, run.tally, setup, plain, [plain, traced],
                       WINDOW, tracer.spans)
    json.dumps(out)  # the result line must serialize
    m = {k: v["value"] for k, v in out["metrics"].items()}
    assert set(m) == set(report.LAYER)
    assert m["layer.exec.tasks"] > 0 and m["layer.build.s"] > 0
    if name == "stream_ingest":
        assert m["layer.stream.batches"] == 3 * wl.files
        assert m["layer.store.files"] > 0 and m["layer.read.files"] > 0
        assert m["layer.compact.partials_merged"] == wl.files
