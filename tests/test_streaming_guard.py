"""Fresh-checkpoint guard across EVERY batch_id-partitioned partial
writer (VERDICT r13 #1 — the drift stream's r13 guard generalized via
api.guard_fresh_checkpoint).

The hazard: each maintain_* stream writes micro-batch partials to
`{store}/batch_id={bid}`. Restart with a NEW checkpoint against a
non-empty store and foreachBatch's batch ids restart at 0 — the new
tranche's partials silently overwrite the oldest stored partials.

Per family this file proves:
- default ('error'): a fresh checkpoint against a non-empty store
  refuses loudly instead of corrupting;
- 'append': a second tranche of NEW rows resumes above the store's
  max batch_id and the served answers equal a single full run;
- compaction: a compactable family's store is compacted after the
  second tranche, and the refusal and a third 'append' tranche then
  run against the compacted store (maintain -> compact -> keep
  maintaining) with the same served answers; the third tranche's
  batch ids lie above every id the generation absorbed;
- 'replay' (ADVICE r13, rollup representative): a COARSER replay
  (availableNow one-batch where the original run used
  maxFilesPerTrigger=1) deletes the stale higher-id partitions
  instead of leaving them to double-count at merge.

Tranches split by user/doc hash mod 3 so every key's full history
lands in exactly one tranche — the stateful trigram tail (event
ngrams) then closes identically to the one-shot run, making the
equality exact for all families.
"""

from __future__ import annotations

import fcntl
import os
import shutil

import pandas as pd
import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR
from timeseriesdb_spark.api import (
    _COMPACTABLE,
    _HIGH_WATER,
    _TIERS,
    CorpusEngine,
    SignalEngine,
    _read_tier,
    guard_fresh_checkpoint,
)
from timeseriesdb_spark.tables import load_table


def _events(spark):
    return load_table(spark, SF_DIR, "events").select(
        "user_id", "event_id", "ts", "event_type", "value"
    )


def _documents(spark):
    return load_table(spark, SF_DIR, "documents").select(
        "doc_id", "text", "source"
    )


def _lineitem(spark):
    return load_table(spark, SF_DIR, "lineitem").select(
        "l_orderkey", "l_shipdate", "l_quantity"
    )


def _merged(spark, path, keys, aggs):
    return _read_tier(spark, path).groupBy(*keys).agg(*aggs)


SPECS = {
    # name: (engine kind, source kind, split column, maintain attr,
    #        serve(spark, eng, path) -> DataFrame)
    "rollup": (
        "signal", "events", "user_id", "maintain_rollup_stream",
        lambda spark, eng, p: _merged(
            spark, p, ["user_id", "bucket_start"],
            [
                F.sum("cnt").alias("cnt"),
                F.min("min_value").alias("min_value"),
                F.max("max_value").alias("max_value"),
                F.sum("dsum").cast("double").alias("sum_value"),
            ],
        ),
    ),
    "distinct": (
        "signal", "events", "user_id", "maintain_distinct_stream",
        lambda spark, eng, p: eng.distinct_estimate(p),
    ),
    "hll_register": (
        "signal", "events", "user_id", "maintain_hll_register_stream",
        lambda spark, eng, p: eng.hll_distinct_estimate(p),
    ),
    "frequency": (
        "signal", "events", "user_id", "maintain_frequency_stream",
        lambda spark, eng, p: _merged(
            spark, p, ["user_id", "day", "depth", "bucket"],
            [F.sum("partial_n").alias("partial_n")],
        ),
    ),
    "ohlc": (
        "signal", "events", "user_id", "maintain_ohlc_stream",
        lambda spark, eng, p: eng.ohlc_bars(p),
    ),
    "histogram": (
        "signal", "events", "user_id", "maintain_histogram_stream",
        lambda spark, eng, p: eng.histogram_bins(p),
    ),
    "quantile": (
        "signal", "events", "user_id", "maintain_quantile_stream",
        lambda spark, eng, p: eng.quantile_estimates(p),
    ),
    "event_ngrams": (
        "signal", "events", "user_id", "maintain_event_ngrams_stream",
        lambda spark, eng, p: eng.event_ngrams(p),
    ),
    "heavyhitters": (
        "signal", "events", "user_id", "maintain_heavyhitters_stream",
        lambda spark, eng, p: eng.heavy_hitters(p),
    ),
    "trending_terms": (
        "corpus", "documents", "doc_id", "maintain_trending_terms_stream",
        lambda spark, eng, p: eng.trending_terms(p),
    ),
    # r14: materialized-view maintenance of the interval-join aggregate
    "shipdate": (
        "signal", "lineitem", "l_orderkey", "maintain_shipdate_stream",
        lambda spark, eng, p: eng.interval_join_from_store(p, SF_DIR),
    ),
}


# SPECS family -> its tier in the library table (api._TIERS). drift has
# its own guard tests in test_streaming_drift.py.
TIER_OF = {
    "rollup": "rollup",
    "distinct": "distinct",
    "hll_register": "hllreg",
    "frequency": "cm",
    "ohlc": "ohlc",
    "histogram": "hist",
    "quantile": "qsk",
    "event_ngrams": "ngrams",
    "heavyhitters": "hh",
    "trending_terms": "terms",
    "shipdate": "shipdate",
}


def _engine(kind, spark, tmp_path):
    if kind == "corpus":
        return CorpusEngine(spark, str(tmp_path / "corpus"))
    return SignalEngine(spark, str(tmp_path / "store"))


def _run_stream(spark, eng, attr, src, store, ckpt, schema, **kw):
    stream = spark.readStream.schema(schema).parquet(src)
    getattr(eng, attr)(stream, store, ckpt, **kw).awaitTermination(180)


def _batch_ids(store) -> set[int]:
    return {
        int(d.split("=", 1)[1])
        for d in os.listdir(store)
        if d.startswith("batch_id=") and d.split("=", 1)[1].isdigit()
    }


def _pdf(df) -> pd.DataFrame:
    pdf = df.toPandas()
    return (
        pdf.sort_values(list(pdf.columns))
        .reset_index(drop=True)
        .astype(str)
    )


@pytest.mark.parametrize("family", sorted(SPECS))
def test_guarded_maintenance_refuse_and_append(spark, tmp_path, family):
    # every tier of the library table is covered here, so a new tier
    # cannot skip the guard test
    assert set(TIER_OF) == set(SPECS)
    assert set(TIER_OF.values()) == set(_TIERS) - {"drift"}
    kind, source, split_col, attr, serve = SPECS[family]
    src_full = str(tmp_path / "src_full")
    src_a = str(tmp_path / "src_a")
    src_b = str(tmp_path / "src_b")
    src_c = str(tmp_path / "src_c")

    rows = {
        "events": _events,
        "documents": _documents,
        "lineitem": _lineitem,
    }[source](spark)
    third = F.pmod(F.xxhash64(F.col(split_col)), F.lit(3))
    rows.coalesce(1).write.parquet(src_full)
    rows.filter(third == 0).coalesce(1).write.parquet(src_a)
    rows.filter(third == 1).coalesce(1).write.parquet(src_b)
    rows.filter(third == 2).coalesce(1).write.parquet(src_c)
    schema = rows.schema

    eng = _engine(kind, spark, tmp_path)

    # reference: one full run into its own store
    ref = str(tmp_path / "ref")
    _run_stream(
        spark, eng, attr, src_full, ref, str(tmp_path / "ck_ref"), schema
    )
    exp = _pdf(serve(spark, eng, ref))
    assert len(exp) > 0

    # tranche A, then the checkpoint is "lost"
    store = str(tmp_path / "tier")
    _run_stream(spark, eng, attr, src_a, store, str(tmp_path / "ck1"), schema)

    # default: loud refusal, store untouched
    with pytest.raises(ValueError, match="fresh checkpoint"):
        _run_stream(
            spark, eng, attr, src_b, store, str(tmp_path / "ck2"), schema
        )

    # declared intent: tranche B carries only NEW rows -> append above
    # the store's max batch_id
    ids_a = _batch_ids(store)
    _run_stream(
        spark, eng, attr, src_b, store, str(tmp_path / "ck3"), schema,
        on_fresh_checkpoint="append",
    )
    ids_b = _batch_ids(store) - ids_a
    assert ids_b and min(ids_b) > max(ids_a)  # overwrote nothing

    # compactable tiers: compact, then keep maintaining the compacted
    # store (refusal, then tranche C appended above every absorbed id)
    tier = TIER_OF[family]
    if _TIERS[tier].combine is not None:
        assert eng.compact_partials(store, tier) >= 2
        assert [
            d for d in os.listdir(store) if d.startswith("batch_id=")
        ] == ["batch_id=compacted-0"]
        with pytest.raises(ValueError, match="fresh checkpoint"):
            _run_stream(
                spark, eng, attr, src_c, store, str(tmp_path / "ck4"), schema
            )
    _run_stream(
        spark, eng, attr, src_c, store, str(tmp_path / "ck5"), schema,
        on_fresh_checkpoint="append",
    )
    ids_c = _batch_ids(store) - ids_a - ids_b
    assert ids_c and min(ids_c) > max(ids_a | ids_b)

    # served answers equal the full run
    got = _pdf(serve(spark, eng, store))
    pd.testing.assert_frame_equal(got, exp)


def test_guard_counts_compacted_generations(tmp_path):
    """A store holding a compacted generation (batch_id=compacted-<n>)
    is non-empty: a fresh checkpoint refuses by default, 'append'
    starts above every batch id the generation absorbed (its
    high-water file), 'replay' deletes the generation too (it would
    double-count), and a resumed checkpoint keeps its recorded base.
    While a compact_partials holds the store's compaction lock,
    'replay' refuses and deletes nothing (the compactor's commit and
    deletes would race its own), while 'append' still starts above
    every id the store holds."""
    store = tmp_path / "tier"
    gen = store / "batch_id=compacted-0"
    gen.mkdir(parents=True)
    (gen / _HIGH_WATER).write_text("2")  # absorbed batch_id=0..2

    with pytest.raises(ValueError, match="fresh checkpoint"):
        guard_fresh_checkpoint(str(store), str(tmp_path / "ck_err"))
    ck = tmp_path / "ck_append"
    assert guard_fresh_checkpoint(str(store), str(ck), "append") == 3
    (store / "batch_id=4").mkdir()
    assert guard_fresh_checkpoint(
        str(store), str(tmp_path / "ck_append2"), "append"
    ) == 5
    (ck / "offsets").mkdir()  # the first run's checkpoint, resumed
    assert guard_fresh_checkpoint(str(store), str(ck)) == 3

    # a running compaction holds the lock
    fd = os.open(str(tmp_path / "tier__compact_lock"), os.O_CREAT | os.O_RDWR)
    try:
        fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
        with pytest.raises(ValueError, match="compact_partials"):
            guard_fresh_checkpoint(
                str(store), str(tmp_path / "ck_replay_locked"), "replay"
            )
        assert sorted(os.listdir(store)) == [
            "batch_id=4", "batch_id=compacted-0"
        ]
        assert guard_fresh_checkpoint(
            str(store), str(tmp_path / "ck_append_locked"), "append"
        ) == 5
        assert guard_fresh_checkpoint(str(store), str(ck)) == 3
    finally:
        os.close(fd)

    assert guard_fresh_checkpoint(
        str(store), str(tmp_path / "ck_replay"), "replay"
    ) == 0
    assert os.listdir(store) == []


def test_replay_deletes_stale_partitions(spark, tmp_path):
    """ADVICE r13 (api.py replay mode): original run micro-batches
    finely (4 files, maxFilesPerTrigger=1 -> batch_id=0..3); the replay
    drains the identical corpus in ONE availableNow batch. Stale
    batch_id>=1 partitions must be deleted, not left to double-count."""
    src = str(tmp_path / "src")
    store = str(tmp_path / "tier")
    ev = _events(spark)
    for i in range(4):
        ev.filter(F.pmod(F.xxhash64("event_id"), F.lit(4)) == i).coalesce(
            1
        ).write.mode("append").parquet(src)

    eng = SignalEngine(spark, str(tmp_path / "store"))
    fine = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    eng.maintain_rollup_stream(
        fine, store, str(tmp_path / "ck1")
    ).awaitTermination(180)
    assert len(
        [d for d in os.listdir(store) if d.startswith("batch_id=")]
    ) == 4
    exp = _pdf(SPECS["rollup"][4](spark, eng, store))

    coarse = spark.readStream.schema(ev.schema).parquet(src)
    eng.maintain_rollup_stream(
        coarse, store, str(tmp_path / "ck2"), on_fresh_checkpoint="replay"
    ).awaitTermination(180)
    bids = [d for d in os.listdir(store) if d.startswith("batch_id=")]
    assert bids == ["batch_id=0"]  # stale 1..3 deleted, not double-counted
    got = _pdf(SPECS["rollup"][4](spark, eng, store))
    pd.testing.assert_frame_equal(got, exp)


@pytest.mark.parametrize(
    "family",
    sorted(f for f, t in TIER_OF.items() if t in _COMPACTABLE),
)
def test_replay_after_compaction_writes_nothing(spark, tmp_path, family):
    """Crash replay across a compaction: maintain over 4 files
    (batch_id=0..3), compact them into one generation, then lose the
    last commit (commits/3 and its .crc, the crash between write and
    commit) and restart on the same checkpoint. Spark re-runs batch 3;
    the generation already absorbed it, so nothing is written and the
    served answers equal a clean run (they double-counted batch 3
    before).

    Then the two retire-window states: an absorbed id (batch_id=3)
    back next to compacted-0, and compacted-0 back next to the
    compacted-1 that absorbed it. Reads take the newest generation plus
    the ids above its high-water, so both answer like a clean run
    (sum-merged tiers double-counted before)."""
    kind, source, split_col, attr, serve = SPECS[family]
    rows = {
        "events": _events,
        "documents": _documents,
        "lineitem": _lineitem,
    }[source](spark)
    src = str(tmp_path / "src")
    quarter = F.pmod(F.xxhash64(F.col(split_col)), F.lit(4))
    for i in range(4):
        rows.filter(quarter == i).coalesce(1).write.mode("append").parquet(src)
    eng = _engine(kind, spark, tmp_path)

    def run(store, ckpt):
        stream = (
            spark.readStream.schema(rows.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        getattr(eng, attr)(stream, store, ckpt).awaitTermination(180)

    ref = str(tmp_path / "ref")
    run(ref, str(tmp_path / "ck_ref"))
    exp = _pdf(serve(spark, eng, ref))

    store, ckpt = str(tmp_path / "tier"), str(tmp_path / "ck")
    run(store, ckpt)
    assert _batch_ids(store) == {0, 1, 2, 3}
    assert eng.compact_partials(store, TIER_OF[family]) == 4
    os.remove(os.path.join(ckpt, "commits", "3"))
    os.remove(os.path.join(ckpt, "commits", ".3.crc"))
    run(store, ckpt)
    assert os.listdir(os.path.join(ckpt, "commits")).count("3") == 1
    pd.testing.assert_frame_equal(_pdf(serve(spark, eng, store)), exp)
    assert [
        d for d in os.listdir(store) if d.startswith("batch_id=")
    ] == ["batch_id=compacted-0"]

    shutil.copytree(f"{ref}/batch_id=3", f"{store}/batch_id=3")
    pd.testing.assert_frame_equal(_pdf(serve(spark, eng, store)), exp)
    shutil.rmtree(f"{store}/batch_id=3")
    gen0 = str(tmp_path / "compacted-0")
    shutil.copytree(f"{store}/batch_id=compacted-0", gen0)
    assert eng.compact_partials(store, TIER_OF[family]) == 1
    shutil.copytree(gen0, f"{store}/batch_id=compacted-0")
    pd.testing.assert_frame_equal(_pdf(serve(spark, eng, store)), exp)


def test_ann_probe_stream_guarded(spark, tmp_path):
    """The ANN probe result log shares the batch_id idiom and the same
    hazard: a second query tranche under a fresh checkpoint must refuse
    by default and append above the stored max batch_id with declared
    intent — never overwrite tranche 1's results."""
    from timeseriesdb_spark.api import CorpusEngine

    eng = CorpusEngine(spark, str(tmp_path / "corpus"))
    emb = load_table(spark, SF_DIR, "embeddings")
    idx = str(tmp_path / "ivf")
    eng.build_ann_index(emb, idx)

    q = emb.orderBy("vec_id").limit(8)
    src1, src2 = str(tmp_path / "q1"), str(tmp_path / "q2")
    q.filter(F.col("vec_id") % 2 == 0).coalesce(1).write.parquet(src1)
    q.filter(F.col("vec_id") % 2 == 1).coalesce(1).write.parquet(src2)
    out = str(tmp_path / "hits")

    def run(src, ck, **kw):
        stream = spark.readStream.schema(q.schema).parquet(src)
        eng.ann_probe_stream(
            stream, idx, out, str(tmp_path / ck), **kw
        ).awaitTermination(180)

    run(src1, "ck1")
    first = _pdf(spark.read.parquet(out))
    with pytest.raises(ValueError, match="fresh checkpoint"):
        run(src2, "ck2")
    run(src2, "ck3", on_fresh_checkpoint="append")
    merged = spark.read.parquet(out)
    # tranche 1's rows survived verbatim under batch_id=0 ...
    pd.testing.assert_frame_equal(
        _pdf(merged.where(F.col("batch_id") == 0)), first
    )
    # ... and tranche 2 landed above, so every query has results
    assert merged.select("query_id").distinct().count() == 8
