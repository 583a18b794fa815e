"""Compaction: many small appended files collapse to the bucketed
layout with identical data.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_DIR
from timeseriesdb_spark.sources import store
from timeseriesdb_spark.tables import load_table


def test_compact_partition(spark, tmp_path):
    path = str(tmp_path / "store")
    ev = load_table(spark, SF_DIR, "events").filter(
        F.to_date("ts") == "2024-01-05"
    )
    # simulate micro-batch appends: many small files in one partition
    with_date = ev.withColumn("event_date", F.to_date("ts"))
    for _ in range(5):
        with_date.coalesce(2).write.partitionBy("event_date").mode(
            "append"
        ).parquet(path)
    total_before = spark.read.parquet(path).count()

    removed = store.compact_partition(spark, path, "2024-01-05")
    assert removed > 0

    after = spark.read.parquet(path)
    assert after.count() == total_before
    # data intact: per-signal checksums match
    s = (
        after.groupBy("user_id")
        .agg(F.sum(F.col("value").cast("decimal(38,6)")).alias("s"))
        .orderBy("user_id")
        .collect()
    )
    s2 = (
        with_date.groupBy("user_id")
        .agg((F.sum(F.col("value").cast("decimal(38,6)")) * 5).alias("s"))
        .orderBy("user_id")
        .collect()
    )
    assert [(r.user_id, r.s) for r in s] == [(r.user_id, r.s) for r in s2]


def test_compact_missing_partition_noop(spark, tmp_path):
    path = str(tmp_path / "store")
    ev = load_table(spark, SF_DIR, "events").limit(10)
    store.write_signal_store(ev, path)
    assert store.compact_partition(spark, path, "1999-01-01") == 0


def _write_hist_batch(spark, path, bid, uid, n):
    spark.createDataFrame(
        [(uid, "2024-01-05", 3, n)],
        "user_id long, day string, bin int, partial_n long",
    ).write.mode("overwrite").parquet(f"{path}/batch_id={bid}")


def test_compact_partials_spares_concurrent_batches(spark, tmp_path):
    # A micro-batch landing between the snapshot and the swap must be
    # neither merged nor deleted. Simulated by writing the extra batch
    # after the store read would have snapshotted: here we just check
    # that only batch_id dirs present at call time are consumed and
    # that a subsequent streamed batch keeps merging on top.
    import os

    from timeseriesdb_spark.api import SignalEngine

    path = str(tmp_path / "hist")
    eng = SignalEngine(spark, path)
    for bid, n in [(0, 5), (1, 7)]:
        _write_hist_batch(spark, path, bid, 1, n)
    assert eng.compact_partials(path, "hist") == 2
    dirs = sorted(d for d in os.listdir(path) if d.startswith("batch_id="))
    assert dirs == ["batch_id=compacted-0"], dirs
    # a batch streamed AFTER compaction merges on top at read time
    _write_hist_batch(spark, path, 99, 1, 8)
    rows = eng.histogram_bins(path).collect()
    assert [(r.user_id, r.bin, r.n) for r in rows] == [(1, 3, 20)]
    # second compaction folds the new batch into generation 1
    assert eng.compact_partials(path, "hist") == 2
    dirs = sorted(d for d in os.listdir(path) if d.startswith("batch_id="))
    assert dirs == ["batch_id=compacted-1"], dirs
    rows = eng.histogram_bins(path).collect()
    assert [(r.user_id, r.bin, r.n) for r in rows] == [(1, 3, 20)]


def test_compact_partials_crash_recovery(spark, tmp_path):
    # Crash BEFORE install: aside dir exists, generation missing ->
    # recovery restores the partials. Crash AFTER install: generation
    # present -> recovery deletes the aside (restoring would double
    # count). Both must leave counts exact.
    import os
    import shutil

    from timeseriesdb_spark.api import SignalEngine

    # -- crash after move-aside, before install --
    path = str(tmp_path / "h1")
    eng = SignalEngine(spark, path)
    _write_hist_batch(spark, path, 0, 1, 5)
    aside = path + "__compact_old_0"
    os.makedirs(aside)
    shutil.move(f"{path}/batch_id=0", f"{aside}/batch_id=0")
    assert eng.compact_partials(path, "hist") == 1  # restored + merged
    rows = eng.histogram_bins(path).collect()
    assert [(r.user_id, r.bin, r.n) for r in rows] == [(1, 3, 5)]
    assert not os.path.exists(aside)

    # -- crash after install, before delete-aside --
    path2 = str(tmp_path / "h2")
    _write_hist_batch(spark, path2, 0, 1, 5)
    eng.compact_partials(path2, "hist")  # installs compacted-0
    aside2 = path2 + "__compact_old_0"
    os.makedirs(aside2)
    # plant stale pre-merge partials that are ALREADY in compacted-0
    _write_hist_batch(spark, aside2.replace("__compact_old_0", ""), -1, 1, 999)
    shutil.move(f"{path2}/batch_id=-1", f"{aside2}/batch_id=-1")
    eng.compact_partials(path2, "hist")
    rows = eng.histogram_bins(path2).collect()
    # the planted 999 must NOT leak back in
    assert [(r.user_id, r.bin, r.n) for r in rows] == [(1, 3, 5)]


def test_compact_partials_crash_after_install_stragglers(spark, tmp_path):
    # Install-first swap: a crash AFTER batch_id=compacted-<g> is
    # installed but BEFORE the snapshotted partitions are retired
    # leaves its snapshot's dirs in the base. They are already merged
    # into the generation (at or below its high-water), so reads skip
    # them and the next compaction retires them (keeping them would
    # double count) while sparing batches above the high-water.
    import os

    from timeseriesdb_spark.api import _HIGH_WATER, SignalEngine

    path = str(tmp_path / "h3")
    eng = SignalEngine(spark, path)
    _write_hist_batch(spark, path, 0, 1, 5)
    eng.compact_partials(path, "hist")  # installs compacted-0
    # Simulate: compacted-1 installed, but batch_id=7 (merged into it)
    # was never retired. batch_id=8 landed after the snapshot.
    _write_hist_batch(spark, path, 7, 1, 100)
    _write_hist_batch(spark, path, 8, 1, 2)
    os.makedirs(path + "__compact_old_1")
    # fake the installed generation = compacted-0 partials + the 100,
    # with the high-water an install records (batch 7)
    spark.createDataFrame(
        [(1, "2024-01-05", 3, 105)],
        "user_id long, day string, bin int, partial_n long",
    ).write.mode("overwrite").parquet(f"{path}/batch_id=compacted-1")
    with open(f"{path}/batch_id=compacted-1/{_HIGH_WATER}", "w") as f:
        f.write("7")
    # a read inside the window already answers exactly
    rows = eng.histogram_bins(path).collect()
    assert [(r.user_id, r.bin, r.n) for r in rows] == [(1, 3, 107)]

    eng.compact_partials(path, "hist")  # recovery then re-compact
    rows = eng.histogram_bins(path).collect()
    # exact: 5 + 100 + 2 — neither double-counted nor lost
    assert [(r.user_id, r.bin, r.n) for r in rows] == [(1, 3, 107)]
    dirs = sorted(d for d in os.listdir(path) if d.startswith("batch_id="))
    assert dirs == ["batch_id=compacted-2"], dirs


def test_compact_partials_restore_collision_raises(spark, tmp_path):
    # A name collision between a crash-aside partial and a live base
    # dir is ambiguous (a replayed micro-batch may have re-created it)
    # — recovery must refuse loudly, not silently discard either copy.
    import os
    import shutil

    import pytest

    from timeseriesdb_spark.api import SignalEngine

    path = str(tmp_path / "h4")
    eng = SignalEngine(spark, path)
    _write_hist_batch(spark, path, 0, 1, 5)
    aside = path + "__compact_old_0"
    os.makedirs(aside)
    _write_hist_batch(spark, path, 1, 1, 9)
    shutil.move(f"{path}/batch_id=1", f"{aside}/batch_id=1")
    _write_hist_batch(spark, path, 1, 1, 9)  # replayed twin in base
    with pytest.raises(RuntimeError, match="both"):
        eng.compact_partials(path, "hist")


def test_compact_partials_glob_metachar_path(spark, tmp_path):
    # Crash-debris discovery must work on store paths containing glob
    # metacharacters (recovery enumerates via listdir + startswith;
    # glob.glob would silently find nothing and leak the aside dir).
    import os

    from timeseriesdb_spark.api import SignalEngine

    path = str(tmp_path / "h[5]")
    os.makedirs(path)
    aside = path + "__compact_old_0"
    os.makedirs(aside)  # empty pre-install debris
    eng = SignalEngine(spark, path)
    assert eng.compact_partials(path, "hist") == 0
    assert not os.path.exists(aside)  # debris was found and cleared


def test_compact_partials_lock_excludes_second_compactor(spark, tmp_path):
    # A live compactor holds <store>__compact_lock: a second call must
    # raise up front (NOT run the recovery sweep — which would rmtree
    # the live compactor's aside + manifest mid-swap). A stale lock
    # (older than the lease) is reclaimed and compaction proceeds.
    import os
    import time

    import pytest

    from timeseriesdb_spark.api import SignalEngine

    path = str(tmp_path / "hist")
    eng = SignalEngine(spark, path)
    _write_hist_batch(spark, path, 0, 1, 5)

    # simulate a LIVE compactor mid-swap: fresh lock + aside/manifest
    lock = path + "__compact_lock"
    with open(lock, "w") as f:
        f.write(f"{os.getpid()} {time.time()}\n")
    aside = path + "__compact_old_0"
    os.makedirs(aside)
    with open(os.path.join(aside, "_COMPACT_MANIFEST.json"), "w") as f:
        f.write('["batch_id=0"]')
    with pytest.raises(RuntimeError, match="another compactor"):
        eng.compact_partials(path, "hist")
    # the live compactor's swap state was NOT touched
    assert os.path.exists(aside)
    assert os.path.exists(os.path.join(aside, "_COMPACT_MANIFEST.json"))
    assert os.path.exists(lock)

    # stale by age but the recorded holder pid is STILL ALIVE (ours):
    # refuse to reclaim — a live holder whose heartbeat failed must
    # never be reclaimed out from under.
    old = time.time() - eng.COMPACT_LEASE_S - 10
    os.utime(lock, (old, old))
    with pytest.raises(RuntimeError, match="still.*alive"):
        eng.compact_partials(path, "hist")
    assert os.path.exists(lock)
    assert os.path.exists(aside)

    # stale lock with a DEAD holder pid: reclaimed, recovery runs,
    # compaction succeeds, lock released at exit
    import subprocess

    proc = subprocess.Popen(["sleep", "0"])
    proc.wait()  # proc.pid is now dead (reuse within the test: ~never)
    with open(lock, "w") as f:
        f.write(f"{proc.pid}:deadbeef {time.time()}\n")
    os.utime(lock, (old, old))
    assert eng.compact_partials(path, "hist") == 1
    assert not os.path.exists(lock)
    assert not os.path.exists(aside)
    rows = eng.histogram_bins(path).collect()
    assert [(r.user_id, r.bin, r.n) for r in rows] == [(1, 3, 5)]


def test_compact_lock_release_is_ownership_checked(spark, tmp_path, monkeypatch):
    # If some other process replaces the lock while we hold it (e.g. a
    # buggy reclaimer), the finally-release must NOT unlink their lock.
    import os

    from timeseriesdb_spark.api import SignalEngine

    path = str(tmp_path / "hist")
    eng = SignalEngine(spark, path)
    _write_hist_batch(spark, path, 0, 1, 5)

    lock = path + "__compact_lock"

    orig = SignalEngine._compact_partials_locked

    def hijack(self, p, kind):
        # mid-compaction, a foreign process steals/replaces the lock
        with open(lock, "w") as f:
            f.write("99999:feedface 0.0\n")
        return orig(self, p, kind)

    monkeypatch.setattr(SignalEngine, "_compact_partials_locked", hijack)
    assert eng.compact_partials(path, "hist") == 1
    # the foreign lock survived our release
    assert os.path.exists(lock)
    with open(lock) as f:
        assert f.read().startswith("99999:feedface")


def test_lease_heartbeat_keeps_lock_fresh(tmp_path):
    # The heartbeat re-touches the lock mtime so a long merge job
    # never ages past the stale horizon.
    import os
    import time

    from timeseriesdb_spark.api import _LeaseHeartbeat

    lock = str(tmp_path / "lk")
    with open(lock, "w") as f:
        f.write("x")
    old = time.time() - 9999
    os.utime(lock, (old, old))
    hb = _LeaseHeartbeat(lock, 0.05)
    hb.start()
    try:
        deadline = time.time() + 5.0
        while os.path.getmtime(lock) < time.time() - 60:
            assert time.time() < deadline, "heartbeat never touched lock"
            time.sleep(0.02)
    finally:
        hb.stop()
    assert os.path.getmtime(lock) >= time.time() - 60


def test_compact_partials_rejects_bad_kind_before_side_effects(
    spark, tmp_path
):
    # An unknown kind, or a tier that declares no combine (distinct,
    # drift), must raise ValueError naming the compactable kinds BEFORE
    # the lease lock, the aside dir or any store read: no lock and no
    # aside are left behind, and the store is untouched.
    import os

    import pytest

    from timeseriesdb_spark.api import SignalEngine

    path = str(tmp_path / "hist")
    eng = SignalEngine(spark, path)
    _write_hist_batch(spark, path, 0, 1, 5)
    for kind in ("nope", "distinct", "drift"):
        with pytest.raises(ValueError, match="compactable kinds.*ohlc"):
            eng.compact_partials(path, kind)
        assert os.listdir(tmp_path) == ["hist"]  # no lock, no aside
        assert [
            d for d in os.listdir(path) if d.startswith("batch_id=")
        ] == ["batch_id=0"]
