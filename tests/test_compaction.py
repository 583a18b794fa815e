"""Store rewrites: many small appended files collapse to the bucketed
layout with identical data, partial stores compact into one
generation, and retention moves aged days into a tier. Each rewrite
commits by one install under the store's lock; a read at or after
any crash point answers exactly.
"""

from __future__ import annotations

import pytest
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


DAY = "2024-01-05"


def _appended_day(spark, path) -> int:
    """A store whose DAY partition holds five appends of small files;
    returns its row count."""
    ev = load_table(spark, SF_DIR, "events").filter(F.to_date("ts") == DAY)
    with_date = ev.withColumn("event_date", F.to_date("ts"))
    for _ in range(5):
        with_date.coalesce(2).write.partitionBy("event_date").mode(
            "append"
        ).parquet(path)
    return 5 * ev.count()


def _parquets(d):
    import os

    return sorted(f for f in os.listdir(d) if f.endswith(".parquet"))


def _days(path):
    import os

    return sorted(d for d in os.listdir(path) if d.startswith("event_date"))


def test_compact_partition_read_at_commit_point(spark, tmp_path, monkeypatch):
    # The day is staged outside the store and installed by one atomic
    # exchange, so a read once the stage is written (the commit point)
    # and right after the exchange (before the old day is deleted)
    # both give the clean count: no staged or retired sibling is ever
    # a partition of the store.
    import os
    import shutil

    from pyspark.sql.readwriter import DataFrameWriter

    from timeseriesdb_spark.api import SignalEngine

    path = str(tmp_path / "store")
    clean = _appended_day(spark, path)
    eng = SignalEngine(spark, path)
    counts = []
    write, rmtree = DataFrameWriter.parquet, shutil.rmtree

    def write_then_read(self, *args, **kw):
        write(self, *args, **kw)
        counts.append(eng.events().count())

    def read_then_rmtree(p, *args, **kw):
        counts.append(eng.events().count())
        rmtree(p, *args, **kw)

    n_files = len(_parquets(f"{path}/event_date={DAY}"))
    monkeypatch.setattr(DataFrameWriter, "parquet", write_then_read)
    monkeypatch.setattr(shutil, "rmtree", read_then_rmtree)
    assert store.compact_partition(spark, path, DAY) == n_files - 1
    monkeypatch.undo()
    assert counts == [clean, clean]
    assert _days(path) == [f"event_date={DAY}"]


@pytest.mark.parametrize("point", ["staged", "exchanged", "dead_cut"])
def test_compact_partition_crash_point(spark, tmp_path, monkeypatch, point):
    # A crash before the exchange leaves the stage at the tmp path; one
    # after it leaves the old day there, whole or with some part files
    # already deleted. Neither is in the store, so a read answers
    # exactly, and the next call clears the tmp and leaves one day dir
    # of at most SIGNAL_BUCKETS files.
    import os
    import shutil

    from timeseriesdb_spark.api import SignalEngine

    path = str(tmp_path / "store")
    tmp = path + "__compact_tmp"
    clean = _appended_day(spark, path)
    n_files = len(_parquets(f"{path}/event_date={DAY}"))
    eng = SignalEngine(spark, path)

    def crash_exchange(a, b):
        raise _Crash

    def crash_rmtree(p, *args, **kw):
        if point == "dead_cut":  # dies mid-delete of the old day
            os.remove(os.path.join(p, _parquets(p)[0]))
        raise _Crash

    if point == "staged":
        monkeypatch.setattr(store, "_exchange", crash_exchange)
    else:
        monkeypatch.setattr(shutil, "rmtree", crash_rmtree)
    with pytest.raises(_Crash):
        store.compact_partition(spark, path, DAY)
    monkeypatch.undo()

    n_tmp = {"staged": 1, "exchanged": n_files, "dead_cut": n_files - 1}[point]
    assert len(_parquets(tmp)) == n_tmp
    assert _days(path) == [f"event_date={DAY}"]
    assert eng.events().count() == clean

    store.compact_partition(spark, path, DAY)
    assert eng.events().count() == clean
    assert _days(path) == [f"event_date={DAY}"]
    assert 0 < len(_parquets(f"{path}/event_date={DAY}")) <= store.SIGNAL_BUCKETS
    assert not os.path.exists(tmp)


def test_compact_partition_keeps_concurrent_appends(spark, tmp_path, monkeypatch):
    # Ingest holds the store's lock shared. A rewrite refuses while an
    # append is in flight, and an append started while the day is being
    # exchanged waits for the rewrite to finish: its rows land in the
    # new day instead of being exchanged out with the old one.
    import fcntl
    import os
    import threading

    from timeseriesdb_spark.api import SignalEngine

    path = str(tmp_path / "store")
    clean = _appended_day(spark, path)
    eng = SignalEngine(spark, path)

    fd = os.open(path + "__compact_lock", os.O_CREAT | os.O_RDWR)
    try:
        fcntl.flock(fd, fcntl.LOCK_SH)  # an append in flight
        with pytest.raises(RuntimeError, match="a writer"):
            store.compact_partition(spark, path, DAY)
    finally:
        os.close(fd)

    extra = load_table(spark, SF_DIR, "events").filter(F.to_date("ts") == DAY)
    n_extra = extra.count()
    exchange, flock = store._exchange, fcntl.flock
    asked, waited, errors = threading.Event(), [], []

    def append():
        try:
            eng.ingest(extra)
        except Exception as exc:  # reported by the asserts below
            errors.append(exc)

    ingest = threading.Thread(target=append, daemon=True)

    def spy_flock(fd, op):
        if op == fcntl.LOCK_SH:
            asked.set()
        return flock(fd, op)

    def exchange_during_ingest(a, b):
        ingest.start()
        for _ in range(2400):  # until it asks for the lock or is done
            if asked.wait(0.05) or not ingest.is_alive():
                break
        ingest.join(timeout=1)
        waited.append(ingest.is_alive())
        exchange(a, b)

    monkeypatch.setattr(fcntl, "flock", spy_flock)
    monkeypatch.setattr(store, "_exchange", exchange_during_ingest)
    store.compact_partition(spark, path, DAY)
    ingest.join(timeout=300)
    monkeypatch.undo()
    assert not ingest.is_alive() and errors == []
    assert waited == [True]
    assert eng.events().count() == clean + n_extra


@pytest.mark.parametrize("point", ["staged", "installed", "part_deleted"])
def test_apply_retention_crash_point(spark, tmp_path, monkeypatch, point):
    # Retention's one commit is the rename that installs
    # tiered_before=<cutoff>. A crash before it leaves the raw store
    # whole and no tier; a crash after it leaves some or all of the
    # pinned files, which the next call deletes without tiering again.
    # At every point the raw store reads, and after the next call the
    # tier holds every aged row once and the raw store none.
    import os

    import pyarrow.parquet as pq

    from timeseriesdb_spark.api import SignalEngine

    cutoff = "2024-01-15"
    path, tier = str(tmp_path / "store"), str(tmp_path / "tier")
    run_dir = f"{tier}/tiered_before={cutoff}"
    eng = SignalEngine(spark, path)
    ev = load_table(spark, SF_DIR, "events")
    eng.ingest(ev)
    n_all = ev.count()
    n_old = ev.filter(F.to_date("ts") < cutoff).count()
    remove, gone = os.remove, []

    def crash_rename(src, dst):
        raise _Crash

    def crash_remove(p):
        if p.endswith(".parquet"):
            if point == "installed" or gone:
                raise _Crash
            gone.append(pq.read_metadata(p).num_rows)
        remove(p)

    if point == "staged":
        monkeypatch.setattr(os, "rename", crash_rename)
    else:
        monkeypatch.setattr(os, "remove", crash_remove)
    with pytest.raises(_Crash):
        eng.apply_retention(tier, cutoff, chunk=8)
    monkeypatch.undo()

    assert os.path.isdir(path + "__compact_tmp") == (point == "staged")
    assert os.path.isdir(run_dir) == (point != "staged")
    if point != "staged":
        tiered = spark.read.parquet(tier).agg(F.sum("n_src_rows"))
        assert tiered.first()[0] == n_old
    assert eng.events().count() == n_all - sum(gone)
    assert eng.events().where(F.col("event_date") >= cutoff).count() == (
        n_all - n_old
    )

    eng.apply_retention(tier, cutoff, chunk=8)
    tiered = spark.read.parquet(tier).agg(F.sum("n_src_rows"))
    assert tiered.first()[0] == n_old
    assert eng.events().count() == n_all - n_old
    assert eng.events().where(F.col("event_date") < cutoff).count() == 0
    assert not [
        d for d in os.listdir(path) if d.startswith("event_date=")
        and d.split("=", 1)[1] < cutoff
    ]
    assert not os.path.exists(path + "__compact_tmp")


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


class _Crash(Exception):
    """Raised by a patched filesystem call: the process dies there."""


def _hist_dirs(path):
    import os

    return sorted(d for d in os.listdir(path) if d.startswith("batch_id="))


@pytest.mark.parametrize("point", ["tmp_written", "installed", "dead_dir_cut"])
def test_compact_partials_crash_point(spark, tmp_path, monkeypatch, point):
    # The install rename is compaction's one commit. A crash before it
    # leaves an uninstalled __compact_tmp; a crash after it leaves dead
    # dirs (absorbed by the installed generation), whole or with some
    # part files already deleted. At every point a read answers
    # exactly, and the next compaction leaves only its own generation.
    import os
    import shutil

    from timeseriesdb_spark.api import SignalEngine

    path = str(tmp_path / "hist")
    eng = SignalEngine(spark, path)
    _write_hist_batch(spark, path, 0, 1, 5)
    eng.compact_partials(path, "hist")  # compacted-0 absorbs batch 0
    for n in (60, 40):  # batch 1: two part files
        spark.createDataFrame(
            [(1, "2024-01-05", 3, n)],
            "user_id long, day string, bin int, partial_n long",
        ).coalesce(1).write.mode("append").parquet(f"{path}/batch_id=1")
    _write_hist_batch(spark, path, 2, 1, 2)
    snapshot = ["batch_id=1", "batch_id=2", "batch_id=compacted-0"]
    assert _hist_dirs(path) == snapshot

    rename, rmtree = os.rename, shutil.rmtree

    def crash_rename(src, dst):
        if point == "tmp_written":
            raise _Crash
        rename(src, dst)

    def crash_rmtree(p, *args, **kw):
        if point == "dead_dir_cut":  # dies mid-delete of batch_id=1
            os.remove(os.path.join(p, sorted(
                f for f in os.listdir(p) if f.endswith(".parquet")
            )[0]))
        raise _Crash

    monkeypatch.setattr(os, "rename", crash_rename)
    # only the dead-dir deletes: __compact_tmp is absent at the start
    monkeypatch.setattr(shutil, "rmtree", crash_rmtree)
    with pytest.raises(_Crash):
        eng.compact_partials(path, "hist")
    monkeypatch.undo()

    if point == "tmp_written":
        assert os.path.isdir(path + "__compact_tmp")
        assert _hist_dirs(path) == snapshot
        gen = 0
    else:
        assert _hist_dirs(path) == snapshot + ["batch_id=compacted-1"]
        gen = 1
    parts = os.listdir(f"{path}/batch_id=1")
    assert sum(f.endswith(".parquet") for f in parts) == (
        1 if point == "dead_dir_cut" else 2
    )

    _write_hist_batch(spark, path, 3, 1, 1)  # lands after the crash
    clean = [(1, 3, 5 + 60 + 40 + 2 + 1)]
    rows = eng.histogram_bins(path).collect()
    assert [(r.user_id, r.bin, r.n) for r in rows] == clean
    eng.compact_partials(path, "hist")
    rows = eng.histogram_bins(path).collect()
    assert [(r.user_id, r.bin, r.n) for r in rows] == clean
    assert _hist_dirs(path) == [f"batch_id=compacted-{gen + 1}"]
    assert not os.path.exists(path + "__compact_tmp")


def test_compact_partials_lock_excludes_second_compactor(spark, tmp_path):
    # <store>__compact_lock is a kernel flock held for the whole call.
    # Held on another fd in this process, or by another process, a
    # second call raises up front and touches no batch dir. The kernel
    # drops a killed holder's lock, so the next call just runs; the
    # lock file itself is never unlinked.
    import fcntl
    import os
    import subprocess
    import sys

    from timeseriesdb_spark.api import SignalEngine

    path = str(tmp_path / "hist")
    eng = SignalEngine(spark, path)
    _write_hist_batch(spark, path, 0, 1, 5)
    lock = path + "__compact_lock"

    fd = os.open(lock, os.O_CREAT | os.O_RDWR)
    try:
        fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
        with pytest.raises(RuntimeError, match="another compactor"):
            eng.compact_partials(path, "hist")
        assert _hist_dirs(path) == ["batch_id=0"]
    finally:
        os.close(fd)

    holder = subprocess.Popen(
        [sys.executable, "-c",
         "import fcntl, os, sys, time\n"
         "fd = os.open(sys.argv[1], os.O_RDWR)\n"
         "fcntl.flock(fd, fcntl.LOCK_EX)\n"
         "print('locked', flush=True)\n"
         "time.sleep(300)\n",
         lock],
        stdout=subprocess.PIPE, text=True,
    )
    try:
        assert holder.stdout.readline().strip() == "locked"
        with pytest.raises(RuntimeError, match="another compactor"):
            eng.compact_partials(path, "hist")
        assert _hist_dirs(path) == ["batch_id=0"]
    finally:
        holder.kill()  # SIGKILL: no cleanup runs in the holder
        holder.wait(timeout=60)
        holder.stdout.close()
    assert eng.compact_partials(path, "hist") == 1
    rows = eng.histogram_bins(path).collect()
    assert [(r.user_id, r.bin, r.n) for r in rows] == [(1, 3, 5)]
    assert os.path.exists(lock)


def test_compact_partials_rejects_bad_kind_before_side_effects(
    spark, tmp_path
):
    # An unknown kind, or a tier that declares no combine (distinct,
    # drift), must raise ValueError naming the compactable kinds BEFORE
    # the compaction lock or any store read: no lock file is created,
    # and the store is untouched.
    import os

    from timeseriesdb_spark.api import SignalEngine

    path = str(tmp_path / "hist")
    eng = SignalEngine(spark, path)
    _write_hist_batch(spark, path, 0, 1, 5)
    for kind in ("nope", "distinct", "drift"):
        with pytest.raises(ValueError, match="compactable kinds.*ohlc"):
            eng.compact_partials(path, kind)
        assert os.listdir(tmp_path) == ["hist"]  # no lock file
        assert [
            d for d in os.listdir(path) if d.startswith("batch_id=")
        ] == ["batch_id=0"]
