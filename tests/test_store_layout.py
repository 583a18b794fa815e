"""Signal store layout: every file is in (user_id, ts) order, each write
makes one file per day for a small batch and at most SIGNAL_BUCKETS for
one too large to coalesce, and no partitioned write in the package
sorts on anything but its partition column first.
"""

from __future__ import annotations

import ast
import glob
import os
import pathlib

import pyarrow.parquet as pq
from pyspark.sql import functions as F

import timeseriesdb_spark
from timeseriesdb_spark.api import SignalEngine
from timeseriesdb_spark.sources import store


def _events(spark, n=3000, signals=50):
    """`n` events in time order over 4 days, the signals interleaved,
    so input order is never (user_id, ts) order within a day."""
    return spark.range(n, numPartitions=4).select(
        F.col("id").alias("event_id"),
        (F.col("id") % signals).alias("user_id"),
        F.timestamp_seconds(F.lit(1704067200) + F.col("id") * 90).alias("ts"),
        (F.col("id") * 0.5).alias("value"),
    )


def _files_by_day(path):
    days = sorted(glob.glob(f"{path}/event_date=*"))
    return {d: sorted(glob.glob(f"{d}/*.parquet")) for d in days}


def test_store_files_sorted_by_signal_then_time(spark, tmp_path):
    path = str(tmp_path / "store")
    store.write_signal_store(_events(spark), path)
    by_day = _files_by_day(path)
    assert len(by_day) == 4
    rows = 0
    for f in (f for fs in by_day.values() for f in fs):
        t = pq.read_table(f, columns=["user_id", "ts"])
        u = t["user_id"].to_numpy()
        ts = t["ts"].cast("int64").to_numpy()
        rows += len(u)
        ordered = (u[1:] > u[:-1]) | ((u[1:] == u[:-1]) & (ts[1:] >= ts[:-1]))
        assert ordered.all(), f"{f}: not in (user_id, ts) order"
    assert rows == 3000


def test_batch_ingest_writes_one_file_per_day(spark, tmp_path):
    path = str(tmp_path / "store")
    SignalEngine(spark, path).ingest(_events(spark))
    by_day = _files_by_day(path)
    assert len(by_day) == 4
    assert {d: len(fs) for d, fs in by_day.items()} == {d: 1 for d in by_day}


def test_stream_ingest_batch_writes_one_file_per_day(spark, tmp_path):
    src, path = str(tmp_path / "src"), str(tmp_path / "store")
    ev = _events(spark)
    ev.coalesce(1).write.parquet(src)
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = SignalEngine(spark, path).ingest_stream(stream, str(tmp_path / "ckpt"))
    assert q.awaitTermination(180), "stream did not finish"
    by_day = _files_by_day(path)
    assert len(by_day) == 4
    assert {d: len(fs) for d, fs in by_day.items()} == {d: 1 for d in by_day}
    assert store.read_signal_store(spark, path).count() == 3000


def test_uncoalesced_write_keeps_bucket_cap(spark, tmp_path):
    """A batch too large for AQE to merge keeps at most SIGNAL_BUCKETS
    files per day, however many shuffle partitions the session has.
    Turning coalescing off and raising the partition count stands in
    for such a batch."""
    path = str(tmp_path / "store")
    confs = {
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        "spark.sql.shuffle.partitions": "64",
    }
    saved = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        store.write_signal_store(_events(spark, signals=400), path)
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
    by_day = _files_by_day(path)
    assert len(by_day) == 4
    counts = [len(fs) for fs in by_day.values()]
    assert all(1 < c <= store.SIGNAL_BUCKETS for c in counts), counts
    assert store.read_signal_store(spark, path).count() == 3000


def _chain_call(node, name):
    """The first `.name(...)` call down a method chain's receivers."""
    while isinstance(node, (ast.Call, ast.Attribute)):
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == name
        ):
            return node
        node = node.func if isinstance(node, ast.Call) else node.value
    return None


def _literal(node):
    return node.value if isinstance(node, ast.Constant) else ast.dump(node)


def test_partitioned_writes_sort_partition_column_first():
    """`write.partitionBy(c)` plans a sort on `c` unless the rows already
    arrive sorted on it, and the optimizer then drops a local sort that
    does not lead with `c`: the files come out unsorted. So a
    `sortWithinPartitions` ahead of a partitioned write must start
    with the partition column."""
    root = pathlib.Path(timeseriesdb_spark.__file__).parent
    offenders = []
    for src in sorted(root.rglob("*.py")):
        tree = ast.parse(src.read_text(), filename=str(src))
        for node in ast.walk(tree):
            if not (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "partitionBy"
                and isinstance(node.func.value, ast.Attribute)
                and node.func.value.attr == "write"
                and node.args
            ):
                continue
            sort = _chain_call(node.func.value.value, "sortWithinPartitions")
            if sort is None:
                continue
            part, first = _literal(node.args[0]), (
                _literal(sort.args[0]) if sort.args else None
            )
            if first != part:
                offenders.append(
                    f"{os.path.relpath(src, root)}:{node.lineno} "
                    f"partitionBy({part!r}) after a sort on {first!r}"
                )
    assert not offenders, offenders
