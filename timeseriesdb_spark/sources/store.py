"""The signal store: partitioned-Parquet persistence (SURVEY.md §1.5).

Replaces the reference's RocksDB KV of bincode'd segments
(file_handler.rs:29-53 fm_write/fm_get), whose segments are time-ordered
and keyed by (timestamp, signal) (segment.rs:77-90), with the
declarative layout Spark prunes natively:

- partition column `event_date` (day of ts) → partition pruning for
  time-range queries (the SegmentKey.timestamp axis);
- every file sorted by (user_id, ts) → per-signal windows read their
  rows presorted, and within a file the pages (Parquet's column index)
  each hold a narrow user_id range. Whether Spark's reads skip pages by
  those ranges is unverified. At the store's batch sizes a file is one
  row group spanning the whole id range, so footer (row-group) stats do
  not prune on user_id, and neither does the hash: each file still
  spans nearly the whole id range;
- the sort leads with the partition column: `partitionBy` plans its own
  sort on `event_date` unless the rows arrive sorted on it, and the
  optimizer then drops a local sort that does not start with it, so the
  files would come out unsorted;
- few files, sized to the batch: rows are hashed on
  pmod(hash(user_id), SIGNAL_BUCKETS), a key with SIGNAL_BUCKETS values
  and no fixed partition count. AQE coalesces a small batch to one
  partition (one file per day), and a batch too large to coalesce
  still fills at most SIGNAL_BUCKETS partitions, so files per day and
  write stay at most SIGNAL_BUCKETS. Each file costs more than its
  bytes: without Hadoop's native library every file and dir the
  committer makes forks a `chmod`, and every merge-at-read opens every
  file;
- Parquet encodings (dictionary / delta / byte-stream-split) + zstd do
  the Methods-enum job (§1.3) per column chunk, chosen by the writer.

At 100 TB: same layout, plus a target file size (maxRecordsPerFile or
table-format compaction) and bucketed tables if the engine supports
writing bucket metadata (saveAsTable with bucketBy) so signal-keyed
joins co-locate without a shuffle.
"""

from __future__ import annotations

import os
import shutil
from contextlib import contextmanager
from typing import Iterable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

SIGNAL_BUCKETS = 16  # file cap per date partition, per write and compaction
TARGET_FILE_BYTES = 128 * 1024 * 1024  # compaction target file size
# the footer key Spark's Parquet writer records its schema under
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def _micros_timestamps(events: DataFrame) -> None:
    """Write timestamps as TIMESTAMP_MICROS, not Spark's legacy INT96:
    INT96 columns carry NO parquet min/max statistics, which silently
    disables footer-stat time pruning on every store below. Session
    conf (sticky, like tables.load_table's nanosAsLong): the writer
    runs lazily, so the conf must hold at action time."""
    events.sparkSession.conf.set(
        "spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS"
    )


def write_signal_store(events: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Persist events as the time-partitioned, signal-clustered store
    laid out as the module docstring describes. The write holds the
    store's lock shared (_compaction_lock, writer=True): appends run
    side by side, wait for a running rewrite to finish, and make a new
    one refuse, so no rewrite deletes a file they commit."""
    _micros_timestamps(events)
    with _compaction_lock(path, writer=True):
        (
            events.withColumn("event_date", F.to_date("ts"))
            .repartition(F.pmod(F.hash("user_id"), F.lit(SIGNAL_BUCKETS)))
            .sortWithinPartitions("event_date", "user_id", "ts")
            .write.partitionBy("event_date")
            .option("compression", "zstd")
            .mode(mode)
            .parquet(path)
        )


def footer_schema(root: str, paths: list[str] | None = None) -> StructType:
    """The Spark schema recorded in the footer of the first part file
    under `paths` (searched in order; default the store `root`). It is
    the key Spark's own inference reads from one file, read here on the
    driver, so a read that declares it builds without running a job.
    Every store in this package is written by Spark to a local FS. A
    store with no part file raises ValueError."""
    import json

    import pyarrow.parquet as pq

    for path in [root] if paths is None else paths:
        for top, dirs, files in os.walk(path):
            dirs[:] = sorted(d for d in dirs if not d.startswith(("_", ".")))
            parts = sorted(
                f for f in files
                if f.endswith(".parquet") and not f.startswith(("_", "."))
            )
            if parts:
                meta = pq.read_metadata(os.path.join(top, parts[0])).metadata
                return StructType.fromJson(json.loads(meta[_SPARK_SCHEMA_KEY]))
    raise ValueError(
        f"store {root!r} is empty or missing: ingest into it or run its "
        "maintainer first"
    )


def read_signal_store(spark: SparkSession, path: str) -> DataFrame:
    """Scan the store with a declared schema: the footer's
    (footer_schema) plus the `event_date DATE` partition column, so
    building the scan runs no Spark job. Time/signal predicates prune
    partitions/files."""
    schema = footer_schema(path).add("event_date", "date")
    return spark.read.schema(schema).parquet(path)


ZORDER_BITS = 16    # per-dimension resolution of the z-curve
ZORDER_FILES = 16   # default file count for the clustered layout


def zorder_value(a: Column, b: Column) -> Column:
    """Interleave the low ZORDER_BITS bits of two already-normalized
    integer ranks into one z-curve key (bit of `a` above bit of `b`).
    Pure shift/mask arithmetic → whole-stage codegen, no UDF."""
    terms = []
    for i in range(ZORDER_BITS):
        bit_a = F.shiftright(a, i).bitwiseAND(F.lit(1))
        bit_b = F.shiftright(b, i).bitwiseAND(F.lit(1))
        terms.append(bit_a * F.lit(1 << (2 * i + 1)) + bit_b * F.lit(1 << (2 * i)))
    return sum(terms[1:], terms[0])


def _rank(c: Column, lo: float, hi: float) -> Column:
    """Order-preserving map of `c` onto [0, 2^ZORDER_BITS)."""
    span = max(hi - lo, 1e-9)
    scaled = (c.cast("double") - F.lit(float(lo))) / F.lit(span) * F.lit(
        float((1 << ZORDER_BITS) - 1)
    )
    return F.least(
        F.greatest(F.floor(scaled), F.lit(0)), F.lit((1 << ZORDER_BITS) - 1)
    ).cast("long")


def write_zorder_store(
    events: DataFrame, path: str, n_files: int = ZORDER_FILES, mode: str = "overwrite"
) -> None:
    """Multi-dimensional clustering: lay events out along a (user_id,
    ts) Z-ORDER curve so parquet footer min/max stats stay narrow in
    BOTH dimensions at once — a point/range predicate on EITHER column
    prunes ~sqrt-fraction of the files, where single-column sorting
    prunes only its own column and leaves the other unprunable.

    This is the layout for the second axis the date-partitioned store
    can't serve: `write_signal_store` answers time-sliced queries of
    many signals; this serves signal-sliced queries across long time
    spans from the same file set. One min/max agg (a scalar job) fixes
    the rank scale; repartitionByRange on the z-key plus an in-file
    sort gives every file a compact z-range, hence compact per-column
    ranges. At 100 TB the same two jobs run per ingest batch or per
    compaction window — the z-key is one codegen expression, so the
    cost is the range shuffle that a clustered write pays anyway."""
    _micros_timestamps(events)
    lo_a, hi_a, lo_b, hi_b = (
        events.agg(
            F.min(F.col("user_id").cast("double")),
            F.max(F.col("user_id").cast("double")),
            F.min(F.unix_micros(F.col("ts").cast("timestamp")).cast("double")),
            F.max(F.unix_micros(F.col("ts").cast("timestamp")).cast("double")),
        ).first()
    )
    z = zorder_value(
        _rank(F.col("user_id"), lo_a, hi_a),
        _rank(F.unix_micros(F.col("ts").cast("timestamp")), lo_b, hi_b),
    )
    (
        events.withColumn("__z", z)
        .repartitionByRange(n_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.option("compression", "zstd")
        .mode(mode)
        .parquet(path)
    )


# ---- store rewrites: one lock, one commit ------------------------------


@contextmanager
def _compaction_lock(
    store_path: str, error: type[Exception] = RuntimeError, writer: bool = False
):
    """Hold `<store>__compact_lock` for the block. A rewrite holds it
    exclusive: while anyone else (another process, or another fd in
    this one) holds it, it gets `error` at once. A writer holds it
    shared and waits for a rewrite to let go. The kernel drops the lock
    when its holder's process dies. The file is never unlinked: a
    caller could then lock a new inode while another still holds the
    old one."""
    import fcntl

    lock = store_path.rstrip("/") + "__compact_lock"
    os.makedirs(os.path.dirname(lock) or ".", exist_ok=True)
    fd = os.open(lock, os.O_CREAT | os.O_RDWR, 0o644)
    try:
        try:
            fcntl.flock(
                fd, fcntl.LOCK_SH if writer else fcntl.LOCK_EX | fcntl.LOCK_NB
            )
        except BlockingIOError:
            raise error(
                f"another compactor or a writer holds {lock}: a rewrite of "
                f"{store_path!r} (compact_partials, compact_partition or "
                "apply_retention) or an append to it (write_signal_store) "
                "is running; retry after it finishes"
            ) from None
        yield
    finally:
        os.close(fd)


def _exchange(a: str, b: str) -> None:
    """Swap two existing paths in one atomic step: Linux
    renameat2(RENAME_EXCHANGE)."""
    import ctypes

    at_fdcwd, rename_exchange = -100, 2
    renameat2 = ctypes.CDLL(None, use_errno=True).renameat2
    renameat2.argtypes = [
        ctypes.c_int, ctypes.c_char_p, ctypes.c_int, ctypes.c_char_p,
        ctypes.c_uint,
    ]
    renameat2.restype = ctypes.c_int
    if renameat2(
        at_fdcwd, os.fsencode(a), at_fdcwd, os.fsencode(b), rename_exchange
    ):
        err = ctypes.get_errno()
        raise OSError(err, os.strerror(err), a, None, b)


class _Commit:
    """The one commit of a store rewrite, handed out only by `rewrite`
    while it holds the store's lock: stage into `tmp`, `install` it,
    then `delete` what the install made dead."""

    def __init__(self, tmp: str):
        self.tmp = tmp

    def install(self, target: str) -> None:
        """Put the staged `tmp` at `target`: one rename if `target` is
        new, else one atomic exchange, after which the old target sits
        at `tmp` and is deleted like an uninstalled stage."""
        if not os.path.exists(target):
            os.rename(self.tmp, target)
            return
        _exchange(self.tmp, target)
        self.delete([self.tmp])

    def delete(self, dead: Iterable[str]) -> None:
        """Delete each dir of `dead` whole; delete each file with its
        checksum sidecar and then `os.rmdir` its dir if that left it
        empty. A missing path is already deleted."""
        for p in dead:
            if os.path.isdir(p):
                shutil.rmtree(p)
                continue
            top, name = os.path.split(p)
            for f in (p, os.path.join(top, f".{name}.crc")):
                if os.path.lexists(f):
                    os.remove(f)
            if os.path.isdir(top) and not os.listdir(top):
                os.rmdir(top)


@contextmanager
def rewrite(store_path: str, error: type[Exception] = RuntimeError):
    """Every rewrite of a store's files runs in this block: it holds the
    store's lock (_compaction_lock; a held lock raises `error`) and
    yields the _Commit whose staging dir `<store>__compact_tmp`, outside
    the store, it has just cleared of what a crash left there (an
    uninstalled stage, or the dead target of an exchange)."""
    with _compaction_lock(store_path, error):
        commit = _Commit(store_path.rstrip("/") + "__compact_tmp")
        if os.path.lexists(commit.tmp):
            commit.delete([commit.tmp])
        yield commit


def _part_files(part: str) -> list[str]:
    """The data files of one partition dir."""
    return [f for f in os.listdir(part) if f.endswith(".parquet")]


def compact_partition(spark: SparkSession, path: str, event_date: str) -> int:
    """Small-file compaction for one date partition — streaming ingest
    appends a file per micro-batch, and a 100 TB store lives or dies
    by file sizes (footer-stat pruning and scan throughput both
    degrade with file count). Rewrites the partition to at most
    SIGNAL_BUCKETS signal-clustered sorted files; returns the file count
    removed.

    The exchange is the one commit. Under the store's lock (rewrite)
    the day is staged in `<store>__compact_tmp`, outside the store, and
    swapped with `event_date=<d>` by one atomic exchange; the old day
    then sits at the tmp path and is deleted. A read at any point sees
    the old day or the new one, never both or neither. A crash leaves
    the old or the dead day at the tmp path, and the next rewrite of
    the store clears it. Ingest (write_signal_store) holds the same
    lock shared, so it waits while the day is rewritten, and a call
    made while an append is in flight refuses: no committed file is
    exchanged out and lost."""
    part = f"{path}/event_date={event_date}"
    with rewrite(path) as commit:
        if not os.path.isdir(part):
            return 0
        before = _part_files(part)
        total_bytes = sum(os.path.getsize(f"{part}/{f}") for f in before)
        # size the output by bytes (the point of compaction), capped at
        # the bucket count so signal clustering is preserved on big
        # partitions
        n_files = max(1, min(SIGNAL_BUCKETS, -(-total_bytes // TARGET_FILE_BYTES)))
        (
            read_signal_store(spark, path)
            .where(F.col("event_date") == F.lit(event_date).cast("date"))
            .drop("event_date")
            .repartition(n_files, "user_id")
            .sortWithinPartitions("user_id", "ts")
            .write.option("compression", "zstd")
            .mode("overwrite")
            .parquet(commit.tmp)
        )
        commit.install(part)
        return max(0, len(before) - len(_part_files(part)))
