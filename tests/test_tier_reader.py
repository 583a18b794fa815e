"""The one tier reader (api._read_tier): every merge-at-read declares
the schema its store's writer recorded and reads one consistent cut
(the retire-window cases live in test_streaming_guard.py, per
compactable family).

- building an engine read runs no Spark job: the schema comes from a
  footer read on the driver, not from Spark's inference job;
- an empty or missing store raises one ValueError that names it;
- a read built before a compaction and run after it refuses loudly or
  answers exactly, never a different number;
- no hand-rolled store read, and no store dir move or delete outside
  compaction and the replay guard, comes back (AST guards).
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

import pytest
from py4j.protocol import Py4JJavaError
from pyspark.sql import functions as F

from tests.conftest import SF_DIR
from timeseriesdb_spark.api import SignalEngine
from timeseriesdb_spark.tables import load_table

PACKAGE = Path(__file__).resolve().parents[1] / "timeseriesdb_spark"


def test_building_engine_reads_runs_no_job(spark, tmp_path):
    ev = load_table(spark, SF_DIR, "events").select(
        "user_id", "event_id", "ts", "event_type", "value"
    )
    src = str(tmp_path / "src")
    half = F.pmod(F.xxhash64("user_id"), F.lit(2))
    for i in range(2):
        ev.filter(half == i).coalesce(1).write.mode("append").parquet(src)
    eng = SignalEngine(spark, str(tmp_path / "store"))
    rollup, bars = str(tmp_path / "rollup"), str(tmp_path / "bars")
    for i, start in enumerate((
        eng.ingest_stream,
        lambda s, c: eng.maintain_rollup_stream(s, rollup, c),
        lambda s, c: eng.maintain_ohlc_stream(s, bars, c),
    )):
        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        start(stream, str(tmp_path / f"ck{i}")).awaitTermination(180)
    assert eng.compact_partials(bars, "ohlc") == 2

    sc = spark.sparkContext
    group = "tier-reader-build"
    sc.setJobGroup(group, "build engine reads")
    try:
        for df in (
            eng.smart_agg("max", rollup),
            eng.ohlc_bars(bars),
            eng.rollup_agg(rollup),
            eng.range_query(0.0, 50.0),
        ):
            assert df.schema.fields
        jobs = list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert jobs == []


def test_read_built_before_compaction_never_miscounts(spark, tmp_path):
    # A tier read lists its files when it is built. Compaction then
    # deletes the batch dirs it absorbed, so running the built read
    # may fail on a missing part file, but it must never count a batch
    # twice or drop one.
    ev = load_table(spark, SF_DIR, "events").select(
        "user_id", "event_id", "ts", "event_type", "value"
    )
    src, bars = str(tmp_path / "src"), str(tmp_path / "bars")
    quarter = F.pmod(F.xxhash64("user_id"), F.lit(4))
    for i in range(4):
        ev.filter(quarter == i).coalesce(1).write.mode("append").parquet(src)
    eng = SignalEngine(spark, str(tmp_path / "store"))
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    eng.maintain_ohlc_stream(
        stream, bars, str(tmp_path / "ck")
    ).awaitTermination(180)
    clean = eng.ohlc_bars(bars).count()
    assert clean > 0

    built = eng.ohlc_bars(bars)
    assert eng.compact_partials(bars, "ohlc") == 4
    try:
        n = built.count()
    except Py4JJavaError as exc:  # refused: a listed file is gone
        assert "FILE_NOT_EXIST" in str(exc), exc
    else:
        assert n == clean
    assert eng.ohlc_bars(bars).count() == clean


READERS = {
    "ohlc_bars": lambda eng, p: eng.ohlc_bars(p),
    "histogram_bins": lambda eng, p: eng.histogram_bins(p),
    "drift_scores": lambda eng, p: eng.drift_scores(p, SF_DIR),
}


@pytest.mark.parametrize("state", ["empty", "missing"])
@pytest.mark.parametrize("reader", sorted(READERS))
def test_empty_or_missing_store_raises(spark, tmp_path, reader, state):
    path = tmp_path / "tier"
    if state == "empty":
        path.mkdir()
    eng = SignalEngine(spark, str(tmp_path / "store"))
    with pytest.raises(
        ValueError, match=re.escape(repr(str(path))) + ".*maintainer first"
    ):
        READERS[reader](eng, str(path))


# Where a DataFrameReader may read Parquet in the engine and store
# modules: the tier reader, the signal store's reader, retention's read
# of the exact files its manifest pinned, and the corpus read. This
# list may only shrink.
ALLOWED_READS = {
    "api.py:_read_tier",
    "api.py:SignalEngine.apply_retention",
    "api.py:CorpusEngine.docs",
    "sources/store.py:read_signal_store",
}


def _reads_parquet(node) -> bool:
    """A `<...>.read<...>.parquet(...)` call: DataFrameReader Parquet."""
    if not (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "parquet"
    ):
        return False
    recv = node.func.value
    while isinstance(recv, (ast.Call, ast.Attribute)):
        if isinstance(recv, ast.Attribute) and recv.attr == "read":
            return True
        recv = recv.func if isinstance(recv, ast.Call) else recv.value
    return False


def _owners(rel: str, match) -> list[str]:
    """'<rel>:<qualified function>' of every node in `rel` that
    `match`es."""
    hits = []

    def visit(node, owner: str) -> None:
        for child in ast.iter_child_nodes(node):
            if match(child):
                hits.append(f"{rel}:{owner or '<module>'}")
            name = owner
            if isinstance(child, (ast.FunctionDef, ast.ClassDef)):
                name = f"{owner}.{child.name}" if owner else child.name
            visit(child, name)

    visit(ast.parse((PACKAGE / rel).read_text()), "")
    return hits


def test_no_hand_rolled_store_reads():
    hits = _owners("api.py", _reads_parquet)
    hits += _owners("sources/store.py", _reads_parquet)
    assert [h for h in hits if h not in ALLOWED_READS] == []
    assert len(hits) == len(set(hits))  # one read per allowed function


# Where api.py may move or delete a dir: compaction (its install
# rename and the deletes of the dirs it absorbed) and the replay
# guard's delete, both under the compaction lock. This list may only
# shrink.
ALLOWED_MOVES = {
    "api.py:SignalEngine._compact_partials_locked",
    "api.py:guard_fresh_checkpoint",
}
MOVERS = {("shutil", "rmtree"), ("shutil", "move"), ("os", "rename")}
# Names of the aside dir and lease protocol compaction no longer has.
GONE = ("__compact_old_", "_LeaseHeartbeat", "COMPACT_LEASE_S")


def _moves(node) -> bool:
    """A reference to shutil.rmtree, shutil.move or os.rename."""
    return (
        isinstance(node, ast.Attribute)
        and isinstance(node.value, ast.Name)
        and (node.value.id, node.attr) in MOVERS
    )


def test_store_dirs_move_only_under_the_compaction_lock():
    assert set(_owners("api.py", _moves)) == ALLOWED_MOVES
    for path in sorted(PACKAGE.rglob("*.py")):
        text = path.read_text()
        assert [g for g in GONE if g in text] == [], path
