"""The one tier reader (api._read_tier): every merge-at-read declares
the schema its store's writer recorded and reads one consistent cut
(the retire-window cases live in test_streaming_guard.py, per
compactable family).

- building an engine read runs no Spark job: the schema comes from a
  footer read on the driver, not from Spark's inference job;
- an empty or missing store raises one ValueError that names it;
- a read built before a compaction and run after it refuses loudly or
  answers exactly, never a different number;
- no hand-rolled store read, no store dir or file move or delete
  outside the store's one commit (store.rewrite), and no Hadoop
  FileSystem call comes back (AST and text guards).
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

import pytest
from py4j.protocol import Py4JJavaError
from pyspark.sql import functions as F

from tests.conftest import SF_DIR
from timeseriesdb_spark.api import CorpusEngine, SignalEngine, _write_corpus
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
    corpus = CorpusEngine(spark, str(tmp_path / "corpus"))
    _write_corpus(
        spark.createDataFrame(
            [(1, "a b", "web", 2, "train"), (2, "c", "news", 1, "test")],
            "doc_id long, text string, source string, n_tokens int, "
            "split string",
        ),
        corpus.path,
        "overwrite",
    )

    sc = spark.sparkContext
    group = "tier-reader-build"
    sc.setJobGroup(group, "build engine reads")
    try:
        for df in (
            eng.smart_agg("max", rollup),
            eng.ohlc_bars(bars),
            eng.rollup_agg(rollup),
            eng.range_query(0.0, 50.0),
            corpus.split("train"),
            corpus.stats(),
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
# of the exact files it pinned, and the corpus read. This list may only
# shrink.
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


# Where the engine and store modules may move or delete a store dir or
# file: the store's one commit (_Commit: install, then delete the
# dead), which only store.rewrite hands out, inside its
# `with _compaction_lock(...)`. This list may only shrink.
ALLOWED_MOVES = {
    "sources/store.py:_Commit.install",
    "sources/store.py:_Commit.delete",
}
MOVERS = {
    ("shutil", "rmtree"), ("shutil", "move"), ("os", "rename"),
    ("os", "remove"), ("os", "unlink"), ("os", "rmdir"),
}
# Names of the aside dir, lease protocol, visible compaction siblings
# and retention manifests that the store rewrites no longer have.
GONE = (
    "__compact_old_", "_LeaseHeartbeat", "COMPACT_LEASE_S",
    ".compacting", "_manifests", "atomic_write",
)


def _moves(node) -> bool:
    """A reference to a dir or file mover or deleter (MOVERS)."""
    return (
        isinstance(node, ast.Attribute)
        and isinstance(node.value, ast.Name)
        and (node.value.id, node.attr) in MOVERS
    )


def _calls(name: str):
    """Matches a call of the bare name `name`."""
    return lambda node: (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Name)
        and node.func.id == name
    )


def test_store_dirs_move_only_under_the_compaction_lock():
    hits = _owners("api.py", _moves) + _owners("sources/store.py", _moves)
    assert set(hits) == ALLOWED_MOVES
    # _Commit is built once: in store.rewrite, under the store's lock
    assert _owners("api.py", _calls("_Commit")) == []
    assert _owners("sources/store.py", _calls("_Commit")) == [
        "sources/store.py:rewrite"
    ]
    tree = ast.parse((PACKAGE / "sources/store.py").read_text())
    rewrite = next(
        n for n in tree.body
        if isinstance(n, ast.FunctionDef) and n.name == "rewrite"
    )
    locked = [
        w for w in ast.walk(rewrite)
        if isinstance(w, ast.With)
        and _calls("_compaction_lock")(w.items[0].context_expr)
    ]
    assert len(locked) == 1
    assert any(_calls("_Commit")(n) for n in ast.walk(locked[0]))
    for path in sorted(PACKAGE.rglob("*.py")):
        text = path.read_text()
        assert [g for g in GONE if g in text] == [], path


def test_no_hadoop_filesystem_calls():
    # Store files are renamed and deleted by sources/store.py on the
    # local filesystem; no module goes through py4j to Hadoop's
    # FileSystem.
    for path in sorted(PACKAGE.rglob("*.py")):
        text = path.read_text()
        assert "org.apache.hadoop.fs" not in text, path
        assert "getFileSystem" not in text, path
