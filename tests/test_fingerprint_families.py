"""The fingerprint-family table (operators/multimodal.FAMILIES): every
image, audio and video near-dup family runs through one row kernel
(plus audio's grouped clip map), one band store, one incremental
decision and one stream probe.

Pins, per family: (a) the kernel ships to executors by value — it
unpickles and runs in a fresh interpreter that cannot import this
package; (b) the round trip store → stored incremental → stream probe
agrees with a numpy brute force on crafted near-dup replicas; and two
guards: (c) each bit expression lives in one function under
functions/, (d) no module under operators/ or streaming/ builds a
fingerprint kernel outside the table.
"""

from __future__ import annotations

import ast
import os
import pathlib
import pickle
import shutil
import subprocess
import sys
import textwrap

import numpy as np
import pandas as pd
import pytest

import timeseriesdb_spark
from timeseriesdb_spark.operators.multimodal import (
    DHASH_T,
    FAMILIES,
    fingerprints,
    fp_probe_stream,
    incremental_fp,
    write_fp_store,
)

PACKAGE = pathlib.Path(timeseriesdb_spark.__file__).parent

# ---- crafted near-dup replicas ----------------------------------------

# test_video's single-char-edit recipe: same length, so the same voxel
# tiling and frame count, few changed voxels
_BASE = "the quick brown fox jumps over the lazy dog and runs far away home"
_TEXTS = {
    0: _BASE,
    1: "completely different words entirely other content for testing zone",
    2: "static noise pattern alpha beta gamma delta epsilon zeta eta io",
}
_BATCH_TEXTS = {
    100: _BASE[:5] + chr(ord(_BASE[5]) + 1) + _BASE[6:],  # edit of 0
    102: _TEXTS[1],  # exact copy of 1; even id flips the image to BMP
    105: "an unrelated newcomer clip with its own words and its own length",
    107: "an unrelated newcomer clip with its own words and its own length",
}


def _walk(rng, n=5700):
    return np.cumsum(rng.normal(0, 1.0, n)) + 200.0


def _clips() -> tuple[dict, dict]:
    """test_audio_dedup's recipe: 100 is clip 0 with 5 appended steps
    (every chunk boundary moves by ≤ 5 of ~100 samples), 102 an exact
    copy of clip 1, 107 a batch-internal copy of 105."""
    rng = np.random.default_rng(42)
    corpus = {u: _walk(rng) for u in (0, 1, 2)}
    tail = corpus[0][-1] + np.cumsum(rng.normal(0, 1.0, 5))
    new = _walk(rng)
    batch = {
        100: np.concatenate([corpus[0], tail]),
        102: corpus[1].copy(),
        105: new,
        107: new.copy(),
    }
    return corpus, batch


def _payload(key: str, ident: int, item) -> bytes:
    """The batch tier's payload of one item, built outside Spark."""
    fam = FAMILIES[key]
    if fam.source == "events":
        return fam.synth(item)
    if fam.source == "text+id":
        return fam.synth(item.encode("utf-8"), ident)
    return fam.synth(item.encode("utf-8"))


def _items(key: str) -> tuple[dict, dict]:
    return _clips() if FAMILIES[key].source == "events" else (_TEXTS, _BATCH_TEXTS)


def _frame(spark, key: str, items: dict):
    """The batch tier's input frame: documents, or signal events."""
    if FAMILIES[key].source == "events":
        pdf = pd.DataFrame(
            [(u, i, i, float(v)) for u, vals in items.items()
             for i, v in enumerate(vals)],
            columns=["user_id", "ts", "event_id", "value"],
        )
        return spark.createDataFrame(
            pdf, "user_id long, ts long, event_id long, value double"
        )
    return spark.createDataFrame(
        list(items.items()), "doc_id long, text string"
    )


# ---- (a) every kernel ships by value ------------------------------------

class _RecordingFrame:
    """Stands in for a DataFrame: records the kernel each stage hands
    to mapInPandas."""

    def __init__(self, columns):
        self.columns = columns
        self.calls = []

    @property
    def schema(self):
        from pyspark.sql.types import StructType

        return StructType([])

    def repartition(self, *_):
        return self

    def sortWithinPartitions(self, *_):
        return self

    def mapInPandas(self, func, schema):
        self.calls.append(func)
        return self


def _two_rows(key: str, route: str) -> pd.DataFrame:
    fam = FAMILIES[key]
    corpus, _ = _items(key)
    idents = sorted(corpus)[:2]
    if route == "payload":
        return pd.DataFrame({
            fam.id_col: idents,
            "payload": [_payload(key, i, corpus[i]) for i in idents],
        })
    if fam.source == "events":  # one clip per row
        return pd.DataFrame({
            "user_id": idents, "ts": [0, 0], "event_id": [0, 0],
            "value": [float(corpus[i][0]) for i in idents],
        })
    return pd.DataFrame({"doc_id": idents, "text": [corpus[i] for i in idents]})


_CASES = sorted(
    (key, route) for key in FAMILIES for route in ("batch", "payload")
)

# Runs in a fresh interpreter whose sys.path cannot reach this package.
_LOADER = textwrap.dedent(
    """
    import pickle, sys
    with open(sys.argv[1], "rb") as f:
        cases = pickle.load(f)
    out = {}
    for name, (blob, pdf) in cases.items():
        try:
            out[name] = list(pickle.loads(blob)(iter([pdf])))
        except Exception as exc:
            out[name] = "%s: %s" % (type(exc).__name__, exc)
    with open(sys.argv[2], "wb") as f:
        pickle.dump(out, f)
    """
)


def _kernel(key: str, route: str, pdf: pd.DataFrame):
    frame = _RecordingFrame(list(pdf.columns))
    fingerprints(frame, key, carry=route == "payload")
    assert len(frame.calls) == 1
    return frame.calls[0]


@pytest.fixture(scope="module")
def run_elsewhere(tmp_path_factory):
    from pyspark import cloudpickle

    tmp = tmp_path_factory.mktemp("fp_ship_by_value")
    cases = {}
    for key, route in _CASES:
        pdf = _two_rows(key, route)
        cases[f"{key}/{route}"] = (
            cloudpickle.dumps(_kernel(key, route, pdf)), pdf
        )
    with open(tmp / "cases.pkl", "wb") as f:
        pickle.dump(cases, f)
    (tmp / "load.py").write_text(_LOADER)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "-I", "load.py", "cases.pkl", "out.pkl"],
        cwd=tmp, env=env, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode == 0, proc.stderr
    with open(tmp / "out.pkl", "rb") as f:
        return pickle.load(f)


@pytest.mark.parametrize("key,route", _CASES)
def test_family_kernel_ships_by_value(key, route, run_elsewhere):
    """Executors do not have this package installed: each family's
    kernel (the row kernel on both payload routes; audio's batch route
    is the grouped clip map) must unpickle and run without it, with
    the in-process output."""
    pdf = _two_rows(key, route)
    there = run_elsewhere[f"{key}/{route}"]
    assert isinstance(there, list), there
    here = list(_kernel(key, route, pdf)(iter([pdf])))
    got, want = pd.concat(there), pd.concat(here)
    pd.testing.assert_frame_equal(got, want)
    assert len(want) == 2 and want[FAMILIES[key].fp_col].str.len().eq(56).all()


# ---- (b) store → stored incremental → stream probe ----------------------

def _brute_flags(key: str) -> dict[int, tuple[int, int, int]]:
    """numpy reference: (dup_of_corpus, dup_of_batch, keep) per batch
    item, all-pairs hamming with no banding (no bucket of these tiny
    corpora reaches the df cap)."""
    fam = FAMILIES[key]
    corpus, batch = _items(key)
    fp = lambda i, item: fam.bits(fam.decode(_payload(key, i, item))[1])  # noqa: E731
    ham = lambda a, b: sum(x != y for x, y in zip(a, b))  # noqa: E731
    cfps = [fp(i, v) for i, v in corpus.items()]
    bfps = {i: fp(i, v) for i, v in batch.items()}
    out = {}
    for i, f in bfps.items():
        c = int(any(ham(f, g) <= DHASH_T for g in cfps))
        b = int(any(ham(f, bfps[j]) <= DHASH_T for j in bfps if j < i))
        out[i] = (c, b, int(not (c or b)))
    return out


@pytest.mark.parametrize("key", sorted(FAMILIES))
def test_family_round_trip(spark, tmp_path, key):
    """Per family: the band store written by write_fp_store, probed by
    incremental_fp, gives the inline corpus decision, which equals the
    numpy brute force; the stream probe against the stored bands keeps
    exactly the batch items that are not dup_of_corpus. The crafted
    replicas make both drop sets non-empty."""
    fam = FAMILIES[key]
    corpus_items, batch_items = _items(key)
    corpus, batch = _frame(spark, key, corpus_items), _frame(
        spark, key, batch_items
    )
    expect = _brute_flags(key)
    assert expect[102][0] == 1 and expect[107][1] == 1  # exact copies

    flags = lambda df: {  # noqa: E731
        r[fam.id_col]: (r.dup_of_corpus, r.dup_of_batch, r.keep)
        for r in df.collect()
    }
    inline = flags(incremental_fp(batch, corpus, key))
    table = f"{key}_round_trip_test"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    shutil.rmtree(f"spark-warehouse/{table}", ignore_errors=True)
    try:
        write_fp_store(corpus, key, table)
        stored = flags(incremental_fp(batch, table, key))
        # the stream: encoded payloads for audio (a clip stream carries
        # bytes), the documents themselves for the document families
        src = str(tmp_path / "src")
        if fam.source == "events":
            rows = spark.createDataFrame(
                [(i, bytearray(_payload(key, i, v)))
                 for i, v in batch_items.items()],
                "user_id long, payload binary",
            )
        else:
            rows = batch
        rows.coalesce(2).write.parquet(src)
        stream = (
            spark.readStream.schema(rows.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = (
            fp_probe_stream(stream, spark.table(table), key)
            .writeStream.format("parquet")
            .option("path", str(tmp_path / "out"))
            .option("checkpointLocation", str(tmp_path / "ck"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        out = spark.read.parquet(str(tmp_path / "out"))
        kept = {r[0] for r in out.select(fam.id_col).collect()}
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")
    assert inline == stored == expect
    assert kept == {i for i, f in expect.items() if f[0] == 0}
    assert set(rows.columns) | {fam.fp_col} <= set(out.columns)


# ---- (c), (d) guards -------------------------------------------------------

def _functions_with(pred) -> list[str]:
    """'<module>:<outermost function>' (or '<module>:<module>') of every
    AST node matching `pred` in the package."""
    hits = []
    for p in sorted(PACKAGE.rglob("*.py")):
        tree = ast.parse(p.read_text())
        rel = str(p.relative_to(PACKAGE))
        owner = {}
        for top in tree.body:
            for node in ast.walk(top):
                owner[node] = (
                    top.name if isinstance(
                        top, (ast.FunctionDef, ast.ClassDef)
                    ) else "<module>"
                )
        hits += [f"{rel}:{owner[n]}" for n in owner if pred(n)]
    return hits


def _calls(name: str):
    def pred(node) -> bool:
        if not isinstance(node, ast.Call):
            return False
        f = node.func
        return (isinstance(f, ast.Name) and f.id == name) or (
            isinstance(f, ast.Attribute) and f.attr == name
        )

    return pred


def _is_dhash_comparison(node) -> bool:
    """`n[:, 1:] > n[:, :-1]`: a strict compare of two slices of the
    same name along the last axis."""
    if not (isinstance(node, ast.Compare) and len(node.comparators) == 1
            and isinstance(node.ops[0], ast.Gt)):
        return False
    sides = [node.left, node.comparators[0]]
    return all(
        isinstance(s, ast.Subscript) and isinstance(s.slice, ast.Tuple)
        for s in sides
    ) and ast.unparse(sides[0]).endswith("1:]") and ast.unparse(
        sides[1]
    ).endswith(":-1]")


def test_bit_expressions_live_in_one_function_each():
    """The energy-delta hash is called from one function (the video
    voxel bits) and the dHash comparison written in one (the image
    bits); every other family reaches them through FAMILIES."""
    assert _functions_with(_calls("fingerprint_bits")) == [
        "functions/video.py:voxel_bits"
    ]
    assert _functions_with(_is_dhash_comparison) == [
        "functions/imaging.py:dhash_bits"
    ]


def test_fingerprint_kernels_only_through_the_table():
    """Under operators/ and streaming/, a family's bits function is
    named only in the FAMILIES table, and `.bits` is read only by the
    two kernels (the row kernel and audio's grouped clip map): any
    other fingerprint kernel is a hand-rolled copy."""
    bits_names = {f.bits.__name__ for f in FAMILIES.values()}

    def names_bits(node) -> bool:
        return (isinstance(node, ast.Attribute) and node.attr in bits_names) or (
            isinstance(node, ast.Name) and node.id in bits_names
        )

    def reads_bits(node) -> bool:
        return isinstance(node, ast.Attribute) and node.attr == "bits"

    scoped = lambda hits: sorted(  # noqa: E731
        set(h for h in hits if h.split("/")[0] in ("operators", "streaming"))
    )
    assert scoped(_functions_with(names_bits)) == [
        "operators/multimodal.py:<module>"
    ]
    assert scoped(_functions_with(reads_bits)) == []
    # the kernels unpack the family tuple instead of reading `.bits`
    owners = scoped(_functions_with(
        lambda n: isinstance(n, ast.Tuple) and isinstance(n.ctx, ast.Store)
        and "bits" in [getattr(e, "id", None) for e in n.elts]
    ))
    assert owners == [
        "operators/multimodal.py:_clip_fingerprints",
        "operators/multimodal.py:fingerprints",
    ]
