"""Image near-dup family: dHash fingerprints over the integer-exact
resized grid + banded-Hamming pairs. Pins (a) pigeonhole COMPLETENESS
— with 4 bands and DHASH_T=3 the banded join must find EXACTLY the
brute-force all-pairs answer whenever no bucket overflows the df cap,
(b) decision/pair consistency, and (c) pair-output linearity on a
replicated-image probe (k rotated replicas → k· the injected pairs,
never k²; no cross-replica pairs)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR
from timeseriesdb_spark.functions import imaging
from timeseriesdb_spark.operators.multimodal import (
    DHASH_BAND_DF_CAP,
    DHASH_BAND_W,
    DHASH_BANDS,
    DHASH_GRID,
    DHASH_T,
    q_image_dedup,
    q_image_dhash,
    q_image_neardup,
)


def _brute_pairs(fps: dict[int, str]) -> set[tuple[int, int, int]]:
    """All-pairs hamming ≤ DHASH_T via packed-uint64 XOR popcount."""
    ids = np.array(sorted(fps), dtype=np.int64)
    packed = np.array([int(fps[i], 2) for i in ids], dtype=np.uint64)
    out = set()
    for i in range(len(ids)):
        x = np.bitwise_xor(packed[i], packed[i + 1 :])
        ham = np.array(
            [bin(int(v)).count("1") for v in x], dtype=np.int64
        )
        for j in np.nonzero(ham <= DHASH_T)[0]:
            out.add((int(ids[i]), int(ids[i + 1 + j]), int(ham[j])))
    return out


def _fps_of(df) -> dict[int, str]:
    return {int(r.doc_id): r.dhash for r in df.collect()}


def test_neardup_equals_bruteforce(spark):
    fps = _fps_of(q_image_dhash(spark, SF_DIR))
    assert len(fps) > 0
    assert all(len(v) == DHASH_GRID * (DHASH_GRID - 1) for v in fps.values())
    # pigeonhole precondition: no band bucket overflows the df cap
    from collections import Counter

    buckets = Counter(
        (b, v[b * DHASH_BAND_W : (b + 1) * DHASH_BAND_W])
        for v in fps.values()
        for b in range(DHASH_BANDS)
    )
    assert max(buckets.values()) <= DHASH_BAND_DF_CAP
    got = {
        (r.doc_a, r.doc_b, r.hamming)
        for r in q_image_neardup(spark, SF_DIR).collect()
    }
    assert got == _brute_pairs(fps)


def test_dedup_decision_consistent_with_pairs(spark):
    pairs = q_image_neardup(spark, SF_DIR).collect()
    dropped = {r.doc_b for r in pairs}
    dec = q_image_dedup(spark, SF_DIR).collect()
    assert len(dec) > 0
    for r in dec:
        assert r.keep == (0 if r.doc_id in dropped else 1)


def test_incremental_stored_probe_parity(spark, tmp_path):
    """Probing the persisted band_key-bucketed dHash store must give
    the IDENTICAL keep/drop frame as the inline corpus derivation —
    the store is a cache, never a semantics change. Also pins the
    keep-first rule: an injected exact copy of a corpus image is
    dup_of_corpus, a batch-internal copy pair flags only its LARGER
    doc_id."""
    from timeseriesdb_spark.operators.dedup import CORPUS_SOURCE
    from timeseriesdb_spark.operators.multimodal import (
        incremental_fp,
        write_fp_store,
    )

    doc = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text", "source"
    )
    corpus = doc.where(F.col("source") == CORPUS_SOURCE)
    # batch = the other sources PLUS an exact copy of one corpus doc
    # and a batch-internal duplicate pair (ids far above the corpus)
    c0 = corpus.orderBy("doc_id").limit(1).collect()[0]
    b0 = (
        doc.where(F.col("source") != CORPUS_SOURCE)
        .orderBy("doc_id")
        .limit(1)
        .collect()[0]
    )
    extra = spark.createDataFrame(
        [
            (9_000_001, c0.text, "srcX"),   # dup of corpus
            (9_000_002, b0.text, "srcX"),   # dup of earlier batch doc
        ],
        "doc_id long, text string, source string",
    )
    batch = doc.where(F.col("source") != CORPUS_SOURCE).unionByName(extra)

    inline = {
        r.doc_id: (r.dup_of_corpus, r.dup_of_batch, r.keep)
        for r in incremental_fp(batch, corpus, "dhash").collect()
    }
    # a previous session may have left the managed-table LOCATION
    # behind without its catalog entry (DROP alone won't clear it)
    import shutil

    spark.sql("DROP TABLE IF EXISTS dhash_probe_test")
    shutil.rmtree("spark-warehouse/dhash_probe_test", ignore_errors=True)
    try:
        write_fp_store(corpus, "dhash", "dhash_probe_test")
        stored = {
            r.doc_id: (r.dup_of_corpus, r.dup_of_batch, r.keep)
            for r in incremental_fp(
                batch, "dhash_probe_test", "dhash"
            ).collect()
        }
    finally:
        spark.sql("DROP TABLE IF EXISTS dhash_probe_test")
    assert inline == stored
    assert inline[9_000_001][0] == 1 and inline[9_000_001][2] == 0
    assert inline[9_000_002][1] == 1 and inline[9_000_002][2] == 0
    # the ORIGINAL batch doc keeps (keep-first: only the later copy drops)
    assert inline[b0.doc_id][1] == 0


_AB = "abcdefghijklmnopqrstuvwxyz"
_REP_STRIDE = 1_000_000


@pytest.fixture()
def replicated_corpus(spark, tmp_path):
    """k replicas of the sf corpus, each with 10 EXACT image
    duplicates injected (copies of the replica's first 10 docs under
    shifted ids — doc_id parity may flip the encode format, but
    decode returns the same pixels, so fingerprints are equal by
    construction). Replica r prepends an r·7-char prefix to every
    text: the byte length shifts, so the synthesized image DIMENSIONS
    change and cross-replica images decorrelate (an alphabet rotation
    is NOT enough — it shifts letter bytes by a small constant, and
    dHash gradients are deliberately robust to uniform shifts, so
    rotated replicas produce genuine cross-replica near-dups)."""

    def build(k: int) -> str:
        doc = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
            "doc_id", "text"
        )
        reps = []
        for rep in range(k):
            r = doc.select(
                (F.col("doc_id") + F.lit(rep * _REP_STRIDE)).alias("doc_id"),
                F.concat(F.lit("qz" * 3 * rep + " " if rep else ""),
                         F.col("text")).alias("text"),
            )
            dup = (
                r.orderBy("doc_id")
                .limit(10)
                .select(
                    (F.col("doc_id") + F.lit(_REP_STRIDE // 2)).alias(
                        "doc_id"
                    ),
                    "text",
                )
            )
            reps.append(r.unionByName(dup))
        allreps = reps[0]
        for r in reps[1:]:
            allreps = allreps.unionByName(r)
        out = str(tmp_path / f"x{k}")
        allreps.write.mode("overwrite").parquet(f"{out}/documents.parquet")
        return out

    return build


def test_replicated_probe_pairs_linear(spark, replicated_corpus):
    """k replicas with 10 injected exact-dup pairs each: every
    injected pair surfaces (at hamming 0), every emitted pair stays
    INSIDE its replica (bucketed pairing never goes cross-replica —
    the never-k² evidence), and the per-replica pair counts are equal
    up to each rotation's own accidental near-dups (verified against
    brute force, so 'linear' is exact, not asymptotic)."""
    first10 = [
        int(r.doc_id)
        for r in spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .select("doc_id")
        .orderBy("doc_id")
        .limit(10)
        .collect()
    ]
    counts = {}
    for k in (1, 4):
        sf = replicated_corpus(k)
        got = {
            (r.doc_a, r.doc_b, r.hamming)
            for r in q_image_neardup(spark, sf).collect()
        }
        fps = _fps_of(q_image_dhash(spark, sf))
        assert got == _brute_pairs(fps)  # complete at this scale too
        for a, b, _h in got:
            assert a // _REP_STRIDE == b // _REP_STRIDE, (a, b)
        # the 10 injected exact dups per replica all surface at ham 0
        for rep in range(k):
            for src in first10:
                a = rep * _REP_STRIDE + src
                assert (a, a + _REP_STRIDE // 2, 0) in got
        counts[k] = len(got)
    # linearity: brute-force equality above proves exactness; the
    # shape gate is never-quadratic — 4 replicas stay well under the
    # k² envelope (each rotation contributes its own ~x1-sized set)
    assert counts[4] >= 4 * 10
    assert counts[4] <= 4 * counts[1] + 4 * 10


def test_image_probe_stream_matches_batch(spark, tmp_path):
    """Streamed image probe drops exactly the batch
    incremental_fp dup_of_corpus set, statelessly, with
    original columns surviving. The sf corpus has no true image
    near-dups across the source split, so a corpus-image copy is
    injected into the batch to make the drop set non-empty."""
    from timeseriesdb_spark.operators.dedup import CORPUS_SOURCE
    from timeseriesdb_spark.operators.multimodal import (
        fingerprints,
        fp_bands,
        fp_probe_stream,
        incremental_fp,
    )

    src = str(tmp_path / "isrc")
    out = str(tmp_path / "iout")
    ckpt = str(tmp_path / "ickpt")

    doc = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text", "source"
    )
    corpus = doc.where(F.col("source") == CORPUS_SOURCE)
    c0 = corpus.orderBy("doc_id").limit(1).collect()[0]
    extra = spark.createDataFrame(
        [(9_000_001, c0.text, "srcX")],
        "doc_id long, text string, source string",
    )
    batch = doc.where(F.col("source") != CORPUS_SOURCE).unionByName(extra)
    batch.coalesce(3).write.mode("overwrite").parquet(src)

    bands = fp_bands(fingerprints(corpus, "dhash"), "dhash", cap=True)
    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        fp_probe_stream(stream, bands, "dhash")
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    kept = {r.doc_id for r in spark.read.parquet(out).select("doc_id").collect()}

    flags = incremental_fp(batch, corpus, "dhash").collect()
    expect = {r.doc_id for r in flags if r.dup_of_corpus == 0}
    dropped = {r.doc_id for r in flags if r.dup_of_corpus == 1}
    assert 9_000_001 in dropped
    assert kept == expect
    assert {"doc_id", "text", "source", "dhash"} <= set(
        spark.read.parquet(out).columns
    )
