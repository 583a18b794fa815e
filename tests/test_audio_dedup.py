"""Audio near-dup family: energy-delta-sign fingerprints over the
decoded PCM16 grid + banded-Hamming pairs (the audio twin of
test_image_dedup). Pins (a) pigeonhole COMPLETENESS — banded join ==
brute-force all-pairs whenever no bucket overflows the df cap, on the
sf corpus AND on a crafted corpus with genuine near-dups, (b) the
length-shift robustness contract (a replica clip with a short appended
tail lands within hamming DHASH_T; modality-disjoint by construction —
the probe edits the SAMPLES, not any text), (c) decision/pair
consistency, (d) stored-index probe parity, and (e) the payload-decode
path: fingerprints computed from real WAV bytes (the payload route) must
equal fingerprints computed through the synthesis path."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR
from timeseriesdb_spark.functions import audio
from timeseriesdb_spark.operators.multimodal import (
    AUDIO_CORPUS_MOD,
    DHASH_BAND_DF_CAP,
    DHASH_BAND_W,
    DHASH_BANDS,
    DHASH_T,
    fingerprints,
    q_audio_dedup,
    q_audio_fp,
    q_audio_neardup,
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
    return {int(r.user_id): r.afp for r in df.collect()}


def test_neardup_equals_bruteforce_sf_corpus(spark):
    fps = _fps_of(q_audio_fp(spark, SF_DIR))
    assert len(fps) > 0
    assert all(len(v) == audio.AFP_CHUNKS - 1 for v in fps.values())
    from collections import Counter

    buckets = Counter(
        (b, v[b * DHASH_BAND_W : (b + 1) * DHASH_BAND_W])
        for v in fps.values()
        for b in range(DHASH_BANDS)
    )
    assert max(buckets.values()) <= DHASH_BAND_DF_CAP
    got = {
        (r.user_a, r.user_b, r.hamming)
        for r in q_audio_neardup(spark, SF_DIR).collect()
    }
    assert got == _brute_pairs(fps)


def _crafted_events(spark):
    """6 unrelated smooth-walk clips (5700 samples each) + user 100 =
    LENGTH-SHIFTED replica of user 0 (same walk, 5 appended steps —
    the tail moves every chunk boundary by ≤5 of ~100 samples, so few
    energy-delta signs flip) + user 101 = EXACT copy of user 1. The
    edit is to the SAMPLES — modality-disjoint from the text-keyed
    image probes by construction."""
    rng = np.random.default_rng(42)
    clips: dict[int, np.ndarray] = {}
    steps0 = rng.normal(0, 1.0, 5700)
    clips[0] = np.cumsum(steps0) + 200.0
    clips[100] = np.concatenate(
        [clips[0], clips[0][-1] + np.cumsum(rng.normal(0, 1.0, 5))]
    )
    for u in range(1, 6):
        clips[u] = np.cumsum(rng.normal(0, 1.0, 5700)) + 200.0
    clips[101] = clips[1].copy()
    rows = []
    for u, vals in clips.items():
        for i, v in enumerate(vals):
            rows.append((u, i, i, float(v)))
    pdf = pd.DataFrame(rows, columns=["user_id", "ts", "event_id", "value"])
    return (
        spark.createDataFrame(
            pdf, "user_id long, ts long, event_id long, value double"
        ),
        clips,
    )


def test_crafted_replicas_banded_equals_brute(spark):
    ev, clips = _crafted_events(spark)
    # numpy ground truth first: the length-shifted replica IS a
    # near-dup, the exact copy is hamming 0, unrelated clips are far
    np_fps = {
        u: audio.fingerprint_bits(audio.synth_samples(v))
        for u, v in clips.items()
    }
    ham = lambda a, b: sum(x != y for x, y in zip(a, b))  # noqa: E731
    assert 0 < ham(np_fps[0], np_fps[100]) <= DHASH_T
    assert ham(np_fps[1], np_fps[101]) == 0
    assert ham(np_fps[0], np_fps[2]) > DHASH_T

    fp = fingerprints(ev, "afp")
    fps = _fps_of(fp)
    assert fps == np_fps  # Spark decode path == numpy synthesis path
    from timeseriesdb_spark.operators.multimodal import fp_neardup_pairs

    got = {
        (r.user_a, r.user_b, r.hamming)
        for r in fp_neardup_pairs(fp, "afp").collect()
    }
    assert got == _brute_pairs(fps)
    assert (0, 100, ham(np_fps[0], np_fps[100])) in got
    assert (1, 101, 0) in got


def test_dedup_decision_consistent_with_pairs(spark):
    pairs = q_audio_neardup(spark, SF_DIR).collect()
    dropped = {r.user_b for r in pairs}
    dec = q_audio_dedup(spark, SF_DIR).collect()
    assert len(dec) > 0
    for r in dec:
        assert r.keep == (0 if r.user_id in dropped else 1)


def test_incremental_stored_probe_parity(spark, tmp_path):
    """Probing the persisted band_key-bucketed fingerprint store must
    give the IDENTICAL keep/drop frame as the inline corpus derivation.
    Also pins keep-first: an injected exact copy of a corpus clip is
    dup_of_corpus, a batch-internal copy pair flags only its LARGER
    user_id."""
    from timeseriesdb_spark.operators.multimodal import (
        incremental_fp,
        write_fp_store,
    )

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet").select(
        "user_id", "ts", "event_id", "value"
    )
    corpus = ev.where(F.col("user_id") % AUDIO_CORPUS_MOD == 0)
    batch = ev.where(F.col("user_id") % AUDIO_CORPUS_MOD != 0)
    # exact clip copies: corpus clip c0 → odd user 9000001 (dup_of_
    # corpus), batch clip b0 → odd user 9000003 (dup_of_batch)
    c0 = corpus.agg(F.min("user_id")).collect()[0][0]
    b0 = batch.agg(F.min("user_id")).collect()[0][0]
    extra = ev.where(F.col("user_id") == c0).select(
        F.lit(9_000_001).alias("user_id"), "ts", "event_id", "value"
    ).unionByName(
        ev.where(F.col("user_id") == b0).select(
            F.lit(9_000_003).alias("user_id"), "ts", "event_id", "value"
        )
    )
    batch = batch.unionByName(extra)

    inline = {
        r.user_id: (r.dup_of_corpus, r.dup_of_batch, r.keep)
        for r in incremental_fp(batch, corpus, "afp").collect()
    }
    import shutil

    spark.sql("DROP TABLE IF EXISTS afp_probe_test")
    shutil.rmtree("spark-warehouse/afp_probe_test", ignore_errors=True)
    try:
        write_fp_store(corpus, "afp", "afp_probe_test")
        stored = {
            r.user_id: (r.dup_of_corpus, r.dup_of_batch, r.keep)
            for r in incremental_fp(
                batch, "afp_probe_test", "afp"
            ).collect()
        }
    finally:
        spark.sql("DROP TABLE IF EXISTS afp_probe_test")
    assert inline == stored
    assert inline[9_000_001][0] == 1 and inline[9_000_001][2] == 0
    assert inline[9_000_003][1] == 1 and inline[9_000_003][2] == 0
    # the ORIGINAL batch clip keeps (keep-first: only the later copy drops)
    assert inline[b0][1] == 0


def _payload_frame(spark, ev) -> "pd.DataFrame":
    """(user_id, payload) pandas frame: REAL WAV bytes per clip,
    synthesized from the events exactly as the corpus path does."""
    pdf = ev.orderBy("user_id", "ts", "event_id").toPandas()
    rows = [
        (int(u), bytearray(audio.synth_audio(g["value"].to_numpy())))
        for u, g in pdf.groupby("user_id", sort=True)
    ]
    return spark.createDataFrame(rows, "user_id long, payload binary")


def test_payload_decode_path_matches_synthesis_path(spark):
    """The afp fingerprints of encoded WAV payloads == those through
    the synthesis path — pins that the stored/streamed byte route and
    the events route hash identically."""

    ev = (
        spark.read.parquet(f"{SF_DIR}/events.parquet")
        .select("user_id", "ts", "event_id", "value")
        .where(F.col("user_id") < 20)
    )
    via_payload = {
        int(r.user_id): r.afp
        for r in fingerprints(
            _payload_frame(spark, ev), "afp", carry=True
        ).collect()
    }
    via_events = _fps_of(fingerprints(ev, "afp"))
    assert via_payload == via_events
    assert len(via_payload) > 0


def test_audio_probe_stream_matches_batch(spark, tmp_path):
    """Streamed audio probe drops exactly the batch
    incremental_fp dup_of_corpus set, statelessly, with
    original columns surviving. The sf corpus has no true audio
    near-dups across the parity split, so a corpus-clip copy is
    injected into the streamed batch to make the drop set non-empty."""
    from timeseriesdb_spark.operators.multimodal import (
        fp_bands,
        fp_probe_stream,
        incremental_fp,
    )

    src = str(tmp_path / "asrc")
    out = str(tmp_path / "aout")
    ckpt = str(tmp_path / "ackpt")

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet").select(
        "user_id", "ts", "event_id", "value"
    )
    corpus = ev.where(F.col("user_id") % AUDIO_CORPUS_MOD == 0)
    batch_ev = ev.where(F.col("user_id") % AUDIO_CORPUS_MOD != 0)
    c0 = corpus.agg(F.min("user_id")).collect()[0][0]
    extra = ev.where(F.col("user_id") == c0).select(
        F.lit(9_000_001).alias("user_id"), "ts", "event_id", "value"
    )
    batch_ev = batch_ev.unionByName(extra)

    _payload_frame(spark, batch_ev).coalesce(3).write.mode(
        "overwrite"
    ).parquet(src)

    bands = fp_bands(fingerprints(corpus, "afp"), "afp", cap=True)
    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        fp_probe_stream(stream, bands, "afp")
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    kept = {
        r.user_id for r in spark.read.parquet(out).select("user_id").collect()
    }

    flags = incremental_fp(batch_ev, corpus, "afp").collect()
    expect = {r.user_id for r in flags if r.dup_of_corpus == 0}
    dropped = {r.user_id for r in flags if r.dup_of_corpus == 1}
    assert 9_000_001 in dropped
    assert kept == expect
    assert {"user_id", "payload", "afp"} <= set(
        spark.read.parquet(out).columns
    )
