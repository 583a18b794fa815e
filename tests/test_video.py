"""Video multimodal column (functions/video.py + operators/videomm).
Pins: (a) the codec is REAL — round-trip, chunk-walker robustness,
header/frame-count validation errors, (b) Spark kernels == numpy
ground truth on the sf corpus (meta/frames/scene-cuts), (c) the
near-dup family: banded==brute on the sf corpus AND on a crafted
corpus with genuine single-char-edit near-dups (the video analog of a
re-encoded clip: same tiling, few changed voxels), (d) dedup decision
consistency."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from tests.conftest import SF_DIR
from timeseriesdb_spark.functions import audio, video
from timeseriesdb_spark.operators.multimodal import (
    DHASH_BAND_W,
    DHASH_BANDS,
    DHASH_T,
    FAMILIES,
    fingerprints,
)
from timeseriesdb_spark.operators.videomm import (
    q_video_dedup,
    q_video_fp,
    q_video_neardup,
    q_video_scene_cuts,
)


# ---- codec (no Spark) -------------------------------------------------

def test_roundtrip_and_size_formula():
    t = b"the quick brown fox jumps over spark"
    p = video.synth_video(t)
    fps, fr = video.decode_video(p)
    assert fps == video.VID_FPS
    nf = video.synth_frame_count(t)
    assert fr.shape == (nf, video.VID_H, video.VID_W)
    assert (fr == video.synth_frames(t)).all()
    assert len(p) == 36 + nf * (8 + video.VID_H * video.VID_W)


def test_decoder_rejects_malformed():
    t = b"hello video world"
    p = video.synth_video(t)
    with pytest.raises(ValueError, match="not a RIFF/VIDF"):
        video.decode_video(b"JUNK" + p[4:])
    with pytest.raises(ValueError, match="not a RIFF/VIDF"):
        video.decode_video(p[:8] + b"WAVE" + p[12:])
    # truncate the last frame chunk: declared count != found count
    with pytest.raises(ValueError, match="declares"):
        video.decode_video(p[:-200])


def test_decoder_walks_unknown_chunks():
    """An unknown chunk between vhdr and frames must be skipped (RIFF
    discipline), including odd-size 2-byte alignment."""
    import struct

    t = b"abcdefg tail"
    frames = video.synth_frames(t)
    p = video.encode_video(frames)
    # splice an odd-sized unknown chunk right after the vhdr chunk
    head, rest = p[: 12 + 24], p[12 + 24 :]
    junk = b"meta" + struct.pack("<I", 3) + b"xyz" + b"\x00"
    spliced = (
        p[:4]
        + struct.pack("<I", len(p) - 8 + len(junk))
        + p[8:12]
        + head[12:]
        + junk
        + rest
    )
    fps, fr = video.decode_video(spliced)
    assert (fr == frames).all()


def test_empty_text_contract():
    _, fr = video.decode_video(video.synth_video(b""))
    assert fr.shape == (video.VID_MIN_FRAMES, video.VID_H, video.VID_W)
    assert fr.sum() == 0


# ---- Spark kernels vs numpy ------------------------------------------

def _np_truth(texts: dict[int, str]):
    out = {}
    for did, t in texts.items():
        _, fr = video.decode_video(video.synth_video(t.encode()))
        out[did] = fr.astype(np.int64)
    return out


def test_scene_cuts_match_numpy(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text"
    )
    texts = {int(r.doc_id): r.text for r in docs.limit(40).collect()}
    truth = _np_truth(texts)
    got = {
        (r.doc_id, r.frame): (r.delta, r.is_cut)
        for r in q_video_scene_cuts(spark, SF_DIR).collect()
        if r.doc_id in truth
    }
    for did, fr in truth.items():
        for t in range(1, fr.shape[0]):
            d = int(np.abs(fr[t] - fr[t - 1]).sum())
            from timeseriesdb_spark.operators.videomm import SCENE_CUT_MIN

            assert got[(did, t)] == (d, 1 if d >= SCENE_CUT_MIN else 0)


# ---- near-dup family --------------------------------------------------

def _brute_pairs(fps: dict[int, str]) -> set[tuple[int, int, int]]:
    ids = sorted(fps)
    out = set()
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            h = sum(x != y for x, y in zip(fps[a], fps[b]))
            if h <= DHASH_T:
                out.add((a, b, h))
    return out


def test_neardup_equals_bruteforce_sf_corpus(spark):
    fps = {int(r.doc_id): r.vfp for r in q_video_fp(spark, SF_DIR).collect()}
    assert len(fps) > 0
    assert all(len(v) == audio.AFP_CHUNKS - 1 for v in fps.values())
    from collections import Counter

    buckets = Counter(
        (b, v[b * DHASH_BAND_W : (b + 1) * DHASH_BAND_W])
        for v in fps.values()
        for b in range(DHASH_BANDS)
    )
    from timeseriesdb_spark.operators.multimodal import DHASH_BAND_DF_CAP

    assert max(buckets.values()) <= DHASH_BAND_DF_CAP
    got = {
        (r.doc_a, r.doc_b, r.hamming)
        for r in q_video_neardup(spark, SF_DIR).collect()
    }
    assert got == _brute_pairs(fps)


def test_crafted_edit_replicas_banded_equals_brute(spark):
    """Single-char edits keep the voxel tiling (same length → same
    frame count and wrap) and change few chunk energies — the video
    analog of a lightly re-encoded clip. The edited replica must land
    within DHASH_T, the exact copy at 0, unrelated clips far."""
    base = "the quick brown fox jumps over the lazy dog and runs far away home"
    other = "completely different words entirely other content for testing zone"
    texts = {
        0: base,
        1: other,
        2: "static noise pattern alpha beta gamma delta epsilon zeta eta io",
        100: base[:5] + chr(ord(base[5]) + 1) + base[6:],  # near-dup of 0
        101: other,                                         # exact dup of 1
    }

    def np_fp(t: str) -> str:
        _, fr = video.decode_video(video.synth_video(t.encode()))
        return audio.fingerprint_bits(fr.ravel().astype(np.int64))

    ham = lambda a, b: sum(x != y for x, y in zip(a, b))  # noqa: E731
    np_fps = {k: np_fp(v) for k, v in texts.items()}
    assert 0 < ham(np_fps[0], np_fps[100]) <= DHASH_T
    assert ham(np_fps[1], np_fps[101]) == 0
    assert ham(np_fps[0], np_fps[1]) > DHASH_T

    doc = spark.createDataFrame(
        pd.DataFrame(
            [(k, v) for k, v in texts.items()], columns=["doc_id", "text"]
        ),
        "doc_id long, text string",
    )
    fp = fingerprints(doc, "vfp")
    fps = {int(r.doc_id): r.vfp for r in fp.collect()}
    assert fps == np_fps  # Spark decode path == numpy synthesis path
    from timeseriesdb_spark.operators.multimodal import fp_neardup_pairs

    got = {
        (r.doc_a, r.doc_b, r.hamming)
        for r in fp_neardup_pairs(fp, "vfp").collect()
    }
    assert got == _brute_pairs(fps)
    assert (0, 100, ham(np_fps[0], np_fps[100])) in got
    assert (1, 101, 0) in got


def test_dedup_decision_consistent_with_pairs(spark):
    pairs = q_video_neardup(spark, SF_DIR).collect()
    dropped = {r.doc_b for r in pairs}
    dec = q_video_dedup(spark, SF_DIR).collect()
    assert len(dec) > 0
    for r in dec:
        assert r.keep == (0 if r.doc_id in dropped else 1)


def test_incremental_stored_probe_parity(spark, tmp_path):
    """Probing the persisted band_key-bucketed vfp store must give the
    IDENTICAL keep/drop frame as the inline corpus derivation. Also
    pins keep-first: an injected exact copy of a corpus clip is
    dup_of_corpus, a batch-internal copy pair flags only its LARGER
    doc_id."""
    from pyspark.sql import functions as F

    from timeseriesdb_spark.operators.dedup import CORPUS_SOURCE
    from timeseriesdb_spark.operators.multimodal import (
        incremental_fp,
        write_fp_store,
    )

    doc = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text", "source"
    )
    corpus = doc.where(F.col("source") == CORPUS_SOURCE)
    c0 = corpus.orderBy("doc_id").limit(1).collect()[0]
    b0 = (
        doc.where(F.col("source") != CORPUS_SOURCE)
        .orderBy("doc_id")
        .limit(1)
        .collect()[0]
    )
    extra = spark.createDataFrame(
        [
            (9_000_001, c0.text, "srcX"),
            (9_000_002, b0.text, "srcX"),
        ],
        "doc_id long, text string, source string",
    )
    batch = doc.where(F.col("source") != CORPUS_SOURCE).unionByName(extra)

    inline = {
        r.doc_id: (r.dup_of_corpus, r.dup_of_batch, r.keep)
        for r in incremental_fp(batch, corpus, "vfp").collect()
    }
    import shutil

    spark.sql("DROP TABLE IF EXISTS vfp_probe_test")
    shutil.rmtree("spark-warehouse/vfp_probe_test", ignore_errors=True)
    try:
        write_fp_store(corpus, "vfp", "vfp_probe_test")
        stored = {
            r.doc_id: (r.dup_of_corpus, r.dup_of_batch, r.keep)
            for r in incremental_fp(
                batch, "vfp_probe_test", "vfp"
            ).collect()
        }
    finally:
        spark.sql("DROP TABLE IF EXISTS vfp_probe_test")
    assert inline == stored
    assert inline[9_000_001][0] == 1 and inline[9_000_001][2] == 0
    assert inline[9_000_002][1] == 1 and inline[9_000_002][2] == 0
    assert inline[b0.doc_id][1] == 0


def test_video_probe_stream_matches_batch(spark, tmp_path):
    """Streamed video probe drops exactly the batch
    incremental_fp dup_of_corpus set, statelessly, with
    original columns surviving; a corpus-clip copy is injected so the
    drop set is non-empty."""
    from pyspark.sql import functions as F

    from timeseriesdb_spark.operators.dedup import CORPUS_SOURCE
    from timeseriesdb_spark.operators.multimodal import (
        fp_bands,
        fp_probe_stream,
        incremental_fp,
    )

    src = str(tmp_path / "vsrc")
    out = str(tmp_path / "vout")
    ckpt = str(tmp_path / "vckpt")

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
    # encode REAL payloads for the streamed frame (the bytes route)
    bpdf = batch.toPandas()
    rows = [
        (int(r.doc_id), bytearray(video.synth_video(r.text.encode("utf-8"))))
        for r in bpdf.itertuples()
    ]
    spark.createDataFrame(rows, "doc_id long, payload binary").coalesce(
        3
    ).write.mode("overwrite").parquet(src)

    bands = fp_bands(fingerprints(corpus, "vfp"), "vfp", cap=True)
    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        fp_probe_stream(stream, bands, "vfp")
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    kept = {
        r.doc_id for r in spark.read.parquet(out).select("doc_id").collect()
    }

    flags = incremental_fp(batch, corpus, "vfp").collect()
    expect = {r.doc_id for r in flags if r.dup_of_corpus == 0}
    dropped = {r.doc_id for r in flags if r.dup_of_corpus == 1}
    assert 9_000_001 in dropped
    assert kept == expect
    assert {"doc_id", "payload", "vfp"} <= set(
        spark.read.parquet(out).columns
    )


def test_multimodal_keep_consistent_with_parts(spark):
    """q_multimodal_keep's columns must equal the three source
    verdicts row for row, and keep their conjunction."""
    from pyspark.sql import functions as F

    from timeseriesdb_spark.operators.multimodal import q_image_dedup
    from timeseriesdb_spark.operators.videomm import q_multimodal_keep

    got = {
        r.doc_id: (r.keep_text, r.keep_image, r.keep_video, r.keep)
        for r in q_multimodal_keep(spark, SF_DIR).collect()
    }
    img = {r.doc_id: r.keep for r in q_image_dedup(spark, SF_DIR).collect()}
    vid = {r.doc_id: r.keep for r in q_video_dedup(spark, SF_DIR).collect()}
    doc = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text"
    )
    fp = F.md5(F.lower(F.regexp_replace(F.col("text"), r"\s+", " ")))
    survivors = {
        r.doc_id
        for r in doc.select("doc_id", fp.alias("f"))
        .groupBy("f")
        .agg(F.min("doc_id").alias("doc_id"))
        .collect()
    }
    assert len(got) == doc.count()
    for did, (kt, ki, kv, k) in got.items():
        assert kt == (1 if did in survivors else 0)
        assert ki == img[did]
        assert kv == vid[did]
        assert k == (kt and ki and kv)
    # the conjunction genuinely bites: some doc is dropped by exactly
    # one modality (otherwise the composite adds nothing)
    assert any(k == 0 for (_, _, _, k) in got.values())


# ---- hypothesis properties (codec + fingerprint, no Spark) -------------

from hypothesis import given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402


@given(
    st.integers(min_value=0, max_value=6).flatmap(
        lambda nf: st.lists(
            st.lists(
                st.integers(min_value=0, max_value=255),
                min_size=video.VID_H * video.VID_W,
                max_size=video.VID_H * video.VID_W,
            ),
            min_size=nf,
            max_size=nf,
        )
    )
)
@settings(max_examples=40, deadline=None)
def test_container_roundtrip_any_frames(flat_frames):
    frames = np.array(flat_frames, dtype=np.uint8).reshape(
        len(flat_frames), video.VID_H, video.VID_W
    )
    fps, got = video.decode_video(video.encode_video(frames))
    assert fps == video.VID_FPS
    assert got.shape == frames.shape
    assert (got == frames).all()


@given(st.binary(min_size=0, max_size=400))
@settings(max_examples=60, deadline=None)
def test_synthesis_contract_any_bytes(tb):
    """Frame count + voxel tiling hold for arbitrary byte strings
    (multi-byte UTF-8 included — the contract is on BYTES)."""
    p = video.synth_video(tb)
    _, fr = video.decode_video(p)
    nf = video.VID_MIN_FRAMES + len(tb) % video.VID_FRAMES_MOD
    assert fr.shape == (nf, video.VID_H, video.VID_W)
    b = np.frombuffer(tb if tb else b"\x00", dtype=np.uint8)
    flat = fr.ravel()
    for j in (0, len(flat) // 2, len(flat) - 1):
        assert flat[j] == b[j % len(b)]
    assert len(p) == 36 + nf * (8 + video.VID_H * video.VID_W)


@given(
    st.lists(
        st.integers(min_value=-32768, max_value=32767),
        min_size=0,
        max_size=250,
    )
)
@settings(max_examples=60, deadline=None)
def test_fingerprint_total_and_deterministic(samples):
    """fingerprint_bits is total (any length incl. empty), fixed
    width, and scale-sign structure: an all-equal-magnitude signal has
    equal chunk energies wherever chunks are equally filled, and a
    VALUE-scaled signal keeps the exact same bits when energies stay
    within int64 (energy scales by a constant factor; strict > is
    scale-invariant)."""
    s = np.array(samples, dtype=np.int64)
    fp1 = audio.fingerprint_bits(s)
    assert len(fp1) == audio.AFP_CHUNKS - 1
    assert set(fp1) <= {"0", "1"}
    assert audio.fingerprint_bits(s) == fp1  # deterministic
    # scale invariance (2x fits: |s| <= 32768 -> s^2 <= 2^31; chunk
    # sums of <=250 terms stay far under int64 even at 4x energy)
    assert audio.fingerprint_bits(2 * s) == fp1


# ---- re-encoding robustness (r11) ------------------------------------

def _ham(a: str, b: str) -> int:
    return sum(x != y for x, y in zip(a, b))


def test_voxel_fp_rate_boundary_and_mean_dhash_invariance():
    """The re-encoding-robustness contract, pinned both ways:

    (a) the frame-major voxel fingerprint (the vfp family:
        audio.fingerprint_bits over frames.ravel()) is EDIT-robust but
        NOT rate-robust — temporal restride scrambles the spatial
        phase at every proportional chunk position (measured 25-32
        bits on the synthetic clips), so a re-encoded clip does not
        pair under it (the documented invariance boundary);
    (b) the rate-normalized mdhash bits ARE exactly invariant to
        uniform fps upsampling (frame duplication leaves the integer
        per-pixel mean unchanged), keeps unrelated clips far, and its
        decimation robustness is bounded by inter-frame correlation —
        the synthetic corpus's independent text-chunk frames are the
        adversarial worst case and measure ABOVE DHASH_T, which a
        real pipeline reads as: decimated re-encodes of
        frame-correlated video pair, of scene-cut slideshows don't."""
    mean_frame_dhash = FAMILIES["mdhash"].bits

    texts = [
        b"the quick brown fox jumps over the lazy dog and runs far away"
        b" home again and again",
        b"short clip text example for the restride robustness probe ok",
    ]
    unrelated = video.decode_video(
        video.synth_video(b"totally unrelated other content zzz")
    )[1]
    for t in texts:
        _, fr = video.decode_video(video.synth_video(t))
        if fr.shape[0] < 2:
            continue
        # (a) voxel fp: restride breaks pairing (boundary, documented)
        vfp0 = audio.fingerprint_bits(fr.ravel().astype(np.int64))
        vfp_drop = audio.fingerprint_bits(
            fr[::2].ravel().astype(np.int64)
        )
        assert _ham(vfp0, vfp_drop) > DHASH_T
        # (b) mean-frame dhash: fps-upsample exactly invariant
        m0 = mean_frame_dhash(fr)
        for k in (2, 3):
            assert mean_frame_dhash(np.repeat(fr, k, axis=0)) == m0
        assert _ham(m0, mean_frame_dhash(unrelated)) > DHASH_T
        # decimation on uncorrelated synthetic frames: outside the
        # invariance boundary by construction (worst case pinned)
        assert _ham(m0, mean_frame_dhash(fr[::2])) > DHASH_T


def test_audio_fingerprint_is_rate_robust():
    """The AUDIO fingerprint is rate-robust BY CONSTRUCTION — the
    proportional chunk grid (sample i of n -> chunk i*C//n) resamples
    the clip, so uniform re-encoding (2x zero-order hold, 2x linear
    interpolation, decimation by 2) moves only boundary samples and
    flips at most a bit or two: a re-encoded audio clip PAIRS with its
    original under the existing banded index, no second hash needed
    (contrast with the video boundary above)."""
    rng = np.random.RandomState(7)
    for n in (5700, 2400, 800):
        s = np.clip(
            np.cumsum(rng.randint(-80, 81, size=n)), -3000, 3000
        ).astype(np.int64)
        f0 = audio.fingerprint_bits(s)
        hold = np.repeat(s, 2)
        dec = s[::2]
        lin = np.round(
            np.interp(np.arange(2 * n) / 2.0, np.arange(n), s)
        ).astype(np.int64)
        for rep in (hold, dec, lin):
            assert _ham(f0, audio.fingerprint_bits(rep)) <= DHASH_T


def test_rate_probe_catches_reencodes_vfp_does_not(spark, tmp_path):
    """End-to-end re-encode gate (r11): an fps-doubled RE-ENCODE of a
    corpus clip (same frames, each duplicated, re-encoded at 2× fps)
    is dropped by the mdhash probe (mean-dhash store) and sails
    through the vfp probe (frame-major voxels) — the invariance
    boundary demonstrated on the actual ingest path, both probes over
    the same streamed payload frame. Unrelated clips survive both."""
    import shutil

    from pyspark.sql import functions as F

    from timeseriesdb_spark.operators.dedup import CORPUS_SOURCE
    from timeseriesdb_spark.operators.multimodal import (
        fp_bands,
        fp_probe_stream,
        write_fp_store,
    )

    mean_frame_dhash = FAMILIES["mdhash"].bits

    doc = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text", "source"
    )
    corpus = doc.where(F.col("source") == CORPUS_SOURCE)

    # pick a corpus clip whose fps-doubled re-encode is (a) mdhash-
    # identical (always true: the mean is unchanged) but (b) vfp-FAR
    # (scrambled spatial phase; verify numpy-side to avoid assuming)
    c0 = None
    for row in corpus.orderBy("doc_id").limit(8).collect():
        _, fr = video.decode_video(video.synth_video(row.text.encode()))
        if fr.shape[0] < 2:
            continue
        re_frames = np.repeat(fr, 2, axis=0)
        vfp0 = audio.fingerprint_bits(fr.ravel().astype(np.int64))
        vfp1 = audio.fingerprint_bits(re_frames.ravel().astype(np.int64))
        if sum(x != y for x, y in zip(vfp0, vfp1)) > DHASH_T:
            c0, c0_frames = row, fr
            break
    assert c0 is not None
    assert mean_frame_dhash(np.repeat(c0_frames, 2, axis=0)) == (
        mean_frame_dhash(c0_frames)
    )

    reenc = video.encode_video(
        np.repeat(c0_frames, 2, axis=0), fps=2 * video.VID_FPS
    )
    unrelated = video.synth_video(b"totally unrelated other clip zzz")
    clips = spark.createDataFrame(
        [
            (9_000_001, bytearray(reenc)),
            (9_000_002, bytearray(unrelated)),
        ],
        "doc_id long, payload binary",
    )
    src = str(tmp_path / "clipsrc")
    clips.coalesce(1).write.mode("overwrite").parquet(src)

    vbands = fp_bands(fingerprints(corpus, "vfp"), "vfp", cap=True)
    spark.sql("DROP TABLE IF EXISTS mdhash_probe_test")
    shutil.rmtree("spark-warehouse/mdhash_probe_test", ignore_errors=True)
    try:
        write_fp_store(corpus, "mdhash", "mdhash_probe_test")
        mbands = spark.table("mdhash_probe_test")
        # the corpus clip's own bands must have survived the df-cap,
        # else the drop expectation is vacuous — re-pick would be
        # needed; assert instead (synthetic corpus is diverse enough)
        n_bands = mbands.where(F.col("doc_id") == c0.doc_id).count()
        assert n_bands > 0

        def run(key, bands, out, ck):
            stream = (
                spark.readStream.schema(spark.read.parquet(src).schema)
                .parquet(src)
            )
            q = (
                fp_probe_stream(stream, bands, key)
                .writeStream.format("parquet")
                .option("path", out)
                .option("checkpointLocation", ck)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(120)
            return {
                r.doc_id
                for r in spark.read.parquet(out).select("doc_id").collect()
            }

        kept_rate = run(
            "mdhash", mbands,
            str(tmp_path / "rout"), str(tmp_path / "rck"),
        )
        kept_vfp = run(
            "vfp", vbands,
            str(tmp_path / "vout"), str(tmp_path / "vck"),
        )
    finally:
        spark.sql("DROP TABLE IF EXISTS mdhash_probe_test")

    assert kept_rate == {9_000_002}      # re-encode caught, unrelated kept
    assert 9_000_001 in kept_vfp         # vfp blind to the re-encode
    # (no claim on the unrelated clip under vfp — a short synthetic
    # clip may legitimately band-collide with some corpus clip)
