"""Video multimodal column operators — the third member of the
image/audio/video triad (multimodal.py holds the image + audio
families and the fingerprint-family table; this module mirrors them
for video to keep file sizes sane). Payloads are REAL encoded
RIFF/VIDF containers (functions/video.py) synthesized from
documents.text; every kernel genuinely parses the bytes back into
frame grids inside Arrow-batched mapInPandas — decode parallelism ==
partition count, payloads never pass through the driver, constant
memory per task.

Queries (all DuckDB hash-checked — the synthesis contract is replayed
closed-form from hex(encode(text)) while the Spark side must parse
the container it encoded):
- q_video_meta: container header read-back (n_bytes, width, height,
  n_frames, fps, duration_ms).
- q_video_frames: the frame-SAMPLE stage (every VID_SAMPLE_EVERY-th
  frame) with exact integer per-frame stats (pix_sum, pix_min,
  pix_max) — what a video model's frontend computes before embedding.
- q_video_scene_cuts: adjacent-frame absolute pixel delta Σ|p_t −
  p_{t−1}| per transition plus the is_cut decision at an integer
  threshold — shot segmentation, all int64.
- q_video_fp / q_video_neardup / q_video_dedup / q_video_incremental:
  the edit-robust `vfp` fingerprint family; q_video_mean_dhash: the
  rate-robust `mdhash` family (multimodal.FAMILIES).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from timeseriesdb_spark.functions import audio, video
from timeseriesdb_spark.operators.multimodal import (
    DHASH_GRID,
    DHASH_ROW_BITS,
    _banded_dedup_sql,
    _banded_incremental_sql,
    _banded_pairs_sql,
    _docs,
    _doc_source_sql,
    _dropped_sql,
    _DHASH_FP_SQL,
    _incremental_by_source,
    fingerprints,
    fp_dedup_decision,
    fp_neardup_pairs,
)
from timeseriesdb_spark.tables import load_table

VID_SAMPLE_EVERY = 2   # frame-sample stride (keep frames 0, 2, 4, …)
SCENE_CUT_MIN = 20_000  # Σ|Δpixel| threshold for a cut decision


def q_video_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video payload → typed metadata, everything READ BACK from a
    real container parse: the synthesis embeds shape into an actual
    vhdr chunk and the kernel re-parses it from bytes. Oracle: DuckDB
    derives the same numbers closed form (n_frames from text length,
    n_bytes = 36 + n_frames·(8 + H·W), duration_ms =
    n_frames·1000 // fps)."""

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, nb, ws, hs, nfs, fpss, durs = [], [], [], [], [], [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                payload = video.synth_video(text.encode("utf-8"))
                fps, frames = video.decode_video(payload)
                nf, h, w = frames.shape
                ids.append(doc_id)
                nb.append(len(payload))
                ws.append(w)
                hs.append(h)
                nfs.append(nf)
                fpss.append(fps)
                durs.append(nf * 1000 // fps)
            yield pd.DataFrame(
                {
                    "doc_id": ids, "n_bytes": nb, "width": ws,
                    "height": hs, "n_frames": nfs, "fps": fpss,
                    "duration_ms": durs,
                }
            )

    return _docs(spark, sf_dir).mapInPandas(
        extract,
        "doc_id bigint, n_bytes bigint, width bigint, height bigint, "
        "n_frames bigint, fps bigint, duration_ms bigint",
    )


def q_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling + per-frame integer stats over DECODED frames:
    keep every VID_SAMPLE_EVERY-th frame, emit exact pix_sum (≤
    192·255, int64-trivial), pix_min, pix_max. The frame-sample stage
    every video pipeline runs before feature extraction."""

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            out = {
                "doc_id": [], "frame": [], "pix_sum": [],
                "pix_min": [], "pix_max": [],
            }
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                payload = video.synth_video(text.encode("utf-8"))
                _, frames = video.decode_video(payload)
                for k in range(0, frames.shape[0], VID_SAMPLE_EVERY):
                    f = frames[k].astype(np.int64)
                    out["doc_id"].append(doc_id)
                    out["frame"].append(k)
                    out["pix_sum"].append(int(f.sum()))
                    out["pix_min"].append(int(f.min()))
                    out["pix_max"].append(int(f.max()))
            yield pd.DataFrame(out)

    return _docs(spark, sf_dir).mapInPandas(
        extract,
        "doc_id bigint, frame bigint, pix_sum bigint, pix_min bigint, "
        "pix_max bigint",
    )


def q_video_scene_cuts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shot segmentation: per adjacent-frame transition the exact
    integer delta Σ|p_t − p_{t−1}| over the gray grid and the cut
    decision at SCENE_CUT_MIN. One row per transition (frame =
    arrival index t ≥ 1), so output is corpus-linear in total frame
    count."""

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            out = {"doc_id": [], "frame": [], "delta": [], "is_cut": []}
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                payload = video.synth_video(text.encode("utf-8"))
                _, frames = video.decode_video(payload)
                f = frames.astype(np.int64)
                for t in range(1, f.shape[0]):
                    d = int(np.abs(f[t] - f[t - 1]).sum())
                    out["doc_id"].append(doc_id)
                    out["frame"].append(t)
                    out["delta"].append(d)
                    out["is_cut"].append(1 if d >= SCENE_CUT_MIN else 0)
            yield pd.DataFrame(out)

    return _docs(spark, sf_dir).mapInPandas(
        extract,
        "doc_id bigint, frame bigint, delta bigint, is_cut int",
    )


def q_video_fp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The video fingerprint tier (doc_id, vfp) — what a production
    pipeline PERSISTS, banded, so later clip batches dedup against
    the store without re-decoding the corpus."""
    return fingerprints(_docs(spark, sf_dir), "vfp")


def q_video_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video near-duplicate pairs (doc_a, doc_b, hamming)
    (fp_neardup_pairs). A 0-row answer on a corpus with no clip pair
    within hamming DHASH_T is the true answer; banded==brute is pinned
    on crafted frame-appended replicas in tests."""
    return fp_neardup_pairs(fingerprints(_docs(spark, sf_dir), "vfp"), "vfp")


def q_video_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Total video keep/drop decision (doc_id, vfp, keep) — keep = 0
    iff a smaller-id clip is within hamming DHASH_T. Corpus-sized at
    every SF; the fingerprint frame is checkpointed so the decode
    pass runs once across the plan's branches."""
    fp = fingerprints(_docs(spark, sf_dir), "vfp").localCheckpoint()
    return fp_dedup_decision(fp, "vfp")


def q_video_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental video dedup (multimodal._incremental_by_source)."""
    return _incremental_by_source(spark, sf_dir, "vfp")


def q_video_mean_dhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The rate-normalized fingerprint tier (doc_id, mdhash) — the
    second persisted band-index axis next to q_video_fp: vfp pairs
    sample-space edits, mdhash pairs re-encodes (an fps change leaves
    the time-mean frame fixed), like chromaprint's multiple hash
    families."""
    return fingerprints(_docs(spark, sf_dir), "mdhash")


def q_multimodal_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-modality curation decision — one row per document with
    the keep verdict of every doc-keyed modality and the conjunction
    a multimodal training pipeline actually applies (drop the sample
    when ANY modality is a duplicate):
    - keep_text: exact text dedup survivor (min doc_id per
      whitespace-normalized lowercase md5 — the q_fingerprint form)
    - keep_image: q_image_dedup's banded-dHash verdict
    - keep_video: q_video_dedup's banded-fingerprint verdict
    - keep: all three.
    Each modality decodes once on its own branch; the fuse is two
    doc_id equi-joins over corpus-sized but 2-column frames. Audio is
    signal-keyed (user_id), so it curates on its own axis."""
    from timeseriesdb_spark.operators.multimodal import q_image_dedup

    doc = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    fp = F.md5(F.lower(F.regexp_replace(F.col("text"), r"\s+", " ")))
    text_survivor = (
        doc.select("doc_id", fp.alias("fp"))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
        .withColumn("keep_text", F.lit(1))
    )
    # The image and video branches each run an EAGER decode-checkpoint
    # job when constructed; submit them from two driver threads so the
    # independent jobs overlap instead of serializing (guide §2.6 —
    # the second job's tasks back-fill executors the first job's tail
    # leaves idle). Same plans, same checkpoints, same results — only
    # the submission order changes.
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as pool:
        fimg = pool.submit(q_image_dedup, spark, sf_dir)
        fvid = pool.submit(q_video_dedup, spark, sf_dir)
        img = fimg.result().select(
            "doc_id", F.col("keep").alias("keep_image")
        )
        vid = fvid.result().select(
            "doc_id", F.col("keep").alias("keep_video")
        )
    return (
        doc.select("doc_id")
        .join(text_survivor, "doc_id", "left")
        .join(img, "doc_id")
        .join(vid, "doc_id")
        .select(
            "doc_id",
            F.coalesce("keep_text", F.lit(0)).cast("int").alias("keep_text"),
            F.col("keep_image").cast("int").alias("keep_image"),
            F.col("keep_video").cast("int").alias("keep_video"),
            (
                (F.coalesce("keep_text", F.lit(0)) == 1)
                & (F.col("keep_image") == 1)
                & (F.col("keep_video") == 1)
            )
            .cast("int")
            .alias("keep"),
        )
    )


QUERIES = {
    "q_video_meta": q_video_meta,
    "q_video_frames": q_video_frames,
    "q_video_scene_cuts": q_video_scene_cuts,
    "q_video_fp": q_video_fp,
    "q_video_neardup": q_video_neardup,
    "q_video_dedup": q_video_dedup,
    "q_video_incremental": q_video_incremental,
    "q_multimodal_keep": q_multimodal_keep,
    "q_video_mean_dhash": q_video_mean_dhash,
}


# ---- DuckDB oracles: the synthesis contract replayed closed-form
# from hex(encode(text)) — voxel j of the flattened (F·H·W) stream is
# byte[j % n] (empty text → one 0 byte); the Spark side gets the same
# numbers only by correctly encoding AND re-parsing the container.
_PPF = video.VID_H * video.VID_W  # pixels per frame

_VOX_SQL = f"""
        vd AS (
            SELECT doc_id, hex(encode(text)) AS hx,
                   octet_length(encode(text)) AS rawn,
                   CAST(CASE WHEN octet_length(encode(text)) = 0 THEN 1
                        ELSE octet_length(encode(text)) END AS BIGINT) AS n,
                   octet_length(encode(text)) = 0 AS empty,
                   CAST({video.VID_MIN_FRAMES}
                        + octet_length(encode(text))
                          % {video.VID_FRAMES_MOD} AS BIGINT) AS nf
            FROM documents
        ),
        vox AS MATERIALIZED (
            SELECT doc_id, n, nf, j,
                   CASE WHEN empty THEN 0 ELSE
                     (strpos('0123456789ABCDEF',
                             substr(hx, CAST(2 * (j % n) + 1 AS INT), 1))
                      - 1) * 16
                     + strpos('0123456789ABCDEF',
                              substr(hx, CAST(2 * (j % n) + 2 AS INT), 1))
                     - 1
                   END AS v
            FROM (
                SELECT doc_id, hx, n, empty, nf,
                       unnest(range(0, nf * {_PPF})) AS j
                FROM vd
            )
        )
"""

_VFP_SQL = f"""
        {_VOX_SQL},
        vesum AS (
            SELECT doc_id, (j * {audio.AFP_CHUNKS}) // (nf * {_PPF}) AS chunk,
                   sum(v * v) AS e
            FROM vox GROUP BY doc_id, (j * {audio.AFP_CHUNKS}) // (nf * {_PPF})
        ),
        vbits AS (
            SELECT doc_id, chunk,
                   CASE WHEN lead(e) OVER (
                            PARTITION BY doc_id ORDER BY chunk) > e
                        THEN '1' ELSE '0' END AS b
            FROM vesum
        ),
        vfp AS (
            SELECT doc_id, string_agg(b, '' ORDER BY chunk) AS vfp
            FROM vbits WHERE chunk < {audio.AFP_CHUNKS - 1}
            GROUP BY doc_id
        )
"""

# The mean-frame dHash recomputed WITHOUT decoding: per-pixel integer
# floor-mean over the synthesis-contract voxels, then the SAME
# exact-bilinear + gradient-sign tail as the image dHash oracle
# (_DHASH_FP_SQL), with the video frame dims as constants. Signs are
# scale-invariant, so the single-channel mean plays the image chain's
# 3-channel gsum role directly.
_G2 = 2 * DHASH_GRID
_MDHASH_SQL = f"""
        {_VOX_SQL},
        mg AS MATERIALIZED (
            SELECT doc_id, CAST(j % {_PPF} AS BIGINT) AS j,
                   sum(v) // nf AS gsum
            FROM vox GROUP BY doc_id, j % {_PPF}, nf
        ),
        mc AS (
            SELECT d.doc_id, px, py,
                   ((2 * px + 1) * {video.VID_W} - {DHASH_GRID}) // {_G2} AS x0,
                   ((2 * px + 1) * {video.VID_W} - {DHASH_GRID}) % {_G2} AS wx,
                   ((2 * py + 1) * {video.VID_H} - {DHASH_GRID}) // {_G2} AS y0,
                   ((2 * py + 1) * {video.VID_H} - {DHASH_GRID}) % {_G2} AS wy
            FROM (SELECT DISTINCT doc_id FROM documents) d,
                 (SELECT unnest(range(0, {DHASH_GRID})) AS px) tx,
                 (SELECT unnest(range(0, {DHASH_GRID})) AS py) ty
        ),
        mc2 AS (
            SELECT *, LEAST(x0 + 1, {video.VID_W - 1}) AS x1,
                   LEAST(y0 + 1, {video.VID_H - 1}) AS y1
            FROM mc
        ),
        mgrid AS (
            SELECT mc2.doc_id, px, py,
                   g00.gsum * ({_G2} - wx) * ({_G2} - wy)
                   + g01.gsum * wx * ({_G2} - wy)
                   + g10.gsum * ({_G2} - wx) * wy
                   + g11.gsum * wx * wy AS nval
            FROM mc2
            JOIN mg g00 ON g00.doc_id = mc2.doc_id
                       AND g00.j = y0 * {video.VID_W} + x0
            JOIN mg g01 ON g01.doc_id = mc2.doc_id
                       AND g01.j = y0 * {video.VID_W} + x1
            JOIN mg g10 ON g10.doc_id = mc2.doc_id
                       AND g10.j = y1 * {video.VID_W} + x0
            JOIN mg g11 ON g11.doc_id = mc2.doc_id
                       AND g11.j = y1 * {video.VID_W} + x1
        ),
        mbits AS (
            SELECT doc_id, py, px,
                   CASE WHEN lead(nval) OVER (
                            PARTITION BY doc_id, py ORDER BY px) > nval
                        THEN '1' ELSE '0' END AS b
            FROM mgrid
        ),
        mfp AS (
            SELECT doc_id, string_agg(b, '' ORDER BY py, px) AS mdhash
            FROM mbits WHERE px < {DHASH_ROW_BITS}
            GROUP BY doc_id
        )
"""

ORACLES: dict[str, str] = {
    "q_video_mean_dhash": f"""
        WITH {_MDHASH_SQL}
        SELECT doc_id, mdhash FROM mfp
    """,
    "q_multimodal_keep": f"""
        WITH {_DHASH_FP_SQL},
        {_VFP_SQL.lstrip()},
        ed AS (
            SELECT min(doc_id) AS doc_id FROM documents
            GROUP BY md5(lower(regexp_replace(text, '\\s+', ' ', 'g')))
        ),{_dropped_sql("fp", "doc_id", "dhash", "i")},
        {_dropped_sql("vfp", "doc_id", "vfp", "v").lstrip()}
        SELECT dd.doc_id,
               CAST(CASE WHEN e.doc_id IS NULL THEN 0 ELSE 1 END AS INT)
                   AS keep_text,
               CAST(CASE WHEN i.doc_id IS NULL THEN 1 ELSE 0 END AS INT)
                   AS keep_image,
               CAST(CASE WHEN v.doc_id IS NULL THEN 1 ELSE 0 END AS INT)
                   AS keep_video,
               CAST(CASE WHEN e.doc_id IS NOT NULL AND i.doc_id IS NULL
                          AND v.doc_id IS NULL
                    THEN 1 ELSE 0 END AS INT) AS keep
        FROM documents dd
        LEFT JOIN ed e USING (doc_id)
        LEFT JOIN idropped i USING (doc_id)
        LEFT JOIN vdropped v USING (doc_id)
    """,
    "q_video_meta": f"""
        WITH vd AS (
            SELECT doc_id,
                   CAST({video.VID_MIN_FRAMES}
                        + octet_length(encode(text))
                          % {video.VID_FRAMES_MOD} AS BIGINT) AS nf
            FROM documents
        )
        SELECT doc_id,
               CAST(36 + nf * (8 + {_PPF}) AS BIGINT) AS n_bytes,
               CAST({video.VID_W} AS BIGINT) AS width,
               CAST({video.VID_H} AS BIGINT) AS height,
               nf AS n_frames,
               CAST({video.VID_FPS} AS BIGINT) AS fps,
               CAST(nf * 1000 // {video.VID_FPS} AS BIGINT) AS duration_ms
        FROM vd
    """,
    "q_video_frames": f"""
        WITH {_VOX_SQL}
        SELECT doc_id, j // {_PPF} AS frame,
               CAST(sum(v) AS BIGINT) AS pix_sum,
               CAST(min(v) AS BIGINT) AS pix_min,
               CAST(max(v) AS BIGINT) AS pix_max
        FROM vox
        WHERE (j // {_PPF}) % {VID_SAMPLE_EVERY} = 0
        GROUP BY doc_id, j // {_PPF}
    """,
    "q_video_scene_cuts": f"""
        WITH {_VOX_SQL},
        lagged AS (
            SELECT doc_id, j // {_PPF} AS frame,
                   abs(v - lag(v, {_PPF}) OVER (
                       PARTITION BY doc_id ORDER BY j)) AS d
            FROM vox
        )
        SELECT doc_id, CAST(frame AS BIGINT) AS frame,
               CAST(sum(d) AS BIGINT) AS delta,
               CAST(CASE WHEN sum(d) >= {SCENE_CUT_MIN} THEN 1 ELSE 0 END
                    AS INT) AS is_cut
        FROM lagged WHERE frame >= 1
        GROUP BY doc_id, frame
    """,
    "q_video_fp": f"""
        WITH {_VFP_SQL}
        SELECT doc_id, vfp FROM vfp
    """,
    "q_video_neardup": _banded_pairs_sql(_VFP_SQL, "vfp", "vfp"),
    "q_video_incremental": _banded_incremental_sql(
        _VFP_SQL + "," + _doc_source_sql("vfp"),
        "src", "vfp", "source = 'src0'",
    ),
    "q_video_dedup": _banded_dedup_sql(_VFP_SQL, "vfp", "vfp"),
}
