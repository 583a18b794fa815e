"""Multimodal column operators: image payloads as opaque `binary`
columns with typed metadata, processed in Arrow batches via
mapInPandas — decode, metadata extraction, feature extraction,
frame sampling, and resize.

The decode step is REAL (round 5): functions/imaging.py implements
pure-numpy BMP-24 and PPM-P6 codecs plus bilinear resize, and every
query below genuinely parses encoded image bytes back into pixel
grids. The testdata has no binary image column, so payloads are
SYNTHESIZED from documents.text as real encoded images (dimensions
closed-form from text length, pixels tiling the UTF-8 bytes, format
alternating by doc_id) — which keeps q_multimodal_meta fully
oracle-checkable: the synthesis embeds width/height into actual
format headers, the Spark path re-parses them from bytes, and DuckDB
recomputes them independently from text length. A header-parse bug,
stride-padding bug, or channel-order bug shows up as a hash mismatch.

Scale notes: mapInPandas streams Arrow record batches — constant
memory per task regardless of table size; binary payloads never pass
through the driver; decode parallelism == partition count. At 100 TB
the payloads live in parquet as binary chunks (or object-store
pointers) exactly like this, and the synthesis step is replaced by
reading the stored bytes — the decode path is unchanged.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from typing import Any, NamedTuple

import pandas as pd
from pyspark import cloudpickle as _cloudpickle
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from timeseriesdb_spark.functions import audio, imaging, video
from timeseriesdb_spark.operators.common import parallelize_small_scan
from timeseriesdb_spark.tables import load_table

# Ship the codec modules BY VALUE inside every serialized closure:
# executors don't need timeseriesdb_spark on their PYTHONPATH (the
# same reason the streaming kernels inline their helpers).
for _m in (imaging, audio, video):
    _cloudpickle.register_pickle_by_value(_m)

REAL_DECODE = True  # round 5: pure-numpy BMP/PPM decode, no stub left


def q_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary image payload → typed metadata (n_bytes, width, height,
    format), with width/height READ BACK from the encoded header by
    the real decoder. Oracle-checked end-to-end: DuckDB derives the
    same values in closed form from the synthesis contract."""
    doc = parallelize_small_scan(
        load_table(spark, sf_dir, "documents").select("doc_id", "text"),
        spark,
    )

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"doc_id": [], "n_bytes": [], "width": [], "height": [],
                   "format": []}
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                payload = imaging.synth_image(text.encode("utf-8"), int(doc_id))
                fmt, pix = imaging.decode_image(payload)
                h, w = pix.shape[:2]
                out["doc_id"].append(doc_id)
                out["n_bytes"].append(len(payload))
                out["width"].append(w)
                out["height"].append(h)
                out["format"].append(fmt)
            yield pd.DataFrame(out)

    return doc.mapInPandas(
        extract,
        "doc_id bigint, n_bytes bigint, width bigint, height bigint, format string",
    )


FEAT_DIM = 16    # feature vector size per payload
FRAME_EVERY = 4  # keep every k-th pixel row as a sampled "frame"


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature extraction + frame sampling over DECODED pixels: each
    payload decodes to an (H, W, 3) grid, the grayscale plane is
    split into FEAT_DIM contiguous stripes whose means form the
    feature vector (a real vision model embeds the same decoded grid,
    same signature), and every FRAME_EVERY-th pixel row counts as a
    sampled frame.

    Output is one row per (doc_id, dim) — scalar columns only, so the
    driver's canonicalizer can hash the result (an array<double>
    column is unhashable driver-side). Internally the vector form
    feeds the similarity operators (q_ann_*, q_embedding_neardup)
    directly; `F.collect_list` over dim re-assembles it when needed.

    Oracle-checked (round 6, was rows-only): stripe means are PURE
    INTEGER arithmetic — Σ(r+g+b) over the stripe is an exact bigint,
    the mean is the half-up integer division
    (2·S·10⁶ + denom) // (2·denom) with denom = 3·255·|stripe| (the
    cusum/STL rounding discipline: engine round(double) disagrees at
    half-way quotients, integer half-up cannot) — so DuckDB recomputes
    every feature value exactly from the byte-tiling contract without
    decoding, while the Spark side reads them off genuinely decoded
    pixels."""
    doc = parallelize_small_scan(
        load_table(spark, sf_dir, "documents").select("doc_id", "text"),
        spark,
    )
    feat_dim, frame_every = FEAT_DIM, FRAME_EVERY

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            out_doc, out_dim, out_val, out_frames = [], [], [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                payload = imaging.synth_image(text.encode("utf-8"), int(doc_id))
                _, pix = imaging.decode_image(payload)
                gsum = pix.astype(np.int64).sum(axis=2).ravel()
                stripes = np.array_split(gsum, feat_dim)
                nf = (pix.shape[0] + frame_every - 1) // frame_every
                for d, s in enumerate(stripes):
                    total = int(s.sum())
                    denom = 3 * 255 * len(s)
                    v6 = (2 * total * 1_000_000 + denom) // (2 * denom)
                    out_doc.append(doc_id)
                    out_dim.append(d)
                    out_val.append(v6 / 1e6)
                    out_frames.append(nf)
            yield pd.DataFrame(
                {
                    "doc_id": out_doc,
                    "dim": out_dim,
                    "value": out_val,
                    "n_frames_sampled": out_frames,
                }
            )

    return doc.mapInPandas(
        extract,
        "doc_id bigint, dim bigint, value double, n_frames_sampled bigint",
    )


RESIZE_W, RESIZE_H = 8, 8  # target thumbnail grid


def q_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real image resize: payload → decode → grayscale → bilinear
    resample to (RESIZE_W, RESIZE_H) — the thumbnail/preprocess stage
    of a vision pipeline, on actual decoded pixels. Emits scalar rows
    (doc_id, px, py, value); the grid reassembles via pivot/collect
    when a model consumes it.

    ORACLE-CHECKED (r8): the resample runs through
    imaging.bilinear_gray_exact — the align_corners=False source
    coordinate kept as the rational ((2p+1)·W − out)/(2·out) so all
    four tap weights are small integers, value = N/D with N an int64
    tap sum and D = 3·(2out_h)(2out_w)·255. The DuckDB oracle
    recomputes N closed-form from the byte-tiling contract (the same
    hex-byte machinery as q_multimodal_features) and the final N/D
    double division is bit-identical in both engines. Pixel-level
    geometry stays pinned by tests/test_multimodal.py."""
    doc = parallelize_small_scan(
        load_table(spark, sf_dir, "documents").select("doc_id", "text"),
        spark,
    )
    w, h = RESIZE_W, RESIZE_H

    def resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        px_t = np.tile(np.arange(w, dtype=np.int64), h)
        py_t = np.repeat(np.arange(h, dtype=np.int64), w)
        for pdf in batches:
            grids = []
            denom = 1.0
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                payload = imaging.synth_image(text.encode("utf-8"), int(doc_id))
                _, pix = imaging.decode_image(payload)
                # ravel() is py-major / px-fast — the (py, px) order
                # px_t/py_t index
                n, d = imaging.bilinear_gray_exact(pix, h, w)
                grids.append(n.ravel())
                denom = float(d)
            if not grids:
                yield pd.DataFrame(
                    {"doc_id": [], "px": [], "py": [], "value": []}
                )
                continue
            ids = pdf["doc_id"].to_numpy(np.int64)
            yield pd.DataFrame(
                {
                    "doc_id": np.repeat(ids, h * w),
                    "px": np.tile(px_t, len(ids)),
                    "py": np.tile(py_t, len(ids)),
                    "value": np.concatenate(grids) / denom,
                }
            )

    return doc.mapInPandas(
        resize, "doc_id bigint, px bigint, py bigint, value double"
    )


def q_multimodal_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact integer checksums over the DECODED pixel grid, per doc:
    element count, plain sum, and a position-weighted sum
    Σ pixel[j]·(j+1) over the flattened top-down RGB order. The
    weighted sum makes the check order-sensitive: a BGR/RGB channel
    swap, a bottom-up row flip, or a stride/padding slip all move
    values to different flat indices and change the hash even when
    the plain sum is invariant. Oracle-checked: pixels tile the UTF-8
    text bytes cyclically (imaging.synth_image), so DuckDB recomputes
    both sums closed-form — byte p of the text appears at flat
    positions p, p+n, p+2n… below N=h·w·3, i.e. K_p = max(0,
    ⌈(N−p)/n⌉) times, contributing K_p·v_p to the sum and
    v_p·(K_p(p+1) + n·K_p(K_p−1)/2) to the weighted sum (arithmetic
    series) — no decoding on the oracle side, full decode on the
    Spark side. This is the hash-checked companion the rows-only
    q_multimodal_resize kernel rides on (same decode path)."""
    doc = parallelize_small_scan(
        load_table(spark, sf_dir, "documents").select("doc_id", "text"),
        spark,
    )

    def check(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            out = {"doc_id": [], "n_vals": [], "pix_sum": [], "pix_wsum": []}
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                payload = imaging.synth_image(text.encode("utf-8"), int(doc_id))
                _, pix = imaging.decode_image(payload)
                flat = pix.reshape(-1).astype(np.int64)
                out["doc_id"].append(doc_id)
                out["n_vals"].append(int(flat.size))
                out["pix_sum"].append(int(flat.sum()))
                out["pix_wsum"].append(
                    int((flat * (np.arange(flat.size, dtype=np.int64) + 1)).sum())
                )
            yield pd.DataFrame(out)

    return doc.mapInPandas(
        check,
        "doc_id bigint, n_vals bigint, pix_sum bigint, pix_wsum bigint",
    )


DHASH_GRID = imaging.DHASH_GRID       # resized grid side (DHASH_GRID × DHASH_GRID)
DHASH_ROW_BITS = DHASH_GRID - 1       # horizontal gradients per row
DHASH_BITS = DHASH_GRID * DHASH_ROW_BITS  # 56-bit fingerprint
DHASH_BANDS = 4       # pigeonhole bands: hamming ≤ DHASH_T ⇒ ≥1 band equal
DHASH_BAND_W = DHASH_BITS // DHASH_BANDS  # 14 bits per band
DHASH_T = 3           # near-dup threshold on fingerprint hamming distance
DHASH_BAND_DF_CAP = 64  # boilerplate fence: band buckets larger than
                        # this are dropped before pairing (the
                        # SHINGLE_DF_CAP discipline — a hot bucket
                        # would emit df² pairs; real corpora hit this
                        # on blank/template images)


class FpFamily(NamedTuple):
    """One 56-bit near-dup fingerprint family (see FAMILIES)."""

    id_col: str
    fp_col: str
    bits: Callable[[Any], str]  # decoded payload → '01' string
    decode: Callable[[bytes], tuple]  # payload → (header, decoded)
    synth: Callable[..., bytes]  # the batch tier's payload synthesis
    source: str  # batch-tier input: "text+id", "text" or "events"


# Every image, audio and video near-dup family, keyed by its fp column.
# Each emits a DHASH_BITS-wide '01' string from exact integer
# comparisons, so one banded-Hamming core serves them all: DHASH_BANDS
# bands of DHASH_BAND_W bits, pigeonhole-complete at hamming ≤ DHASH_T
# (a near-dup pair shares at least one unchanged band, so candidates
# only form inside a band bucket — an equi-join, never all-pairs), and
# buckets past DHASH_BAND_DF_CAP dropped (blank images, silent clips
# and static videos are the stop-shingles). A family is computed once
# when its band store is written; later batches probe the store
# (incremental_fp) or stream through the stateless gate
# (fp_probe_stream) with no corpus re-decode, the lsh_bands lifecycle
# of dedup.py. Adding a family takes one entry here plus one `bits`
# function in a functions/ module. Kernels close over these functions
# and the codec modules only: those are registered by value at the top
# of this module, so executors need no package install, while anything
# defined in operators/ (this table's tuple type too) would pickle by
# reference.
#
# - dhash: image gradient signs of the exact-integer resized grid;
#   payload synthesized from documents.text, BMP or PPM by doc_id.
# - afp: audio energy-delta signs; a clip is a signal, so the batch
#   tier synthesizes one WAV per signal from its events.
# - vfp: video voxel stream under the audio hash — edit-robust.
# - mdhash: dHash of the video's time-mean frame — rate-robust (an
#   fps-doubled re-encode keeps it exactly). A pipeline keeps both
#   video indexes.
FAMILIES = {
    "dhash": FpFamily("doc_id", "dhash", imaging.dhash_bits,
                      imaging.decode_image, imaging.synth_image, "text+id"),
    "afp": FpFamily("user_id", "afp", audio.fingerprint_bits,
                    audio.decode_wav, audio.synth_audio, "events"),
    "vfp": FpFamily("doc_id", "vfp", video.voxel_bits,
                    video.decode_video, video.synth_video, "text"),
    "mdhash": FpFamily("doc_id", "mdhash", video.mean_dhash_bits,
                       video.decode_video, video.synth_video, "text"),
}


def _batch_cols(fam: FpFamily) -> tuple[str, ...]:
    """The columns a family's batch tier reads."""
    if fam.source == "events":
        return ("user_id", "ts", "event_id", "value")
    return (fam.id_col, "text")


def fingerprints(df: DataFrame, key: str, carry: bool = False) -> DataFrame:
    """Family `key`'s fingerprint column appended to `df`, one
    stateless Arrow pass (so it runs unchanged on a readStream frame).
    The payload is the `payload` column's bytes when `df` has one (the
    stored and streamed route), else synthesized from `text`; the
    audio family with no `payload` groups signal events into clips
    instead. carry=True keeps every input column, else only
    (id, fp)."""
    id_col, fp_col, bits, decode, synth, source = FAMILIES[key]
    from_payload = "payload" in df.columns
    if source == "events" and not from_payload:
        return _clip_fingerprints(df, FAMILIES[key])
    by_id = source == "text+id"

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if from_payload:
                payloads = (bytes(p) for p in pdf["payload"])
            elif by_id:
                payloads = (
                    synth(t.encode("utf-8"), int(i))
                    for i, t in zip(pdf[id_col], pdf["text"])
                )
            else:
                payloads = (synth(t.encode("utf-8")) for t in pdf["text"])
            fps = [bits(decode(p)[1]) for p in payloads]
            out = pdf.copy() if carry else pdf[[id_col]].copy()
            out[fp_col] = fps
            yield out

    if carry:
        from pyspark.sql.types import StringType, StructField, StructType

        schema = StructType(
            list(df.schema.fields) + [StructField(fp_col, StringType())]
        )
    else:
        schema = f"{id_col} bigint, {fp_col} string"
    return df.mapInPandas(kernel, schema)


def _clip_fingerprints(ev: DataFrame, fam: FpFamily) -> DataFrame:
    """(user_id, fp) per clip: each signal's events, in (ts, event_id)
    order, synthesize one real payload that the kernel decodes and
    hashes. One shuffle on user_id (packed_grouped_map); after it a
    clip is 56 characters, and pair formation downstream is
    bucketed."""
    from timeseriesdb_spark.operators.transforms import packed_grouped_map

    id_col, fp_col, bits, decode, synth, _ = fam

    def clip_fp(g: pd.DataFrame) -> pd.DataFrame:
        payload = synth(g["value"].to_numpy())
        return pd.DataFrame(
            {
                id_col: [int(g[id_col].iloc[0])],
                fp_col: [bits(decode(payload)[1])],
            }
        )

    return packed_grouped_map(ev, clip_fp, f"{id_col} bigint, {fp_col} string")


def _band_key(fp: "F.Column", b: int) -> "F.Column":
    """'<b>:<band b's 14 bits>' — one string column a store buckets on."""
    return F.concat(
        F.lit(f"{b}:"), F.substring(fp, b * DHASH_BAND_W + 1, DHASH_BAND_W)
    )


def fp_bands(fp: DataFrame, key: str, cap: bool = True) -> DataFrame:
    """Explode a family's (id, fp) frame into (id, fp, band_key) rows.
    With cap=True, buckets past DHASH_BAND_DF_CAP are dropped; probes
    leave their small batch side uncapped."""
    fam = FAMILIES[key]
    bands = fp.select(
        fam.id_col,
        fam.fp_col,
        F.explode(
            F.array(*[_band_key(F.col(fam.fp_col), b) for b in range(DHASH_BANDS)])
        ).alias("band_key"),
    )
    if not cap:
        return bands
    from pyspark.sql import Window

    w = Window.partitionBy("band_key")
    return (
        bands.withColumn("_df", F.count("*").over(w))
        .where(F.col("_df") <= DHASH_BAND_DF_CAP)
        .drop("_df")
    )


def _dhash_hamming(ca: str, cb: str) -> "F.Column":
    """Exact hamming distance between two '01' fingerprint columns:
    per-band binary→long conversion, XOR, popcount — all JVM."""
    band_int = lambda c, i: F.conv(  # noqa: E731
        F.substring(c, i * DHASH_BAND_W + 1, DHASH_BAND_W), 2, 10
    ).cast("long")
    return sum(
        F.bit_count(band_int(ca, i).bitwiseXOR(band_int(cb, i)))
        for i in range(DHASH_BANDS)
    ).cast("bigint")


def _pair_cols(key: str) -> tuple[str, str]:
    """A family's pair columns: its id column with `_id` → `_a`, `_b`."""
    stem = FAMILIES[key].id_col.removesuffix("_id")
    return f"{stem}_a", f"{stem}_b"


def fp_neardup_pairs(fp: DataFrame, key: str) -> DataFrame:
    """Near-dup pairs (<id>_a, <id>_b, hamming) of a family's (id, fp)
    frame: the banded candidate join, then the exact hamming filter."""
    id_col, fp_col = FAMILIES[key].id_col, FAMILIES[key].fp_col
    out_a, out_b = _pair_cols(key)
    bands = fp_bands(fp, key, cap=True)
    a, b = bands.alias("a"), bands.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias(out_a),
            F.col(f"b.{id_col}").alias(out_b),
            F.col(f"a.{fp_col}").alias("fa"),
            F.col(f"b.{fp_col}").alias("fb"),
        )
        .distinct()
    )
    return (
        pairs.select(
            out_a, out_b, _dhash_hamming("fa", "fb").alias("hamming")
        )
        .where(F.col("hamming") <= DHASH_T)
    )


def fp_dedup_decision(fp: DataFrame, key: str) -> DataFrame:
    """Total keep/drop decision (id, fp, keep) over a CHECKPOINTED
    (id, fp) frame — keep = 0 iff a smaller-id item is within hamming
    DHASH_T via the banded pairs. Callers checkpoint so the decode pass
    runs once across the plan's branches."""
    fam = FAMILIES[key]
    id_col = fam.id_col
    dropped = (
        fp_neardup_pairs(fp, key)
        .select(F.col(_pair_cols(key)[1]).alias(id_col))
        .distinct()
        .withColumn("_dropped", F.lit(1))
    )
    return fp.join(dropped, id_col, "left").select(
        id_col,
        fam.fp_col,
        F.when(F.col("_dropped").isNotNull(), 0)
        .otherwise(1)
        .cast("int")
        .alias("keep"),
    )


def write_fp_store(corpus: DataFrame, key: str, table: str) -> None:
    """Persist the corpus band index of family `key` as a
    band_key-bucketed catalog table: fingerprints are computed ONCE
    here, every later batch probes the store with no corpus re-decode,
    and the probe join co-locates on band_key with no exchange on the
    corpus side. Stored CAPPED (DHASH_BAND_DF_CAP), so no probe fans
    out on a hot bucket."""
    from timeseriesdb_spark.sources.bucketed import write_bucketed

    write_bucketed(
        fp_bands(fingerprints(corpus, key), key, cap=True),
        table,
        key="band_key",
        sort_by=None,
    )


def incremental_fp(
    batch: DataFrame, corpus: DataFrame | str, key: str
) -> DataFrame:
    """Incremental near-dup decision of family `key`: per batch item,
    dup_of_corpus (within hamming DHASH_T of a corpus item),
    dup_of_batch (of an EARLIER batch item — smaller id, keep-first)
    and keep = 1 iff neither. `corpus` is a corpus frame, fingerprinted
    and banded here, or the name of a band table from write_fp_store,
    which probes with no corpus re-decode."""
    fam = FAMILIES[key]
    id_col, fp_col = fam.id_col, fam.fp_col
    if isinstance(corpus, str):
        bands_c = batch.sparkSession.table(corpus)
    else:
        bands_c = fp_bands(fingerprints(corpus, key), key, cap=True)
    # one decode of the batch feeds both probe joins: the batch is the
    # small side, checkpointed eagerly so the plan's branches share it
    fp_b = fingerprints(batch.select(*_batch_cols(fam)), key).localCheckpoint()
    bands_b = fp_bands(fp_b, key, cap=False)
    a = bands_b.alias("a")
    ham = _dhash_hamming(f"a.{fp_col}", f"b.{fp_col}")
    corpus_hits = (
        a.join(bands_c.alias("b"), F.col("a.band_key") == F.col("b.band_key"))
        .where(ham <= DHASH_T)
        .select(F.col(f"a.{id_col}").alias(id_col))
        .distinct()
    )
    batch_hits = (
        a.join(
            bands_b.alias("b"),
            (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col(f"a.{id_col}") > F.col(f"b.{id_col}")),
        )
        .where(ham <= DHASH_T)
        .select(F.col(f"a.{id_col}").alias(id_col))
        .distinct()
    )
    c_flag = corpus_hits.withColumn("dup_of_corpus", F.lit(1))
    b_flag = batch_hits.withColumn("dup_of_batch", F.lit(1))
    return (
        fp_b.select(id_col)
        .join(c_flag, id_col, "left")
        .join(b_flag, id_col, "left")
        .select(
            id_col,
            F.coalesce("dup_of_corpus", F.lit(0)).alias("dup_of_corpus"),
            F.coalesce("dup_of_batch", F.lit(0)).alias("dup_of_batch"),
            F.when(
                F.col("dup_of_corpus").isNull()
                & F.col("dup_of_batch").isNull(),
                1,
            )
            .otherwise(0)
            .alias("keep"),
        )
    )


def fp_probe_stream(
    stream: DataFrame, corpus_bands: DataFrame, key: str
) -> DataFrame:
    """The stateless ingest-path near-dup gate of family `key`:
    fingerprint the (possibly streaming) frame with every column
    carried, then drop rows within hamming DHASH_T of the persisted
    corpus band index — one LEFT ANTI stream-static join per band, each
    an equi-join on band_key with the exact hamming refinement as a
    residual predicate. No state store: a replayed micro-batch
    re-probes to the same answer. Within-stream duplicates stay the
    periodic batch pass (the q_*_dedup queries), the lambda split of
    the text probe (streaming/curation.neardup_probe_stream)."""
    fp_col = FAMILIES[key].fp_col
    cur = fingerprints(stream, key, carry=True)
    for b in range(DHASH_BANDS):
        cond = (_band_key(F.col(f"a.{fp_col}"), b) == F.col("c.band_key")) & (
            _dhash_hamming(f"a.{fp_col}", f"c.{fp_col}") <= DHASH_T
        )
        cur = cur.alias("a").join(corpus_bands.alias("c"), cond, "left_anti")
    return cur


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return parallelize_small_scan(
        load_table(spark, sf_dir, "documents").select("doc_id", "text"),
        spark,
    )


def q_image_dhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dHash fingerprint tier itself (doc_id, dhash) — what a
    production pipeline PERSISTS (write_fp_store) so later image
    batches dedup against the store without re-decoding the corpus."""
    return fingerprints(_docs(spark, sf_dir), "dhash")


def q_image_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-duplicate pairs (doc_a, doc_b, hamming) over the
    dHash fingerprints (fp_neardup_pairs).

    Scale: decode + fingerprint is one Arrow-batched corpus pass;
    pair formation is bucketed (measured linear on the replicated-
    image probe — cross-replica images differ, so replicas add pairs,
    never multiply them); hamming is integer band-XOR popcounts.

    NOTE the sf0.01 test corpus genuinely has no image pair within
    hamming DHASH_T (closest candidate is 11 bits apart) — the 0-row
    result there is the true answer, and q_image_dedup covers the
    same machinery with corpus-sized output at every SF."""
    return fp_neardup_pairs(fingerprints(_docs(spark, sf_dir), "dhash"), "dhash")


def q_image_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Total image keep/drop decision — the q_semdedup shape for the
    multimodal column: every document gets a row (doc_id, dhash,
    keep), keep = 0 iff a smaller-id document's image is within
    hamming DHASH_T (via the banded pairs). This is the query a
    curation pipeline actually consumes (q_image_neardup's pair list
    is its evidence trail), and it stays corpus-sized at every SF.
    The fingerprint frame is checkpointed so the decode pass runs
    once, not once per plan branch."""
    fp = fingerprints(_docs(spark, sf_dir), "dhash").localCheckpoint()
    return fp_dedup_decision(fp, "dhash")


def _incremental_by_source(
    spark: SparkSession, sf_dir: str, key: str
) -> DataFrame:
    """incremental_fp of a document family with documents split by
    source: `src0` plays the already-indexed corpus, every other
    source the incoming batch (the q_incremental_neardup
    convention)."""
    from timeseriesdb_spark.operators.dedup import CORPUS_SOURCE

    doc = parallelize_small_scan(
        load_table(spark, sf_dir, "documents").select(
            "doc_id", "text", "source"
        ),
        spark,
    )
    return incremental_fp(
        doc.where(F.col("source") != CORPUS_SOURCE),
        doc.where(F.col("source") == CORPUS_SOURCE),
        key,
    )


def q_image_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental image dedup (_incremental_by_source)."""
    return _incremental_by_source(spark, sf_dir, "dhash")


AUD_FRAME = 64  # samples per analysis frame (complete frames only)


def q_audio_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio payload → typed metadata (n_bytes, sample_rate,
    n_samples, duration_ms), with everything READ BACK from a real
    RIFF/PCM16 decode (functions/audio.py): per signal the event
    values synthesize into an actual WAV file whose header the kernel
    re-parses. Oracle-checked: DuckDB derives the same numbers closed
    form from the synthesis contract (n_bytes = 44 + 2n for the
    canonical single fmt/data layout; duration_ms = n·1000 // rate)."""
    from timeseriesdb_spark.operators.transforms import packed_grouped_map

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "value"
    )

    def meta(g: pd.DataFrame) -> pd.DataFrame:
        payload = audio.synth_audio(g["value"].to_numpy())
        rate, samples = audio.decode_wav(payload)
        return pd.DataFrame(
            {
                "user_id": [int(g["user_id"].iloc[0])],
                "n_bytes": [len(payload)],
                "sample_rate": [rate],
                "n_samples": [len(samples)],
                "duration_ms": [len(samples) * 1000 // rate],
            }
        )

    return packed_grouped_map(
        ev,
        meta,
        "user_id bigint, n_bytes bigint, sample_rate bigint, "
        "n_samples bigint, duration_ms bigint",
    )


def q_audio_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-level audio feature extraction over DECODED samples —
    the feature-extract / frame-sample stage of an audio pipeline
    (what an audio model's frontend computes before embedding): per
    complete AUD_FRAME-sample frame, the exact integer energy Σs²,
    peak |s|, and the zero-crossing count (sign products < 0 between
    adjacent samples within the frame). ALL INTEGER over int16
    samples (energy ≤ 64·32768² ≈ 6.9e10, safely int64), so the
    whole feature table hash-checks cross-engine: the oracle
    recomputes the samples closed-form from the synthesis contract
    (round + clamp) and replays the frame math with lag/sum — while
    the Spark side reads them off a genuinely decoded WAV."""
    from timeseriesdb_spark.operators.transforms import packed_grouped_map

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "value"
    )
    fr = AUD_FRAME

    def frames(g: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        payload = audio.synth_audio(g["value"].to_numpy())
        _, s = audio.decode_wav(payload)
        k = len(s) // fr
        if not k:
            return pd.DataFrame(
                {
                    "user_id": pd.Series(dtype="int64"),
                    "frame": pd.Series(dtype="int64"),
                    "energy": pd.Series(dtype="int64"),
                    "peak": pd.Series(dtype="int64"),
                    "n_zc": pd.Series(dtype="int64"),
                }
            )
        m = s[: k * fr].astype(np.int64).reshape(k, fr)
        energy = (m * m).sum(axis=1)
        peak = np.abs(m).max(axis=1)
        zc = ((m[:, 1:] * m[:, :-1]) < 0).sum(axis=1)
        return pd.DataFrame(
            {
                "user_id": np.full(k, int(g["user_id"].iloc[0]), dtype=np.int64),
                "frame": np.arange(k, dtype=np.int64),
                "energy": energy,
                "peak": peak,
                "n_zc": zc.astype(np.int64),
            }
        )

    return packed_grouped_map(
        ev,
        frames,
        "user_id bigint, frame bigint, energy bigint, peak bigint, "
        "n_zc bigint",
    )


AUDIO_CORPUS_MOD = 2  # incremental split: even user_id = indexed
                      # corpus, odd = incoming batch (events carry no
                      # `source` column; parity is the deterministic
                      # stand-in for the documents convention)


def _audio_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "events").select(
        *_batch_cols(FAMILIES["afp"])
    )


def q_audio_fp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The audio fingerprint tier itself (user_id, afp): each signal's
    events synthesize into a REAL RIFF/PCM16 WAV that the kernel
    decodes back (a header or byte-order bug breaks the oracle hash)
    and hashes with the energy-delta-sign bits
    (audio.fingerprint_bits). What a production pipeline PERSISTS
    (write_fp_store) so later audio batches dedup against the store
    without re-decoding the clip corpus."""
    return fingerprints(_audio_events(spark, sf_dir), "afp")


def q_audio_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio near-duplicate pairs (user_a, user_b, hamming) over the
    energy-delta fingerprints (fp_neardup_pairs). Like the image
    family at sf0.01, a 0-row result on a corpus with no clip pair
    within hamming DHASH_T is the true answer — q_audio_dedup covers
    the same machinery with corpus-sized output at every SF, and the
    banded==brute property is pinned on crafted length-shifted replica
    clips."""
    return fp_neardup_pairs(fingerprints(_audio_events(spark, sf_dir), "afp"), "afp")


def q_audio_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Total audio keep/drop decision — every clip gets a row
    (user_id, afp, keep), keep = 0 iff a smaller-id clip is within
    hamming DHASH_T (via the banded pairs); corpus-sized at every SF.
    The fingerprint frame is checkpointed so the decode pass runs
    once, not once per plan branch."""
    fp = fingerprints(_audio_events(spark, sf_dir), "afp").localCheckpoint()
    return fp_dedup_decision(fp, "afp")


def q_audio_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental audio dedup with clips split by user_id parity:
    even user_ids play the already-indexed corpus, odd the incoming
    batch (events carry no `source`; the q_image_incremental
    convention adapted)."""
    ev = _audio_events(spark, sf_dir)
    return incremental_fp(
        ev.where(F.col("user_id") % AUDIO_CORPUS_MOD != 0),
        ev.where(F.col("user_id") % AUDIO_CORPUS_MOD == 0),
        "afp",
    )


QUERIES = {
    "q_multimodal_resize": q_multimodal_resize,
    "q_multimodal_meta": q_multimodal_meta,
    "q_multimodal_features": q_multimodal_features,
    "q_multimodal_checksum": q_multimodal_checksum,
    "q_image_dhash": q_image_dhash,
    "q_image_neardup": q_image_neardup,
    "q_image_dedup": q_image_dedup,
    "q_image_incremental": q_image_incremental,
    "q_audio_meta": q_audio_meta,
    "q_audio_frames": q_audio_frames,
    "q_audio_fp": q_audio_fp,
    "q_audio_neardup": q_audio_neardup,
    "q_audio_dedup": q_audio_dedup,
    "q_audio_incremental": q_audio_incremental,
}


# q_multimodal_meta stays oracle-checked WITH the real decoder: the
# synthesis contract (dims from text length, format from doc_id
# parity, exact encoded sizes incl. BMP row padding / PPM header
# text) is recomputed closed-form here, while the Spark path gets the
# same numbers only by correctly parsing the bytes it encoded.

# The shared hex-byte scaffold: dims + per-flat-pixel gray channel
# sums recomputed from the byte-tiling contract without decoding —
# pixel j's gray sum is v[(3j)%n] + v[(3j+1)%n] + v[(3j+2)%n] over
# the tiled text bytes read out of hex(encode(text)).
_DIMS_SQL = f"""
        d AS (
            SELECT doc_id, hex(encode(text)) AS hx,
                   octet_length(encode(text)) AS rawn
            FROM documents
        ),
        dims AS (
            SELECT doc_id, hx,
                   CAST(CASE WHEN rawn = 0 THEN 1 ELSE rawn END AS BIGINT) AS n,
                   rawn = 0 AS empty,
                   CAST({imaging.SYNTH_MIN} + rawn % {imaging.SYNTH_W_MOD}
                        AS BIGINT) AS w,
                   CAST({imaging.SYNTH_MIN} + (rawn * 7) % {imaging.SYNTH_H_MOD}
                        AS BIGINT) AS h
            FROM d
        )
"""

_GSUM_CASE = """
                   CASE WHEN empty THEN 0 ELSE
                     (strpos('0123456789ABCDEF',
                        substr(hx, CAST(2 * ((3*j) % n) + 1 AS INT), 1)) - 1) * 16
                     + strpos('0123456789ABCDEF',
                        substr(hx, CAST(2 * ((3*j) % n) + 2 AS INT), 1)) - 1
                     + (strpos('0123456789ABCDEF',
                        substr(hx, CAST(2 * ((3*j+1) % n) + 1 AS INT), 1)) - 1) * 16
                     + strpos('0123456789ABCDEF',
                        substr(hx, CAST(2 * ((3*j+1) % n) + 2 AS INT), 1)) - 1
                     + (strpos('0123456789ABCDEF',
                        substr(hx, CAST(2 * ((3*j+2) % n) + 1 AS INT), 1)) - 1) * 16
                     + strpos('0123456789ABCDEF',
                        substr(hx, CAST(2 * ((3*j+2) % n) + 2 AS INT), 1)) - 1
                   END AS gsum
"""

# The dHash fingerprint recomputed WITHOUT decoding: the 8×8 exact
# bilinear grid (integer tap sums N — same geometry as the
# q_multimodal_resize oracle, division by D skipped since only
# N-vs-N comparisons matter), then bit = lead(N) > N per row and an
# ordered string_agg. Shared WITH-chain for both image-dedup oracles.
_DHASH_FP_SQL = f"""
        {_DIMS_SQL},
        g AS (
            SELECT doc_id, j, {_GSUM_CASE}
            FROM (
                SELECT doc_id, hx, n, empty,
                       unnest(range(0, w * h)) AS j
                FROM dims
            )
        ),
        c AS (
            SELECT doc_id, w, h, px, py,
                   ((2 * px + 1) * w - {DHASH_GRID}) // {2 * DHASH_GRID} AS x0,
                   ((2 * px + 1) * w - {DHASH_GRID}) % {2 * DHASH_GRID} AS wx,
                   ((2 * py + 1) * h - {DHASH_GRID}) // {2 * DHASH_GRID} AS y0,
                   ((2 * py + 1) * h - {DHASH_GRID}) % {2 * DHASH_GRID} AS wy
            FROM dims,
                 (SELECT unnest(range(0, {DHASH_GRID})) AS px) tx,
                 (SELECT unnest(range(0, {DHASH_GRID})) AS py) ty
        ),
        c2 AS (
            SELECT *, LEAST(x0 + 1, w - 1) AS x1,
                   LEAST(y0 + 1, h - 1) AS y1
            FROM c
        ),
        grid AS (
            SELECT c2.doc_id, px, py,
                   g00.gsum * ({2 * DHASH_GRID} - wx) * ({2 * DHASH_GRID} - wy)
                   + g01.gsum * wx * ({2 * DHASH_GRID} - wy)
                   + g10.gsum * ({2 * DHASH_GRID} - wx) * wy
                   + g11.gsum * wx * wy AS nval
            FROM c2
            JOIN g g00 ON g00.doc_id = c2.doc_id AND g00.j = y0 * w + x0
            JOIN g g01 ON g01.doc_id = c2.doc_id AND g01.j = y0 * w + x1
            JOIN g g10 ON g10.doc_id = c2.doc_id AND g10.j = y1 * w + x0
            JOIN g g11 ON g11.doc_id = c2.doc_id AND g11.j = y1 * w + x1
        ),
        bits AS (
            SELECT doc_id, py, px,
                   CASE WHEN lead(nval) OVER (
                            PARTITION BY doc_id, py ORDER BY px) > nval
                        THEN '1' ELSE '0' END AS b
            FROM grid
        ),
        fp AS (
            SELECT doc_id, string_agg(b, '' ORDER BY py, px) AS dhash
            FROM bits WHERE px < {DHASH_ROW_BITS}
            GROUP BY doc_id
        )
"""

def _capped_sql(cte: str, id_col: str, fp_col: str, p: str = "") -> str:
    """CTEs `{p}bands` and `{p}capped` (fp_bands with cap=True) over a
    CTE `cte` yielding (id_col, fp_col) — the DuckDB replay of the
    banded core, shared by every family's oracles."""
    return f"""
        {p}bands AS (
            SELECT {id_col}, {fp_col}, band,
                   substr({fp_col}, CAST(band * {DHASH_BAND_W} + 1 AS INT),
                          {DHASH_BAND_W}) AS bkey
            FROM {cte} CROSS JOIN
                 (SELECT unnest(range(0, {DHASH_BANDS})) AS band) t
        ),
        {p}capped AS (
            SELECT {id_col}, {fp_col}, band, bkey FROM (
                SELECT *, count(*) OVER (PARTITION BY band, bkey) AS df
                FROM {p}bands
            ) WHERE df <= {DHASH_BAND_DF_CAP}
        )"""


def _dropped_sql(cte: str, id_col: str, fp_col: str, p: str = "") -> str:
    """_capped_sql plus CTE `{p}dropped`: the ids with a smaller-id
    item within hamming DHASH_T."""
    return f"""{_capped_sql(cte, id_col, fp_col, p)},
        {p}dropped AS (
            SELECT DISTINCT b.{id_col}
            FROM {p}capped a JOIN {p}capped b
              ON a.band = b.band AND a.bkey = b.bkey
             AND a.{id_col} < b.{id_col}
            WHERE hamming(a.{fp_col}, b.{fp_col}) <= {DHASH_T}
        )"""


def _banded_pairs_sql(fp_cte: str, cte: str, key: str) -> str:
    """DuckDB replay of fp_neardup_pairs over a WITH-chain whose final
    CTE `cte` yields family `key`'s (id, fp)."""
    id_col, fp_col = FAMILIES[key].id_col, FAMILIES[key].fp_col
    out_a, out_b = _pair_cols(key)
    return f"""
        WITH {fp_cte},{_capped_sql(cte, id_col, fp_col)},
        pairs AS (
            SELECT DISTINCT a.{id_col} AS {out_a}, b.{id_col} AS {out_b},
                   a.{fp_col} AS fa, b.{fp_col} AS fb
            FROM capped a JOIN capped b
              ON a.band = b.band AND a.bkey = b.bkey
             AND a.{id_col} < b.{id_col}
        )
        SELECT {out_a}, {out_b}, CAST(hamming(fa, fb) AS BIGINT) AS hamming
        FROM pairs WHERE hamming(fa, fb) <= {DHASH_T}
    """


def _banded_dedup_sql(fp_cte: str, cte: str, key: str) -> str:
    """DuckDB replay of the total keep/drop decision (q_*_dedup)."""
    id_col, fp_col = FAMILIES[key].id_col, FAMILIES[key].fp_col
    return f"""
        WITH {fp_cte},{_dropped_sql(cte, id_col, fp_col)}
        SELECT f.{id_col}, f.{fp_col},
               CAST(CASE WHEN d.{id_col} IS NULL THEN 1 ELSE 0 END AS INT)
                   AS keep
        FROM {cte} f LEFT JOIN dropped d USING ({id_col})
    """


def _banded_incremental_sql(
    fp_cte: str, cte: str, key: str, in_corpus: str
) -> str:
    """DuckDB replay of incremental_fp over a WITH-chain whose CTE
    `cte` yields family `key`'s (id, fp) plus whatever `in_corpus`
    (the predicate that puts a row in the indexed corpus) reads; every
    other row is the batch."""
    id_col, fp_col = FAMILIES[key].id_col, FAMILIES[key].fp_col
    band_key = f"""CAST(band AS VARCHAR) || ':' ||
                   substr({fp_col}, CAST(band * {DHASH_BAND_W} + 1 AS INT),
                          {DHASH_BAND_W}) AS band_key"""
    return f"""
        WITH {fp_cte},
        cb AS (
            SELECT {id_col}, {fp_col}, band_key FROM (
                SELECT *, count(*) OVER (PARTITION BY band_key) AS df
                FROM (
                    SELECT {id_col}, {fp_col}, {band_key}
                    FROM {cte} CROSS JOIN
                         (SELECT unnest(range(0, {DHASH_BANDS})) AS band) t
                    WHERE {in_corpus}
                )
            ) WHERE df <= {DHASH_BAND_DF_CAP}
        ),
        bb AS (
            SELECT {id_col}, {fp_col}, {band_key}
            FROM {cte} CROSS JOIN
                 (SELECT unnest(range(0, {DHASH_BANDS})) AS band) t
            WHERE NOT ({in_corpus})
        ),
        c_hits AS (
            SELECT DISTINCT a.{id_col}
            FROM bb a JOIN cb b USING (band_key)
            WHERE hamming(a.{fp_col}, b.{fp_col}) <= {DHASH_T}
        ),
        b_hits AS (
            SELECT DISTINCT a.{id_col}
            FROM bb a JOIN bb b
              ON a.band_key = b.band_key AND a.{id_col} > b.{id_col}
            WHERE hamming(a.{fp_col}, b.{fp_col}) <= {DHASH_T}
        )
        SELECT f.{id_col},
               CAST(CASE WHEN c.{id_col} IS NULL THEN 0 ELSE 1 END AS INT)
                   AS dup_of_corpus,
               CAST(CASE WHEN b.{id_col} IS NULL THEN 0 ELSE 1 END AS INT)
                   AS dup_of_batch,
               CAST(CASE WHEN c.{id_col} IS NULL AND b.{id_col} IS NULL
                         THEN 1 ELSE 0 END AS INT) AS keep
        FROM {cte} f
        LEFT JOIN c_hits c USING ({id_col})
        LEFT JOIN b_hits b USING ({id_col})
        WHERE NOT ({in_corpus})
    """


def _doc_source_sql(cte: str) -> str:
    """CTE `src`: a document family's (doc_id, fp) rows from `cte` with
    each document's source (`src0` is the incremental split's
    corpus)."""
    return f"""
        src AS (
            SELECT f.*, d.source FROM {cte} f JOIN documents d USING (doc_id)
        )"""


ORACLES: dict[str, str] = {
    "q_image_dhash": f"""
        WITH {_DHASH_FP_SQL}
        SELECT doc_id, dhash FROM fp
    """,
    "q_image_neardup": _banded_pairs_sql(_DHASH_FP_SQL, "fp", "dhash"),
    "q_audio_meta": f"""
        SELECT user_id,
               CAST(44 + 2 * count(*) AS BIGINT) AS n_bytes,
               CAST({audio.AUD_RATE} AS BIGINT) AS sample_rate,
               CAST(count(*) AS BIGINT) AS n_samples,
               CAST(count(*) * 1000 // {audio.AUD_RATE} AS BIGINT)
                   AS duration_ms
        FROM events GROUP BY user_id
    """,
    # samples recomputed WITHOUT decoding from the synthesis contract
    # (round half-away + int16 clamp), frame math replayed with
    # integer lag/sum — the Spark side reads a genuinely decoded WAV
    "q_audio_frames": f"""
        WITH s AS (
            SELECT user_id,
                   row_number() OVER (
                       PARTITION BY user_id ORDER BY ts, event_id) - 1
                       AS i,
                   LEAST(GREATEST(CAST(round(value * {audio.AUD_SCALE})
                                       AS BIGINT), -32768), 32767) AS smp
            FROM events
        ),
        f AS (
            SELECT user_id, i // {AUD_FRAME} AS frame, smp,
                   lag(smp) OVER (PARTITION BY user_id, i // {AUD_FRAME}
                                  ORDER BY i) AS prev
            FROM s
        )
        SELECT user_id, CAST(frame AS BIGINT) AS frame,
               CAST(sum(smp * smp) AS BIGINT) AS energy,
               CAST(max(abs(smp)) AS BIGINT) AS peak,
               CAST(sum(CASE WHEN prev IS NOT NULL AND prev * smp < 0
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_zc
        FROM f GROUP BY user_id, frame
        HAVING count(*) = {AUD_FRAME}
    """,
    "q_image_incremental": _banded_incremental_sql(
        _DHASH_FP_SQL + "," + _doc_source_sql("fp"),
        "src", "dhash", "source = 'src0'",
    ),
    "q_image_dedup": _banded_dedup_sql(_DHASH_FP_SQL, "fp", "dhash"),
    # Exact-integer bilinear replayed closed-form: the kernel's
    # rational geometry (x0/wx from ((2p+1)·W − out) over 2·out) and
    # integer tap sum N join four gsum lookups; value = N/D is one
    # double division, identical in both engines.
    "q_multimodal_resize": f"""
        WITH {_DIMS_SQL},
        g AS (
            SELECT doc_id, j, {_GSUM_CASE}
            FROM (
                SELECT doc_id, hx, n, empty,
                       unnest(range(0, w * h)) AS j
                FROM dims
            )
        ),
        c AS (
            SELECT doc_id, w, h, px, py,
                   ((2 * px + 1) * w - {RESIZE_W}) // {2 * RESIZE_W} AS x0,
                   ((2 * px + 1) * w - {RESIZE_W}) % {2 * RESIZE_W} AS wx,
                   ((2 * py + 1) * h - {RESIZE_H}) // {2 * RESIZE_H} AS y0,
                   ((2 * py + 1) * h - {RESIZE_H}) % {2 * RESIZE_H} AS wy
            FROM dims,
                 (SELECT unnest(range(0, {RESIZE_W})) AS px) tx,
                 (SELECT unnest(range(0, {RESIZE_H})) AS py) ty
        ),
        c2 AS (
            SELECT *, LEAST(x0 + 1, w - 1) AS x1,
                   LEAST(y0 + 1, h - 1) AS y1
            FROM c
        )
        SELECT c2.doc_id, CAST(px AS BIGINT) AS px,
               CAST(py AS BIGINT) AS py,
               CAST(g00.gsum * ({2 * RESIZE_W} - wx) * ({2 * RESIZE_H} - wy)
                    + g01.gsum * wx * ({2 * RESIZE_H} - wy)
                    + g10.gsum * ({2 * RESIZE_W} - wx) * wy
                    + g11.gsum * wx * wy AS DOUBLE)
                   / {float(3 * 2 * RESIZE_W * 2 * RESIZE_H * 255)!r} AS value
        FROM c2
        JOIN g g00 ON g00.doc_id = c2.doc_id AND g00.j = y0 * w + x0
        JOIN g g01 ON g01.doc_id = c2.doc_id AND g01.j = y0 * w + x1
        JOIN g g10 ON g10.doc_id = c2.doc_id AND g10.j = y1 * w + x0
        JOIN g g11 ON g11.doc_id = c2.doc_id AND g11.j = y1 * w + x1
    """,
    "q_multimodal_meta": f"""
        WITH d AS (
            SELECT doc_id,
                   CAST({imaging.SYNTH_MIN}
                        + octet_length(encode(text)) % {imaging.SYNTH_W_MOD}
                        AS BIGINT) AS w,
                   CAST({imaging.SYNTH_MIN}
                        + (octet_length(encode(text)) * 7) % {imaging.SYNTH_H_MOD}
                        AS BIGINT) AS h
            FROM documents
        )
        SELECT doc_id,
               CAST(CASE WHEN doc_id % 2 = 0
                    THEN 54 + ((w * 3 + 3) // 4) * 4 * h
                    ELSE 3 + length(CAST(w AS VARCHAR)) + 1
                           + length(CAST(h AS VARCHAR)) + 5 + w * h * 3
                    END AS BIGINT) AS n_bytes,
               w AS width, h AS height,
               CASE WHEN doc_id % 2 = 0 THEN 'bmp' ELSE 'ppm' END AS format
        FROM d
    """,
    # Stripe features recomputed WITHOUT decoding: pixel j's gray sum
    # is v[(3j)%n] + v[(3j+1)%n] + v[(3j+2)%n] over the tiled text
    # bytes; np.array_split's stripe for j is j // (q+1) when
    # j < r·(q+1) else r + (j − r·(q+1)) // q with q = L//16, r = L%16
    # (first r stripes one longer); the mean is the same integer
    # half-up division the Spark kernel uses.
    "q_multimodal_features": f"""
        WITH d AS (
            SELECT doc_id, hex(encode(text)) AS hx,
                   octet_length(encode(text)) AS rawn
            FROM documents
        ),
        dims AS (
            SELECT doc_id, hx,
                   CAST(CASE WHEN rawn = 0 THEN 1 ELSE rawn END AS BIGINT) AS n,
                   rawn = 0 AS empty,
                   CAST({imaging.SYNTH_MIN} + rawn % {imaging.SYNTH_W_MOD}
                        AS BIGINT) AS w,
                   CAST({imaging.SYNTH_MIN} + (rawn * 7) % {imaging.SYNTH_H_MOD}
                        AS BIGINT) AS h
            FROM d
        ),
        px AS (
            SELECT doc_id, hx, n, empty, h, w * h AS L,
                   unnest(range(0, w * h)) AS j
            FROM dims
        ),
        g AS (
            SELECT doc_id, h, L, j,
                   CASE WHEN empty THEN 0 ELSE
                     (strpos('0123456789ABCDEF',
                        substr(hx, CAST(2 * ((3*j) % n) + 1 AS INT), 1)) - 1) * 16
                     + strpos('0123456789ABCDEF',
                        substr(hx, CAST(2 * ((3*j) % n) + 2 AS INT), 1)) - 1
                     + (strpos('0123456789ABCDEF',
                        substr(hx, CAST(2 * ((3*j+1) % n) + 1 AS INT), 1)) - 1) * 16
                     + strpos('0123456789ABCDEF',
                        substr(hx, CAST(2 * ((3*j+1) % n) + 2 AS INT), 1)) - 1
                     + (strpos('0123456789ABCDEF',
                        substr(hx, CAST(2 * ((3*j+2) % n) + 1 AS INT), 1)) - 1) * 16
                     + strpos('0123456789ABCDEF',
                        substr(hx, CAST(2 * ((3*j+2) % n) + 2 AS INT), 1)) - 1
                   END AS gsum
            FROM px
        ),
        st AS (
            SELECT doc_id, h, gsum,
                   CASE WHEN j < (L % {FEAT_DIM}) * (L // {FEAT_DIM} + 1)
                        THEN j // (L // {FEAT_DIM} + 1)
                        ELSE (L % {FEAT_DIM})
                             + (j - (L % {FEAT_DIM}) * (L // {FEAT_DIM} + 1))
                               // (L // {FEAT_DIM})
                   END AS dim
            FROM g
        )
        SELECT doc_id, CAST(dim AS BIGINT) AS dim,
               CAST((2 * SUM(gsum) * 1000000 + 3 * 255 * COUNT(*))
                    // (2 * 3 * 255 * COUNT(*)) AS DOUBLE) / 1000000
                   AS value,
               CAST((h + {FRAME_EVERY} - 1) // {FRAME_EVERY} AS BIGINT)
                   AS n_frames_sampled
        FROM st
        GROUP BY doc_id, dim, h
    """,
    # Pixel tiling checksums recomputed WITHOUT decoding: byte p of
    # the text (value v_p, extracted via hex-pair arithmetic) lands at
    # flat pixel positions p, p+n, p+2n… < N = h·w·3, so it appears
    # K_p = max(0, ceil((N-p)/n)) times; Σ of those positions+1 is the
    # arithmetic series K_p(p+1) + n·K_p(K_p-1)/2. Empty text encodes
    # as a single 0 byte (both sums 0 either way).
    "q_multimodal_checksum": f"""
        WITH d AS (
            SELECT doc_id, hex(encode(text)) AS hx,
                   octet_length(encode(text)) AS rawn
            FROM documents
        ),
        dims AS (
            SELECT doc_id, hx,
                   CAST(CASE WHEN rawn = 0 THEN 1 ELSE rawn END AS BIGINT) AS n,
                   rawn = 0 AS empty,
                   CAST({imaging.SYNTH_MIN} + rawn % {imaging.SYNTH_W_MOD}
                        AS BIGINT) AS w,
                   CAST({imaging.SYNTH_MIN} + (rawn * 7) % {imaging.SYNTH_H_MOD}
                        AS BIGINT) AS h
            FROM d
        ),
        bytes AS (
            SELECT doc_id, n, w * h * 3 AS nn,
                   unnest(range(0, n)) AS p,
                   hx, empty
            FROM dims
        ),
        vals AS (
            SELECT doc_id, n, nn, p,
                   CASE WHEN empty THEN 0 ELSE
                     (strpos('0123456789ABCDEF',
                             substr(hx, CAST(2 * p + 1 AS INT), 1)) - 1) * 16
                     + strpos('0123456789ABCDEF',
                              substr(hx, CAST(2 * p + 2 AS INT), 1)) - 1
                   END AS v,
                   GREATEST(0, (nn - p + n - 1) // n) AS kp
            FROM bytes
        )
        SELECT doc_id,
               CAST(nn AS BIGINT) AS n_vals,
               CAST(sum(v * kp) AS BIGINT) AS pix_sum,
               CAST(sum(v * (kp * (p + 1) + n * (kp * (kp - 1) // 2)))
                    AS BIGINT) AS pix_wsum
        FROM vals
        GROUP BY doc_id, nn
    """,
}


# The audio fingerprint recomputed WITHOUT decoding: samples from the
# synthesis contract (round half-away + int16 clamp — the same `s`
# CTE as the q_audio_frames oracle), exact integer chunk boundaries
# (i·C // n), int64 chunk energies with empty chunks zero-filled from
# a range() grid, then bit = lead(E) > E and an ordered string_agg.
# Shared WITH-chain for all four audio-dedup oracles; `s` is
# MATERIALIZED because two consumers reference it.
_AFP_SQL = f"""
        s AS MATERIALIZED (
            SELECT user_id,
                   row_number() OVER (
                       PARTITION BY user_id ORDER BY ts, event_id) - 1
                       AS i,
                   LEAST(GREATEST(CAST(round(value * {audio.AUD_SCALE})
                                       AS BIGINT), -32768), 32767) AS smp
            FROM events
        ),
        nn AS (SELECT user_id, count(*) AS n FROM s GROUP BY user_id),
        ch AS (
            SELECT s.user_id, (s.i * {audio.AFP_CHUNKS}) // nn.n AS chunk,
                   s.smp
            FROM s JOIN nn USING (user_id)
        ),
        esum AS (
            SELECT user_id, chunk, sum(smp * smp) AS e
            FROM ch GROUP BY user_id, chunk
        ),
        egrid AS (
            SELECT nn.user_id, t.chunk, COALESCE(esum.e, 0) AS e
            FROM nn CROSS JOIN
                 (SELECT unnest(range(0, {audio.AFP_CHUNKS})) AS chunk) t
            LEFT JOIN esum ON esum.user_id = nn.user_id
                          AND esum.chunk = t.chunk
        ),
        abits AS (
            SELECT user_id, chunk,
                   CASE WHEN lead(e) OVER (
                            PARTITION BY user_id ORDER BY chunk) > e
                        THEN '1' ELSE '0' END AS b
            FROM egrid
        ),
        afp AS (
            SELECT user_id, string_agg(b, '' ORDER BY chunk) AS afp
            FROM abits WHERE chunk < {audio.AFP_CHUNKS - 1}
            GROUP BY user_id
        )
"""

ORACLES.update(
    {
        "q_audio_fp": f"""
            WITH {_AFP_SQL}
            SELECT user_id, afp FROM afp
        """,
        "q_audio_neardup": _banded_pairs_sql(_AFP_SQL, "afp", "afp"),
        "q_audio_dedup": _banded_dedup_sql(_AFP_SQL, "afp", "afp"),
        "q_audio_incremental": _banded_incremental_sql(
            _AFP_SQL, "afp", "afp", f"user_id % {AUDIO_CORPUS_MOD} = 0"
        ),
    }
)
