#!/usr/bin/env python
"""Weak-scaling probe: replicate the sf0.1 `events` table x1/x4/x16
with shifted user_id/event_id key spaces (per-signal history length
stays CONSTANT — more signals, not hotter ones, the way production
data grows) and time a representative query per execution family at
each scale. The point is the SHAPE of the curve, not the absolute
numbers: a scan-bound operator on a fixed local[32] box should grow
near-linearly in data size once fixed session/stage overhead is
amortized, and must not blow per-task state (the two-level
(signal, day) carries keep window input bounded by one signal-day
regardless of scale).

Writes SCALING.md at the repo root. Scratch parquet goes under /tmp;
/root/testdata is never written.

Usage: python scripts/scale_probe.py
"""
from __future__ import annotations

import os
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from pyspark.sql import SparkSession, functions as F  # noqa: E402

from bench import N_RUNS, time_query  # noqa: E402
from timeseriesdb_spark.registry import QUERIES  # noqa: E402
from timeseriesdb_spark.session import get_spark  # noqa: E402
from timeseriesdb_spark.tables import load_table  # noqa: E402

SRC = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
SCRATCH = "/tmp/scale_probe"
FACTORS = [1, 4, 16]
# one query per execution family, all reading only `events`
PROBES = {
    "q_window_max": "bucketed position carry + tumbling max (flagship)",
    "q_running_sum": "two-level (signal, day) prefix carry",
    "q_paa": "PAA frames over carried positions",
    "q_ohlc": "single (signal, day) exchange, endpoint structs",
    "q_sessionize": "gaps-and-islands sessionization",
    "q_countmin_rollup": "mergeable sketch partials per signal-day",
    # r8: one fact exchange into the (day, key) tier; the candidate /
    # residual windows run on the bounded rk<=K+1 tier, so growth must
    # track the fact scan, never the (single-partition) total window
    "q_heavy_hitters": "daily top-K + residual heavy-hitter tier",
    # r9: the quantile tier is the same one-fact-exchange shape as
    # heavy hitters; the cumulative windows run over the BOUNDED
    # bucket frame, so growth must track the scan
    "q_quantile_rollup": "fixed-grid quantile tier + rank finalize",
    # r11: the seeded-md5 HLL tier — registers per (signal, day)
    # bounded at m=256 rows regardless of event count; the estimate
    # merges day registers per signal (max) then one bounded agg
    "q_hll_register_table": "seeded-md5 HLL register rollup",
    "q_hll_estimate": "HLL merge + harmonic estimate from registers",
    # r11 late: the three integer-lattice conversions — per-signal
    # kernels whose cost is O(chunk) work per signal, so time must
    # track the signal count (weak scaling) with no per-task blowup
    "q_fft_recon": "integer-lattice truncated DFT round trip",
    "q_matrix_profile": "exact-int gram matrix profile per signal",
    "q_lcce": "integer cross-correlation vs landmark dictionary",
    # r11 late: quantized-SINK GRAIL — same per-signal lattice-kernel
    # shape as q_lcce plus a fixed O(K^2) driver-side train; the train
    # cost is scale-INVARIANT, so the curve must track q_lcce's
    "q_grail_embed": "quantized-SINK GRAIL embedding vs dictionary",
    # r11 continuation: warehouse/feature shapes. SCD2 and the feature
    # snapshot are one user-key window over the fact (per-task state =
    # one signal's history — the replication axis adds signals, never
    # history). Theil-Sen's pair fan-out is n_i² PER SIGNAL, constant
    # here by construction; watermark lateness is the two-level carry
    # plus a type-keyed rank selection (5 groups at any scale).
    "q_scd2": "CDC change filter + interval build, one user window",
    "q_feature_snapshot": "point-in-time feature join, one window",
    "q_watermark_lateness": "two-level arrival carry + rank selection",
    "q_theilsen_trend": "per-signal pairwise-slope median",
    # r11 continuation: HW rides the (signal, day) close selection +
    # the grouped-scan carry (2+m doubles per signal) — the q_ewma
    # shape, so growth must track the scan
    "q_holt_winters": "daily-close Holt-Winters triple smoothing",
    # r12: PLA read-back is the q_pla_lttb selection + O(n) integer
    # interp in the same one-exchange kernel; the drift tiers chain a
    # recon kernel into a shrinking (seg -> signal) agg chain, so both
    # must track the scan like their reconstruction parents
    "q_pla_recon": "LTTB kept points + piecewise-linear read-back",
    "q_kmeans_drift_fft": "FFT-tier model-drift scoring chain",
    "q_kmeans_drift_pla": "PLA-tier model-drift scoring chain",
    # r13: the GRAIL tier embeds each complete segment against a FIXED
    # 8-landmark dictionary (scale-invariant train, like q_grail_embed)
    # — per-segment work is O(K * SEG_ROWS log) constant, so the curve
    # must track the segment count (the scan). RRD/BUFF tiers are
    # column-expression recons inside the same factory (strictly
    # cheaper than the FFT row above) and ride its evidence.
    "q_kmeans_drift_grail": "GRAIL-tier model-drift scoring chain",
}
# documents-axis probes: the dedup/text families the 100 TB story
# leans on. Replicas rotate the ALPHABET (a bijection on characters,
# hence on shingles/words): within-replica duplicate structure is
# EXACTLY preserved — every replica contributes the same near-dup
# pairs, LSH buckets, vocabulary shape — while cross-replica shingle
# spaces stay disjoint, so pair output grows linearly (k· the x1
# pairs), never quadratically.
DOC_PROBES = {
    "q_dedup_exact": "hash-groupBy exact dedup",
    "q_minhash_lsh_pairs": "MinHash signatures + banded pair join",
    "q_dedup_clusters": "LSH pairs + iterative CC",
    "q_gopher_rules": "zero-shuffle quality rules",
    "q_token_count": "regex tokenization + counts",
    "q_quality_score": "per-doc quality heuristics",
    # r8: the alphabet rotation is a bijection on positioned shingles
    # too — every replica reproduces the x1 span set under its own
    # alphabet, so span rows must grow EXACTLY k× (the proof that the
    # shingle-window + islands pipeline never goes cross-replica)
    "q_dup_spans": "positioned-shingle duplicated-span extraction",
    # r8: both pair generators are linear and the eval overlay is
    # pair-frame-sized; output is fixed at |thresholds| rows, so the
    # rows column reads 1.0× BY DESIGN here — time is the signal.
    # (q_keyphrases is deliberately absent: the alphabet rotation maps
    # stopwords to non-stopwords, so replica phrase structure differs
    # and a row-linearity claim would be dishonest; its islands +
    # doc-keyed-aggregate shape is the q_dup_spans row anyway.)
    "q_lsh_recall": "LSH-vs-exact-Jaccard grading (fixed-rows output)",
    # r9: one Arrow decode/fingerprint pass + banded-Hamming join;
    # output is one keep/drop row per document, so rows must read
    # exactly 16.0x. (The rotation is NOT image-disjoint — dHash is
    # robust to uniform byte shifts, so cross-replica DECISIONS can
    # differ from x1's — but the row count is fixed per doc and the
    # pair join stays bucket-fenced; time is the scale signal.)
    "q_image_dedup": "dHash fingerprints + banded-Hamming keep/drop",
    # r9: (source, term) tier + heavy-hitter finalize — the text twin
    # of q_heavy_hitters; rotation changes terms but not counts per
    # source, output fixed at HH_M rows (rows column reads 1.0x)
    "q_trending_terms": "trending-terms tier + HH summarization",
    # r10: incremental image probe. Replicas RENAME sources, so the
    # corpus slice (source == src0) stays x1 while the batch grows
    # ~16x — exactly the production shape (fixed curated corpus,
    # accumulating crawl batches); rows = one per batch doc. The
    # rotation is not image-disjoint (see q_image_dedup), so
    # cross-replica batch pairs may exist; the row count is
    # structurally batch-linear and the joins stay band-bucketed.
    "q_image_incremental": "incremental image dedup vs x1 corpus",
    # r11: the rate-normalized video fingerprint — one Arrow
    # decode+mean pass per clip, no joins; rows exactly one per doc
    "q_video_mean_dhash": "rate-normalized mean-frame dHash tier",
    # r10: trained trigram scorer — per-scale-dir profile training is
    # a bounded |langs|*CAP driver sample; scoring is one broadcast
    # join + a |docs|-sized partial agg, so time must track the scan
    # and rows read exactly 16x
    "q_lang_id_ngram": "trained char-trigram language ID scoring",
    # r10: video fingerprint + banded keep/drop. Like q_image_dedup
    # the rotation is NOT modality-disjoint (voxels are text bytes;
    # a rotation shifts them, changing chunk energies but possibly
    # leaving some cross-replica pairs within hamming 3) — rows are
    # structurally one per doc (16x), the pair join stays bucketed.
    "q_video_dedup": "video fingerprints + banded-Hamming keep/drop",
    # r10: the cross-modality conjunction — three per-modality
    # branches fused by doc_id joins; rows exactly one per doc
    "q_multimodal_keep": "text+image+video keep conjunction",
    # r11 continuation: backoff LM quality scoring. The rotation is a
    # bijection on words, so each replica trains its own disjoint
    # count tables with IDENTICAL shape; the broadcast tables grow
    # ~16x (the min-count floor is the 100 TB lever, documented in the
    # query), scoring stays one scan + per-doc agg; rows exactly 16x.
    "q_bigram_backoff": "train-split backoff LM + per-doc scoring",
}
# audio-axis probes, run on the SAME events replicas. Replicated
# signals have IDENTICAL value sequences, so every replica clip is an
# EXACT AUDIO DUPLICATE of its x1 original (fingerprint hamming 0) —
# unlike the text axis there is no audio-disjoint rotation (the
# fingerprint is deliberately robust to uniform perturbations, the
# image lesson squared). The dedup probes therefore double as a
# 16-way-duplicate STRESS: each band bucket holds the 16-replica
# group (16 <= DHASH_BAND_DF_CAP, so the fence keeps it), the pair
# stage does its real k^2-per-group work inside the bucket, and the
# OUTPUT must stay exactly one row per clip (16x) with each group
# collapsing to its min-user_id survivor. Time growing with the
# grouped pair work is expected and bounded by the cap; rows growing
# past 16x would be the bug.
AUD_PROBES = {
    "q_audio_meta": "WAV decode + typed metadata per clip",
    "q_audio_frames": "frame-level integer features over decoded PCM",
    "q_audio_dedup": "energy-delta fingerprints + banded keep/drop",
    "q_audio_incremental": "incremental audio dedup (parity split)",
}
# embeddings-axis probes: the single-probe ANN scorers (top-k output
# is k rows regardless of corpus size — cost is the scan+score, which
# must grow linearly; quantizer/codebook training stays bounded by
# IVF_TRAIN_CAP however large the table). Pair-forming queries
# (semdedup, clusters, knn) are deliberately EXCLUDED: exact-replica
# vectors would manufacture quadratic duplicate pairs that say
# nothing about real scaling.
EMB_PROBES = {
    "q_ann_topk": "brute-force cosine top-k (the baseline scan)",
    "q_ann_quantized": "fixed-point integer-dot top-k",
    "q_ann_ivf": "IVF cell-pruned top-k",
    "q_ann_pq": "PQ ADC top-k",
    # r9: the recall grader — stratified distributive top-K whose
    # exchanges carry candidate arrays, never corpus-sized rows;
    # output fixed at 3·PROBES rows, so time is the signal
    "q_ann_recall": "LSH/IVF/PQ recall grading (stratified top-K)",
    # r11: asymmetric small-side decon — NOT pair-forming: the eval
    # side is a SEMDECON_EVAL_CAP md5-window however large the table
    # (the r10 verdict's scale-killer, fixed), so the driver pull is
    # flat and time tracks the one corpus scan. Eval-window size at
    # ×1/×16 is printed alongside as the flat-driver-cost witness.
    "q_semantic_decon": "capped-eval semantic decontamination scan",
    # r11: probe-capped banded DTW — test side fixed at DTW_PROBE_CAP,
    # broadcast train side grows with the table (KNN_TRAIN_CAP-guarded)
    # so the DP cost grows linearly in corpus size, never quadratically
    "q_dtw_1nn": "banded-DTW 1-NN over the md5-window probe set",
}
USER_STRIDE = 1_000_000  # >> max user_id, keeps replicas disjoint
EVENT_STRIDE = 1_000_000_000
DOC_STRIDE = 1_000_000
VEC_STRIDE = 1_000_000
_AB = "abcdefghijklmnopqrstuvwxyz"
_AB_UP = _AB.upper()


def build_scaled(spark: SparkSession, k: int) -> str:
    out = f"{SCRATCH}/x{k}"
    dest = f"{out}/events.parquet"
    # _SUCCESS, not the directory: a killed prior run leaves a partial
    # write whose reuse would silently corrupt the linearity table
    if os.path.exists(f"{dest}/_SUCCESS"):
        return out
    # load_table, not raw spark.read.parquet: it normalizes the
    # driver's ts encodings (nanos vs µs NTZ) the same way every
    # query read does
    ev = load_table(spark, SRC, "events")
    # k shifted copies: new disjoint signals with identical per-signal
    # history — weak scaling (signal count grows, history doesn't)
    copies = ev.crossJoin(
        spark.range(k).select(F.col("id").alias("rep"))
    ).select(
        (F.col("event_id") + F.col("rep") * EVENT_STRIDE).alias("event_id"),
        "ts",
        (F.col("user_id") + F.col("rep") * USER_STRIDE).alias("user_id"),
        "event_type",
        "value",
        "props",
    )
    copies.write.mode("overwrite").parquet(dest)
    return out


def build_scaled_docs(spark: SparkSession, k: int) -> str:
    out = f"{SCRATCH}/docs_x{k}"
    dest = f"{out}/documents.parquet"
    if os.path.exists(f"{dest}/_SUCCESS"):
        return out
    doc = load_table(spark, SRC, "documents")
    reps = []
    for rep in range(k):
        rot = _AB[rep % 26:] + _AB[: rep % 26]
        reps.append(
            doc.select(
                (F.col("doc_id") + F.lit(rep * DOC_STRIDE)).alias("doc_id"),
                F.translate(
                    "text", _AB + _AB_UP, rot + rot.upper()
                ).alias("text"),
                "lang",
                F.concat(F.col("source"), F.lit(f"_r{rep}")).alias("source")
                if rep else F.col("source"),
                "n_chars",
            )
        )
    allreps = reps[0]
    for r in reps[1:]:
        allreps = allreps.unionByName(r)
    allreps.repartition(32).write.mode("overwrite").parquet(dest)
    return out


def build_scaled_emb(spark: SparkSession, k: int) -> str:
    out = f"{SCRATCH}/emb_x{k}"
    dest = f"{out}/embeddings.parquet"
    if os.path.exists(f"{dest}/_SUCCESS"):
        return out
    emb = load_table(spark, SRC, "embeddings")
    copies = emb.crossJoin(
        spark.range(k).select(F.col("id").alias("rep"))
    ).select(
        (F.col("vec_id") + F.col("rep") * VEC_STRIDE).alias("vec_id"),
        "embedding",
        "label",
    )
    copies.repartition(32).write.mode("overwrite").parquet(dest)
    return out


def main() -> None:
    spark = get_spark(app_name="scale-probe")
    spark.sparkContext.setLogLevel("ERROR")
    dirs = {k: build_scaled(spark, k) for k in FACTORS}
    rows_at = {
        k: spark.read.parquet(f"{d}/events.parquet").count()
        for k, d in dirs.items()
    }
    results: dict[str, dict[int, float]] = {}
    for name in PROBES:
        fn = QUERIES[name]
        results[name] = {
            k: time_query(fn, spark, dirs[k])["med"] for k in FACTORS
        }
        print(name, {k: round(v, 3) for k, v in results[name].items()})

    ddirs = {k: build_scaled_docs(spark, k) for k in FACTORS}
    dresults: dict[str, dict[int, float]] = {}
    drows: dict[str, dict[int, int]] = {}
    for name in DOC_PROBES:
        fn = QUERIES[name]
        dresults[name] = {
            k: time_query(fn, spark, ddirs[k])["med"] for k in FACTORS
        }
        drows[name] = {
            k: fn(spark, ddirs[k]).count() for k in (1, 16)
        }
        print(name, {k: round(v, 3) for k, v in dresults[name].items()},
              "rows x1/x16:", drows[name])

    aresults: dict[str, dict[int, float]] = {}
    arows: dict[str, dict[int, int]] = {}
    for name in AUD_PROBES:
        fn = QUERIES[name]
        aresults[name] = {
            k: time_query(fn, spark, dirs[k])["med"] for k in FACTORS
        }
        arows[name] = {k: fn(spark, dirs[k]).count() for k in (1, 16)}
        print(name, {k: round(v, 3) for k, v in aresults[name].items()},
              "rows x1/x16:", arows[name])

    edirs = {k: build_scaled_emb(spark, k) for k in FACTORS}
    eresults: dict[str, dict[int, float]] = {}
    for name in EMB_PROBES:
        fn = QUERIES[name]
        eresults[name] = {
            k: time_query(fn, spark, edirs[k])["med"] for k in FACTORS
        }
        print(name, {k: round(v, 3) for k, v in eresults[name].items()})

    # flat-driver-cost witness for the capped semantic-decon eval pull
    from timeseriesdb_spark.operators.similarity import semdecon_eval_set

    ev_sizes = {
        k: semdecon_eval_set(
            load_table(spark, edirs[k], "embeddings")
        ).count()
        for k in (1, 16)
    }
    print("semdecon eval window rows:", ev_sizes)

    # ---- ingest-path axis: the fused multimodal keep stream ------
    # Indexes built ONCE from the FIXED ×1 corpus slice (src0) and
    # checkpointed, so the timed section is the stream alone — the
    # production shape: persisted stores, accumulating crawls.
    from timeseriesdb_spark.operators.multimodal import fingerprints, fp_bands
    from timeseriesdb_spark.streaming.curation import multimodal_keep_stream

    corpus = (
        load_table(spark, ddirs[1], "documents")
        .select("doc_id", "text", "source")
        .where(F.col("source") == "src0")
    )
    norm = F.lower(F.regexp_replace(F.col("text"), r"\s+", " "))
    tfps = corpus.select(F.md5(norm).alias("fp")).localCheckpoint()
    ibands = fp_bands(fingerprints(corpus, "dhash"), "dhash").localCheckpoint()
    vbands = fp_bands(fingerprints(corpus, "vfp"), "vfp").localCheckpoint()

    def run_keep_stream(k: int, rep: str, fmt: str, path: str | None):
        srcdir = f"{SCRATCH}/keepsrc_{k}"
        schema = spark.read.parquet(srcdir).schema
        stream = spark.readStream.schema(schema).parquet(srcdir)
        w = (
            multimodal_keep_stream(stream, tfps, ibands, vbands)
            .writeStream.format(fmt)
            .option("checkpointLocation", f"{SCRATCH}/keepck_{k}_{rep}")
            .trigger(availableNow=True)
        )
        if path:
            w = w.option("path", path)
        q = w.start()
        q.awaitTermination()

    sresults: dict[int, float] = {}
    skept: dict[int, int] = {}
    for k in FACTORS:
        (
            load_table(spark, ddirs[k], "documents")
            .select("doc_id", "text", "source")
            .coalesce(8)
            .write.mode("overwrite")
            .parquet(f"{SCRATCH}/keepsrc_{k}")
        )
        ts = []
        for rep in range(N_RUNS + 1):  # first run is warm-up
            t0 = time.perf_counter()
            run_keep_stream(k, str(rep), "noop", None)
            ts.append(time.perf_counter() - t0)
        sresults[k] = statistics.median(ts[1:])
        print("multimodal_keep_stream", k, round(sresults[k], 3))
    for k in (1, 16):  # kept-rows witness (parquet sink, untimed)
        outp = f"{SCRATCH}/keepout_{k}"
        run_keep_stream(k, "rows", "parquet", outp)
        skept[k] = spark.read.parquet(outp).count()
    print("keep_stream kept rows:", skept)

    lines = [
        "# SCALING — weak-scaling probes at ×1/×4/×16 (local[32])",
        "",
        "Generated by `scripts/scale_probe.py`. Median of",
        f"{N_RUNS} after warm-up (bench.time_query: twice as many under",
        "1 s), one JVM. The gate is curve SHAPE:",
        "time(×16)/time(×1) well under 16 means fixed stage overhead",
        "still dominates at this size (headroom), near 16/NCPU-bounded",
        "growth means scan-bound — either is 100×-survivable; superlinear",
        "growth or a per-task memory blowup is what this probe exists to",
        "catch (it would mean some operator state scales with corpus",
        "size, not with its partition).",
        "",
        "## Signal axis: events ×1/×4/×16",
        "",
        f"The sf0.1 `events` table ({rows_at[1]:,} rows) replicated with",
        "shifted user_id/event_id key spaces — per-signal history length",
        "constant, signal count grows (how production telemetry scales).",
        "",
        "| query | family | ×1 s | ×4 s | ×16 s | ×16/×1 |",
        "|---|---|---|---|---|---|",
    ]
    for name, note in PROBES.items():
        r = results[name]
        lines.append(
            f"| {name} | {note} | {r[1]:.3f} | {r[4]:.3f} | {r[16]:.3f} "
            f"| {r[16] / r[1]:.1f}× |"
        )
    lines += [
        "",
        f"Row counts: ×1={rows_at[1]:,}, ×4={rows_at[4]:,}, "
        f"×16={rows_at[16]:,}.",
        "",
        "Every probe keeps per-task window input bounded by one",
        "(signal, day) slice — replicating signals 16× cannot make any",
        "single task's sort larger, only add more tasks; that invariant",
        "(asserted in tests/test_plans.py) is what the ×16 column",
        "demonstrates empirically.",
        "",
        "q_theilsen_trend is the one deliberately COMPUTE-bound probe:",
        "pair count is signals × n_i², so 16× the signals is 16× the",
        "pairs and the near-16× time is LINEAR data scaling at full",
        "CPU, not per-task state growth (per-signal history n_i is",
        "constant on this axis; the hot-signal lever is the documented",
        "per-signal sample cap — THEILSEN_SAMPLE_CAP=128 as of r13,",
        "a no-op at the probe's 66 points/signal, so this row is the",
        "EXACT estimator).",
        "",
        "The three drift-tier rows measure the FULL",
        "recon→features→label chain every rep (the per-tier persisted",
        "feature cache is cleared per run — in production the four",
        "families of a tier share one materialization, so the serving",
        "path is strictly cheaper than these rows).",
        "",
        "## Corpus axis: documents ×1/×4/×16",
        "",
        "Each replica maps the text through a replica-specific alphabet",
        "rotation — a bijection on characters, hence on words and",
        "shingles: within-replica duplicate structure (near-dup pairs,",
        "LSH bucket sizes, vocabulary shape) is EXACTLY preserved while",
        "cross-replica shingle spaces stay disjoint. A healthy dedup",
        "stack therefore emits k× the ×1 pairs (linear), never k²;",
        "the `rows ×16/×1` column is that linearity check, measured.",
        "(q_lsh_recall's output is fixed at |thresholds| rows, so its",
        "rows column reads 1.0× by design — its signal is the time",
        "curve over the two linear pair generators.)",
        "",
        "| query | family | ×1 s | ×4 s | ×16 s | ×16/×1 | rows ×16/×1 |",
        "|---|---|---|---|---|---|---|",
    ]
    for name, note in DOC_PROBES.items():
        r = dresults[name]
        rw = drows[name]
        lines.append(
            f"| {name} | {note} | {r[1]:.3f} | {r[4]:.3f} | {r[16]:.3f} "
            f"| {r[16] / r[1]:.1f}× | {rw[16] / max(rw[1], 1):.1f}× |"
        )
    lines += [
        "",
        "A superlinear `rows ×16/×1` (≫16) would mean cross-replica",
        "pair formation — the df² blowup the stop-shingle cap exists to",
        "prevent; time growing faster than rows would mean per-task",
        "state tracking corpus size.",
        "(q_image_incremental's corpus slice stays ×1 — replicas rename",
        "sources — so its batch and row count grow ~16.8×, the",
        "production shape: fixed curated corpus, accumulating crawls.)",
        "",
        "## Audio axis: events ×1/×4/×16 (16-way-duplicate stress)",
        "",
        "Same events replicas as the signal axis. Replicated signals",
        "carry IDENTICAL values, so every replica clip is an EXACT",
        "audio duplicate of its ×1 original — there is no",
        "audio-disjoint rotation (the fingerprint is robust to uniform",
        "perturbations by design). The dedup probes therefore double",
        "as a k-way-duplicate stress: band buckets hold each 16-clip",
        "replica group (≤ DHASH_BAND_DF_CAP, kept by the fence), the",
        "pair stage does its real per-group work inside the bucket,",
        "and output stays EXACTLY one row per clip — the measured",
        "rows ×16/×1 = 16.0 column. The streamed probes",
        "(multimodal.fp_probe_stream, families dhash and afp) are the same",
        "band-bucketed LEFT ANTI joins on the ingest path, pinned",
        "stream==batch in tests/test_image_dedup.py and",
        "tests/test_audio_dedup.py.",
        "",
        "| query | family | ×1 s | ×4 s | ×16 s | ×16/×1 | rows ×16/×1 |",
        "|---|---|---|---|---|---|---|",
    ]
    for name, note in AUD_PROBES.items():
        r = aresults[name]
        rw = arows[name]
        lines.append(
            f"| {name} | {note} | {r[1]:.3f} | {r[4]:.3f} | {r[16]:.3f} "
            f"| {r[16] / r[1]:.1f}× | {rw[16] / max(rw[1], 1):.1f}× |"
        )
    lines += [
        "",
        "## Vector axis: embeddings ×1/×4/×16",
        "",
        "Strided-vec_id replication; the single-probe ANN scorers (one",
        "query vector, top-k out — output size fixed, scan+score cost",
        "must grow linearly; IVF/PQ training stays a bounded",
        "IVF_TRAIN_CAP driver sample at any table size). Pair-forming",
        "queries are excluded on purpose: exact replicas would",
        "manufacture quadratic duplicate pairs.",
        "",
        "| query | family | ×1 s | ×4 s | ×16 s | ×16/×1 |",
        "|---|---|---|---|---|---|",
    ]
    for name, note in EMB_PROBES.items():
        r = eresults[name]
        lines.append(
            f"| {name} | {note} | {r[1]:.3f} | {r[4]:.3f} | {r[16]:.3f} "
            f"| {r[16] / r[1]:.1f}× |"
        )
    sr = sresults
    lines += [
        "",
        f"(q_semantic_decon eval window: ×1 = {ev_sizes[1]} rows, "
        f"×16 = {ev_sizes[16]} rows — the driver-side pull is",
        "SEMDECON_EVAL_CAP-bounded BY CONSTRUCTION: replicating the",
        "table 16× does not move it. q_dtw_1nn's test side is likewise",
        "DTW_PROBE_CAP-fixed; its growth is the broadcast train scan.)",
        "",
        "## Ingest-path axis: fused multimodal keep stream ×1/×4/×16",
        "",
        "multimodal_keep_stream (streaming/curation.py) replayed",
        "availableNow over the scaled documents as the stream, against",
        "FIXED ×1-corpus indexes (text fp / image dHash / video vfp,",
        "built once and checkpointed before timing — the production",
        "shape: persisted stores, accumulating crawls). All three gates",
        "are stateless stream-static joins, so time must track the",
        "stream scan; kept rows grow with the stream (replicas rename",
        "sources, so replica docs don't collide with the ×1 corpus",
        "beyond the fingerprint-robustness floor).",
        "",
        "| stream | ×1 s | ×4 s | ×16 s | ×16/×1 | kept ×16/×1 |",
        "|---|---|---|---|---|---|",
        f"| multimodal_keep_stream | {sr[1]:.3f} | {sr[4]:.3f} "
        f"| {sr[16]:.3f} | {sr[16] / sr[1]:.1f}× "
        f"| {skept[16] / max(skept[1], 1):.1f}× |",
        "",
        "## Streamed drift-feature maintenance ×1/×4/×16",
        "",
        "Measured by `scripts/drift_stream_probe.py` (4 time-ordered",
        "micro-batches over the scaled events, fresh checkpoint per",
        "rep, one untimed warm-up rep then median of 3; numbers below",
        "from the r13 run with the 3-field positioner state — carry +",
        "last (ts, event_id) ordering guard):",
        "",
        "| stage | ×1 s | ×4 s | ×16 s | ×16/×1 |",
        "|---|---|---|---|---|",
        "| maintenance drain (stateful position carry + partials"
        " write) | 10.473 | 13.027 | 18.399 | 1.8× |",
        "| drift_scores finalize (merge partials → label → agree)"
        " | 1.815 | 1.421 | 1.255 | 0.7× |",
        "",
        "Micro-batch fixed cost (4 trigger rounds + checkpoint",
        "commits) dominates at ×1; state is O(1) per signal (three",
        "longs), partials are chunk-sized not row-sized, and the",
        "finalize reads only the tier — which is the point: agreement",
        "queries never rescan raw history. Checkpoint loss is guarded",
        "(refuse / replay / rehydrate-from-high-water, r13) and",
        "cross-batch ordering violations fail the stream loudly.",
        "",
        "## Re-encoding invariance boundary (r11, pinned in",
        "tests/test_video.py)",
        "",
        "- AUDIO fingerprints are rate-robust BY CONSTRUCTION: the",
        "  proportional chunk grid resamples the clip, so 2× zero-order",
        "  hold, 2× linear interpolation and decimation-by-2 all measure",
        "  hamming ≤ 1 (≤ DHASH_T) — a re-encoded audio clip pairs with",
        "  its original under the existing banded index.",
        "- VIDEO frame-major voxel fingerprints are edit-robust but NOT",
        "  rate-robust (restride scrambles spatial phase: hamming 25–32).",
        "  The rate-normalized tier q_video_mean_dhash (time-mean frame →",
        "  image dHash; oracle-checked) is EXACTLY invariant to uniform",
        "  fps upsampling; decimation robustness is bounded by",
        "  inter-frame correlation — the synthetic corpus's independent",
        "  text-chunk frames are the adversarial worst case (hamming",
        "  9–12, above DHASH_T), real frame-correlated video is not.",
    ]
    with open(os.path.join(ROOT, "SCALING.md"), "w") as f:
        f.write("\n".join(lines) + "\n")
    print("wrote SCALING.md")
    shutil.rmtree(SCRATCH, ignore_errors=True)


if __name__ == "__main__":
    main()
