"""Streaming curation — the CurationPipeline's filter/dedup/split
stages running on the live document ingest path instead of as a batch
rescan (the same batch-to-stream move as streaming/dedup.py for
events).

Stage disposition on a stream:
- Quality rules and split/token assignment are stateless row
  expressions — they run unchanged at stream speed.
- Exact dedup becomes `dropDuplicatesWithinWatermark` on the content
  fingerprint: state is bounded by the late-data horizon, replayed
  batches (at-least-once sources) land once. Streaming keeps the
  FIRST arrival per fingerprint (batch keeps min doc_id) — same
  surviving content, potentially different survivor id; the parity
  test asserts on fingerprint sets for exactly this reason.
- Near-dup clustering is NOT a streaming stage: connected components
  is a global graph computation over the corpus. A production
  pipeline runs it as the periodic batch compaction pass
  (pipeline.CurationPipeline.neardup_dedup) over the streamed-in
  store — the lambda-architecture split the reference's
  compression-daemon/recoding-daemon pair also uses
  (compression_daemon.rs:51-161: hot path appends, cold daemon
  rewrites).
- Decontamination is stateless against a STATIC benchmark n-gram set
  (evals change rarely; the stream doesn't) — a stream-static
  broadcast anti-join, no state store at all.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def curate_stream(
    spark: SparkSession,
    stream: DataFrame,
    event_time: str = "ingest_ts",
    horizon: str = "1 hour",
) -> DataFrame:
    """Quality-filter → watermark-bounded exact dedup → split/token
    assignment over a documents-shaped stream carrying an
    `event_time` column. Output schema: (doc_id, text, lang, source,
    split, n_tokens, fp, <event_time>)."""
    from timeseriesdb_spark.pipeline import CurationPipeline, curation_split_bounds

    pipe = CurationPipeline(spark)
    passed = pipe.quality_filter(stream)
    fp = F.md5(F.lower(F.regexp_replace(F.col("text"), r"\s+", " ")))
    deduped = (
        passed.withColumn("fp", fp)
        .withWatermark(event_time, horizon)
        .dropDuplicatesWithinWatermark(["fp"])
    )
    prefix = F.substring(F.md5(F.col("text")), 1, 2)
    lo, hi = curation_split_bounds()
    split = (
        F.when(prefix < F.lit(lo), "train")
        .when(prefix < F.lit(hi), "val")
        .otherwise("test")
    )
    t = F.col("text")
    n_tokens = (
        F.length(t) - F.length(F.replace(t, F.lit(" "), F.lit(""))) + F.lit(1)
    ).cast("bigint")
    return deduped.select(
        "doc_id", "text", "lang", "source",
        split.alias("split"), n_tokens.alias("n_tokens"),
        "fp", event_time,
    )


def decontaminate_stream(
    stream: DataFrame, bench_ngrams: DataFrame
) -> DataFrame:
    """Drop streamed documents sharing any word n-gram with a STATIC
    benchmark set (the q_decontaminate check on the ingest path).

    `bench_ngrams` is a batch frame with one `ng` column (e.g. the
    held-out split's distinct n-grams, refreshed whenever evals
    change). The check is a stream-static LEFT ANTI join with an
    `array_contains(doc_ngrams, bench.ng)` condition: the static side
    broadcasts, every micro-batch row is checked against it in place,
    and NO state store is involved — a replayed batch re-evaluates to
    the same answer. At real benchmark-set sizes (MBs) the broadcast
    is trivial; for very large sets the same shape swaps the exact
    probe for a broadcast Bloom filter (might_contain), trading a
    bounded false-drop rate for constant memory."""
    from timeseriesdb_spark.operators.curation import DECON_N, _word_ngrams

    tagged = stream.withColumn("_ngs", _word_ngrams(DECON_N))
    clean = tagged.join(
        F.broadcast(bench_ngrams),
        F.array_contains(tagged["_ngs"], bench_ngrams["ng"]),
        "left_anti",
    )
    return clean.drop("_ngs")


def neardup_probe_stream(
    stream: DataFrame,
    corpus_bands: DataFrame,
    threshold: float | None = None,
) -> DataFrame:
    """Drop streamed documents that LSH-match the EXISTING corpus —
    incremental_neardup's corpus check on the ingest path, stateless.

    Per-row MinHash signatures (dedup.minhash_signatures_rowwise: no
    explode/groupBy, so no streaming aggregation state) and one LEFT
    ANTI stream-static join per band against the persisted band index
    (dedup.write_band_store), each an equi-join on the band key with
    the est-Jaccard refinement as a residual predicate. State store:
    none — a replayed micro-batch re-probes to the same answer.
    Within-stream near-dup (new docs duplicating each other) stays the
    periodic batch compaction pass, same lambda split as clustering."""
    from timeseriesdb_spark.operators import dedup

    if threshold is None:
        threshold = dedup.CC_MIN_EST
    carry = tuple(c for c in stream.columns if c != "doc_id")
    cur = dedup.minhash_signatures_rowwise(stream, carry=carry, keep_empty=True)
    names = [n for n, _, _ in dedup._sig_cols()]
    rows = dedup.LSH_ROWS
    for b in range(dedup.LSH_BANDS):
        band_key = F.concat(
            F.lit(f"b{b}:"),
            F.md5(
                F.concat_ws(
                    "|", *[F.col(f"a.{n}") for n in names[b * rows : (b + 1) * rows]]
                )
            ),
        )
        est = sum(
            F.when(F.col(f"a.{n}") == F.col(f"b.{n}"), 1).otherwise(0)
            for n in names
        ) / F.lit(float(dedup.MINHASH_K))
        cur = cur.alias("a").join(
            corpus_bands.alias("b"),
            (band_key == F.col("b.band_key")) & (est >= F.lit(threshold)),
            "left_anti",
        )
    return cur.drop(*names)


def benchmark_ngrams(docs: DataFrame) -> DataFrame:
    """The static benchmark n-gram set from a batch documents frame:
    distinct word DECON_N-grams of the test hash-range (the same
    bounds q_decontaminate and q_dataset_split use)."""
    from timeseriesdb_spark.operators.curation import (
        DECON_N,
        TEST_BOUND,
        _word_ngrams,
    )

    hp = F.substring(F.md5(F.col("text")), 1, 2)
    return (
        docs.where(hp >= F.lit(TEST_BOUND))
        .select(F.explode(_word_ngrams(DECON_N)).alias("ng"))
        .distinct()
    )


def lang_filter_stream(
    stream: DataFrame,
    profiles: dict[str, dict[str, int]],
    keep_langs: list[str],
) -> DataFrame:
    """Language gate on the ingest path: score every streamed
    document against the TRAINED trigram profiles (langid.
    lang_pred_col — one stateless expression, no aggregation state,
    no shuffle; a replayed micro-batch re-scores to the same answer)
    and keep only documents whose predicted language is in
    `keep_langs`. Profiles are literals baked into the plan — the
    stream never touches the training data; retrain and restart the
    query when the profile set changes (evals-change cadence, like
    decontaminate_stream's benchmark set). Appends a `pred_lang`
    column so downstream stages can audit the gate."""
    from timeseriesdb_spark.operators.langid import lang_pred_col

    return stream.withColumn("pred_lang", lang_pred_col(profiles)).where(
        F.col("pred_lang").isin(list(keep_langs))
    )


def multimodal_keep_stream(
    stream: DataFrame,
    corpus_text_fps: DataFrame,
    image_bands: DataFrame,
    video_bands: DataFrame,
) -> DataFrame:
    """Fused multimodal keep gate on the documents ingest path — the
    streamed twin of q_multimodal_keep's conjunction (videomm.py:
    drop the sample when ANY modality is a duplicate), expressed
    against the PERSISTED corpus artifacts so every gate is stateless
    (a replayed micro-batch re-probes to the same answer):

    - text: exact-fingerprint gate — md5 of whitespace-normalized
      lowercase text (the q_fingerprint canonical form), one
      stream-static LEFT ANTI equi-join against the corpus fp frame;
    - image and video: the `dhash` and `vfp` family gates
      (multimodal.fp_probe_stream) against their persisted band
      indexes, payloads synthesized from `text` as in the batch tier.

    Gates chain as filters, so a document dropped by an earlier
    modality never pays the later decode; survivors carry fp/dhash/vfp
    as audit columns. Within-stream duplicates remain the periodic
    batch pass (q_multimodal_keep), the lambda split every modality
    uses individually. Scale: each gate is an equi-join against a
    band_key-bucketed bounded index — no state store, no shuffle of
    the stream beyond the joins Catalyst plans."""
    from timeseriesdb_spark.operators.multimodal import fp_probe_stream

    norm = F.lower(F.regexp_replace(F.col("text"), r"\s+", " "))
    cur = (
        stream.withColumn("fp", F.md5(norm))
        .alias("a")
        .join(
            corpus_text_fps.select(F.col("fp").alias("cfp")).alias("c"),
            F.col("a.fp") == F.col("c.cfp"),
            "left_anti",
        )
    )
    cur = fp_probe_stream(cur, image_bands, "dhash")
    return fp_probe_stream(cur, video_bands, "vfp")


def semantic_decon_stream(
    stream: DataFrame, eval_emb: DataFrame,
    thr: int | None = None,
) -> DataFrame:
    """SEMANTIC decontamination on the embedding ingest path: score
    every streamed vector against the STATIC eval matrix
    (q_semantic_decon's kernel — one stateless vectorized dot pass
    per Arrow batch, no aggregation state, replay-safe) and emit the
    same (vec_id, best_eval_id, cos_t, flagged) rows; the caller
    filters on `flagged` or keeps the audit columns. `eval_emb` is a
    BATCH frame of eval vectors (vec_id, embedding) — bounded by
    design (benchmark registry; cap it with semdecon_eval_set for a
    hard O(SEMDECON_EVAL_CAP) driver bound), collected once at query
    start exactly like the PQ codebooks; refresh-and-restart when
    evals change (the decontaminate_stream cadence). Raises
    ValueError on an empty eval frame."""
    from timeseriesdb_spark.operators.similarity import (
        SEMDECON_COS_T,
        _eval_matrix,
        _with_norm,
        semantic_scores_kernel,
    )

    eids, emat, enorm = _eval_matrix(_with_norm(eval_emb))
    cand = _with_norm(stream).select("vec_id", "e", "norm")
    return cand.mapInPandas(
        semantic_scores_kernel(
            eids, emat, enorm,
            SEMDECON_COS_T if thr is None else thr,
        ),
        "vec_id bigint, best_eval_id bigint, cos_t bigint, flagged int",
    )
