"""Streaming curation parity: a replayed document stream must land
exactly the batch pipeline's quality+exact-dedup survivors (by
fingerprint — streaming keeps first arrival, batch keeps min doc_id),
with split/token columns attached."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_DIR
from timeseriesdb_spark.pipeline import CurationPipeline
from timeseriesdb_spark.streaming import curation as scur
from timeseriesdb_spark.tables import load_table


def test_stream_curation_matches_batch_stages(spark, tmp_path):
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    docs = load_table(spark, SF_DIR, "documents").withColumn(
        "ingest_ts",
        F.to_timestamp(F.lit("2026-01-01 00:00:00"))
        + F.make_interval(secs=F.col("doc_id").cast("double")),
    )
    # stage twice — the at-least-once replay scenario
    docs.coalesce(2).write.mode("append").parquet(src)
    docs.coalesce(2).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(src)
    )
    q = (
        scur.curate_stream(spark, stream)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.read.parquet(out)

    pipe = CurationPipeline(spark)
    batch = pipe.exact_dedup(pipe.quality_filter(docs))
    fp = F.md5(F.lower(F.regexp_replace(F.col("text"), r"\s+", " ")))
    batch_fps = {r.fp for r in batch.select(fp.alias("fp")).collect()}

    got_fps = [r.fp for r in got.select("fp").collect()]
    assert len(got_fps) == len(set(got_fps))  # replays landed once
    assert set(got_fps) == batch_fps          # same surviving content

    # stateless stages match the batch expressions row-for-row
    joined = got.alias("g").join(
        pipe.assign_splits(docs).alias("b"), "doc_id"
    )
    mism = joined.where(
        (F.col("g.split") != F.col("b.split"))
        | (F.col("g.n_tokens") != F.col("b.n_tokens"))
    ).count()
    assert mism == 0


def test_stream_decontaminate_matches_batch(spark, tmp_path):
    """Stateless stream decontamination drops exactly the docs the
    batch q_decontaminate flags (within the train split) — and keeps
    everything else."""
    src = str(tmp_path / "dsrc")
    out = str(tmp_path / "dout")
    ckpt = str(tmp_path / "dckpt")

    docs = load_table(spark, SF_DIR, "documents")
    hp = F.substring(F.md5(F.col("text")), 1, 2)
    from timeseriesdb_spark.operators.curation import TRAIN_BOUND
    from timeseriesdb_spark.registry import QUERIES

    train = docs.where(hp < F.lit(TRAIN_BOUND))
    train.coalesce(2).write.mode("overwrite").parquet(src)

    bench = scur.benchmark_ngrams(docs)
    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        scur.decontaminate_stream(stream, bench)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    kept = {r.doc_id for r in spark.read.parquet(out).select("doc_id").collect()}

    flagged = {
        r.doc_id
        for r in QUERIES["q_decontaminate"](spark, SF_DIR).collect()
    }
    train_ids = {r.doc_id for r in train.select("doc_id").collect()}
    assert flagged, "fixture should flag at least one doc"
    assert kept == train_ids - flagged


def test_rowwise_signatures_match_grouped(spark):
    """minhash_signatures_rowwise == minhash_signatures exactly, and
    its plan has no exchange (the property that makes it stream-legal)."""
    from timeseriesdb_spark.operators import dedup
    from timeseriesdb_spark.plans import checks

    doc = load_table(spark, SF_DIR, "documents")
    a = dedup.minhash_signatures(doc)
    b = dedup.minhash_signatures_rowwise(doc)
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0
    assert checks.exchange_count(b) == 0, checks.formatted_plan(b)


def test_stream_neardup_probe_matches_batch(spark, tmp_path):
    """Streaming corpus probe drops exactly the batch
    incremental_neardup dup_of_corpus set, statelessly."""
    from timeseriesdb_spark.operators import dedup

    src = str(tmp_path / "nsrc")
    out = str(tmp_path / "nout")
    ckpt = str(tmp_path / "nckpt")

    doc = load_table(spark, SF_DIR, "documents")
    corpus = doc.where(F.col("source") == dedup.CORPUS_SOURCE)
    batch = doc.where(F.col("source") != dedup.CORPUS_SOURCE)
    batch.coalesce(3).write.mode("overwrite").parquet(src)

    bands = dedup.lsh_bands(dedup.minhash_signatures(corpus))
    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        scur.neardup_probe_stream(stream, bands)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    kept = {r.doc_id for r in spark.read.parquet(out).select("doc_id").collect()}

    flags = dedup.incremental_neardup(batch, corpus).collect()
    expect = {r.doc_id for r in flags if r.dup_of_corpus == 0}
    dropped = {r.doc_id for r in flags if r.dup_of_corpus == 1}
    assert dropped, "fixture should have at least one corpus near-dup"
    assert kept == expect
    # original columns survive the probe
    assert {"doc_id", "text", "lang", "source", "n_chars"} <= set(
        spark.read.parquet(out).columns
    )


def test_multimodal_keep_stream_matches_batch(spark, tmp_path):
    """Streamed fused multimodal gate keeps exactly the batch
    composition's keep set: text fp NOT in corpus AND image
    dup_of_corpus == 0 AND video dup_of_corpus == 0. Probes injected
    per modality: an exact corpus-text copy (all three gates fire)
    and a same-length single-char edit (the video near-dup recipe —
    voxel tiling preserved, hamming 0-1)."""
    from timeseriesdb_spark.operators.dedup import CORPUS_SOURCE
    from timeseriesdb_spark.operators.multimodal import (
        fingerprints,
        fp_bands,
        incremental_fp,
    )
    from timeseriesdb_spark.streaming.curation import multimodal_keep_stream
    from timeseriesdb_spark.tables import load_table

    from timeseriesdb_spark.operators.multimodal import DHASH_BANDS

    doc = load_table(spark, SF_DIR, "documents").select(
        "doc_id", "text", "source"
    )
    corpus = doc.where(F.col("source") == CORPUS_SOURCE)
    norm = F.lower(F.regexp_replace(F.col("text"), r"\s+", " "))
    text_fps = corpus.select(F.md5(norm).alias("fp"))
    ibands = fp_bands(fingerprints(corpus, "dhash"), "dhash", cap=True)
    vbands = fp_bands(fingerprints(corpus, "vfp"), "vfp", cap=True)

    # probe target: a corpus doc whose video bands ALL survive the
    # df-cap (a hot/template clip's buckets are dropped at index
    # build, so an edit of one legitimately slips the corpus gate)
    # AND whose single-char edit lands within the hamming threshold
    # (short texts concentrate the edit into few voxels per chunk and
    # can exceed it — search instead of assuming)
    import numpy as np

    from timeseriesdb_spark.functions import audio, video
    from timeseriesdb_spark.operators.multimodal import DHASH_T

    uncapped = {
        r.doc_id
        for r in vbands.groupBy("doc_id")
        .count()
        .where(F.col("count") == DHASH_BANDS)
        .collect()
    }
    assert uncapped, "no corpus clip with all bands indexed"

    def _vfp(s: str) -> str:
        _, fr = video.decode_video(video.synth_video(s.encode()))
        return audio.fingerprint_bits(fr.ravel().astype(np.int64))

    c0 = edited = None
    for row in corpus.orderBy("doc_id").collect():
        if row.doc_id not in uncapped:
            continue
        cand = "X" + row.text[1:]
        if sum(x != y for x, y in zip(_vfp(row.text), _vfp(cand))) <= DHASH_T:
            c0, edited = row, cand
            break
    assert c0 is not None, "no corpus clip with an in-threshold edit"
    extra = spark.createDataFrame(
        [(9_000_001, c0.text, "srcX"), (9_000_002, edited, "srcX")],
        "doc_id long, text string, source string",
    )
    batch = doc.where(F.col("source") != CORPUS_SOURCE).unionByName(extra)

    src = str(tmp_path / "mmsrc")
    out = str(tmp_path / "mmout")
    batch.coalesce(3).write.mode("overwrite").parquet(src)

    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        multimodal_keep_stream(stream, text_fps, ibands, vbands)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "mmckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    kept = {
        r.doc_id for r in spark.read.parquet(out).select("doc_id").collect()
    }

    # batch composition of the three corpus gates
    corpus_fps = {r.fp for r in text_fps.collect()}
    text_keep = {
        r.doc_id
        for r in batch.select("doc_id", F.md5(norm).alias("fp")).collect()
        if r.fp not in corpus_fps
    }
    img_keep = {
        r.doc_id
        for r in incremental_fp(batch, corpus, "dhash").collect()
        if r.dup_of_corpus == 0
    }
    vid_keep = {
        r.doc_id
        for r in incremental_fp(batch, corpus, "vfp").collect()
        if r.dup_of_corpus == 0
    }
    expect = text_keep & img_keep & vid_keep
    assert 9_000_001 not in expect  # exact copy: every gate fires
    assert 9_000_002 not in vid_keep  # same-length edit: video near-dup
    assert kept == expect and len(kept) > 0
    # audit columns survive the fused gate
    assert {"doc_id", "text", "source", "fp", "dhash", "vfp"} <= set(
        spark.read.parquet(out).columns
    )


def test_semantic_decon_stream_matches_batch(spark, tmp_path):
    """Streamed semantic decon == the batch q_semantic_decon rows
    exactly (same kernel, stateless): run the stream over the same
    non-eval candidates against the same eval frame."""
    from pyspark.sql import functions as F

    from timeseriesdb_spark.operators import similarity as sim
    from timeseriesdb_spark.registry import QUERIES
    from timeseriesdb_spark.streaming.curation import semantic_decon_stream
    from timeseriesdb_spark.tables import load_table

    SF = SF_DIR
    emb = load_table(spark, SF, "embeddings").select("vec_id", "embedding")
    ev = sim.semdecon_eval_set(emb)
    eids = [r.vec_id for r in ev.select("vec_id").collect()]
    cand = emb.where(~F.col("vec_id").isin(eids))

    want = {
        tuple(r)
        for r in QUERIES["q_semantic_decon"](spark, SF).collect()
    }

    src = str(tmp_path / "sdsrc")
    out = str(tmp_path / "sdout")
    cand.coalesce(3).write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        semantic_decon_stream(stream, ev)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "sdckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {tuple(r) for r in spark.read.parquet(out).collect()}
    assert got == want and len(got) > 0
