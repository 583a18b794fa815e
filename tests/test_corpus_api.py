"""CorpusEngine lifecycle: bootstrap == batch pipeline, incremental
append == run_incremental survivors, split reads prune partitions."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_DIR
from timeseriesdb_spark.api import CorpusEngine
from timeseriesdb_spark.operators import dedup
from timeseriesdb_spark.pipeline import CurationPipeline
from timeseriesdb_spark.plans import checks
from timeseriesdb_spark.tables import load_table


def test_corpus_lifecycle(spark, tmp_path):
    doc = load_table(spark, SF_DIR, "documents")
    corpus_raw = doc.where(F.col("source") == dedup.CORPUS_SOURCE)
    crawl = doc.where(F.col("source") != dedup.CORPUS_SOURCE)

    eng = CorpusEngine(spark, str(tmp_path / "corpus"))
    eng.bootstrap(corpus_raw)
    pipe = CurationPipeline(spark)

    base = eng.docs().collect()
    expect_base = pipe.run(corpus_raw).collect()
    assert {r.doc_id for r in base} == {r.doc_id for r in expect_base}

    # incremental crawl: appended rows == run_incremental survivors
    # (computed against the bootstrapped corpus BEFORE the append)
    expect_inc = {
        r.doc_id for r in pipe.run_incremental(crawl, eng.docs()).collect()
    }
    eng.ingest_increment(crawl)
    after = {r.doc_id for r in eng.docs().collect()}
    assert after == {r.doc_id for r in base} | expect_inc
    assert expect_inc, "fixture crawl should contribute survivors"

    # split read prunes on the partition column
    train = eng.split("train")
    plan = checks.formatted_plan(train)
    assert "PartitionFilters: [isnotnull(split" in plan.replace("#", "", 1) or (
        "split" in plan and "PartitionFilters" in plan
    ), plan
    assert {r.split for r in train.collect()} <= {"train"}

    # read surfaces
    st = eng.stats().collect()
    assert sum(r.n_docs for r in st) == len(after)
    assert eng.chunks().count() >= len(after)


def test_ann_index_lifecycle(spark, tmp_path):
    from timeseriesdb_spark.operators import similarity as sim
    from timeseriesdb_spark.streaming import annprobe

    emb = load_table(spark, SF_DIR, "embeddings")
    eng = CorpusEngine(spark, str(tmp_path / "corpus"))
    idx = str(tmp_path / "ann_index")
    eng.build_ann_index(emb, idx)

    # persisted quantizer == a fresh deterministic training run
    C = eng._load_centroids(idx)
    C2 = sim.train_ivf_centroids(emb)
    assert [[float(x) for x in row] for row in C2] == C

    # facade query == direct stored probe with the same quantizer
    qrow = emb.orderBy("vec_id").limit(1).collect()[0]
    got = eng.ann_query(idx, list(qrow.embedding), k=5).collect()
    want = sim.ivf_probe_stored(
        spark, idx, list(qrow.embedding), C, k=5
    ).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
    assert len(got) == 5

    # stream facade lands the batch answer
    queries = emb.orderBy("vec_id").limit(3)
    src = str(tmp_path / "qsrc")
    out = str(tmp_path / "qout")
    queries.coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(queries.schema).parquet(src)
    q = eng.ann_probe_stream(
        stream, idx, out, str(tmp_path / "qckpt"), k=5
    )
    q.awaitTermination(120)
    store = annprobe.prepared_store(spark, idx)
    want_s = sorted(
        annprobe.topk_per_query(
            annprobe.ann_candidates(queries, store, C), 5
        ).collect(),
        key=lambda r: (r.query_id, r.rank),
    )
    got_s = sorted(
        spark.read.parquet(out).drop("batch_id").collect(),
        key=lambda r: (r.query_id, r.rank),
    )
    assert [tuple(r) for r in got_s] == [tuple(r) for r in want_s]


def test_trim_duplicates_maintenance(spark, tmp_path):
    """trim_duplicates (r8): trimmed store == per-doc batch trim of
    the stored corpus; unaffected docs byte-identical; n_tokens
    recomputed; split assignment preserved."""
    from timeseriesdb_spark.operators.dedup import trim_spans_frame

    doc = load_table(spark, SF_DIR, "documents")
    eng = CorpusEngine(spark, str(tmp_path / "corpus"))
    eng.bootstrap(doc)

    before = {r.doc_id: r for r in eng.docs().collect()}
    expect = {
        r.doc_id: r
        for r in trim_spans_frame(
            eng.docs().select("doc_id", "text")
        ).collect()
    }
    out_path = str(tmp_path / "trimmed")
    n = eng.trim_duplicates(out_path)
    assert n == len(expect)

    after = {r.doc_id: r for r in spark.read.parquet(out_path).collect()}
    assert set(after) == set(before)  # no docs added or dropped
    changed = 0
    for doc_id, row in after.items():
        b = before[doc_id]
        assert row.split == b.split  # split preserved
        if doc_id in expect:
            assert row.text == expect[doc_id].trimmed_text
            changed += row.text != b.text
        else:
            assert row.text == b.text
        # n_tokens always consistent with the (possibly new) text
        assert row.n_tokens == (len(row.text.split(" ")) if row.text else 1)
    assert changed > 0, "fixture corpus should contain duplicated spans"


def test_trim_duplicates_fixpoint_idempotent(spark, tmp_path):
    """trim(trim(S)) == trim(S) (r9): with max_rounds high enough to
    reach the fixpoint, a second full trim of the trimmed store finds
    NOTHING to remove and reproduces it byte-identically. (One pass is
    provably not enough — rejoined seams create fresh cross-doc
    shingles — so this property is what max_rounds exists for.)"""
    doc = load_table(spark, SF_DIR, "documents")
    eng = CorpusEngine(spark, str(tmp_path / "corpus"))
    eng.bootstrap(doc)

    out1 = str(tmp_path / "trim1")
    n1 = eng.trim_duplicates(out1, max_rounds=16)
    assert n1 > 0

    eng2 = CorpusEngine(spark, out1)
    out2 = str(tmp_path / "trim2")
    n2 = eng2.trim_duplicates(out2, max_rounds=16)
    assert n2 == 0, "fixpoint trim must leave no duplicated spans"

    t1 = {r.doc_id: (r.text, r.n_tokens, r.split)
          for r in spark.read.parquet(out1).collect()}
    t2 = {r.doc_id: (r.text, r.n_tokens, r.split)
          for r in spark.read.parquet(out2).collect()}
    assert t1 == t2


def test_multimodal_index_facades_match_direct_stores(spark, tmp_path):
    """engine.build_image_index / build_video_index /
    SignalEngine.build_audio_index persist EXACTLY the band frames the
    direct store writers produce (the facade is a delegate, never a
    semantics change)."""
    import shutil

    from timeseriesdb_spark.api import SignalEngine
    from timeseriesdb_spark.operators.multimodal import fingerprints, fp_bands

    doc = load_table(spark, SF_DIR, "documents")
    corpus_raw = doc.where(F.col("source") == dedup.CORPUS_SOURCE)
    eng = CorpusEngine(spark, str(tmp_path / "mcorp"))
    eng.bootstrap(corpus_raw)
    curated = eng.docs()

    ev = load_table(spark, SF_DIR, "events").select(
        "user_id", "ts", "event_id", "value"
    )
    seng = SignalEngine(spark, str(tmp_path / "sigs"))
    seng.ingest(load_table(spark, SF_DIR, "events"))

    cases = [
        (
            "facade_img_idx",
            lambda t: eng.build_image_index(t),
            fp_bands(fingerprints(curated, "dhash"), "dhash", cap=True),
            ("doc_id", "dhash", "band_key"),
        ),
        (
            "facade_vid_idx",
            lambda t: eng.build_video_index(t),
            fp_bands(fingerprints(curated, "vfp"), "vfp", cap=True),
            ("doc_id", "vfp", "band_key"),
        ),
        (
            "facade_aud_idx",
            lambda t: seng.build_audio_index(t),
            fp_bands(fingerprints(ev, "afp"), "afp", cap=True),
            ("user_id", "afp", "band_key"),
        ),
    ]
    for table, build, direct, cols in cases:
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        shutil.rmtree(f"spark-warehouse/{table}", ignore_errors=True)
        try:
            build(table)
            got = {tuple(r) for r in spark.table(table).select(*cols).collect()}
            want = {tuple(r) for r in direct.select(*cols).collect()}
            assert got == want and len(got) > 0, table
        finally:
            spark.sql(f"DROP TABLE IF EXISTS {table}")
