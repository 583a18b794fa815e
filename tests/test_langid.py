"""Trained char-trigram language ID (operators/langid.py). Pins:
(a) trainer parity — the Spark md5-window sample and the DuckDB
oracle-factory sample train byte-identical profiles, (b) the scorer is
REAL — on a crafted corpus with genuinely language-distinct trigram
distributions agreement is 100%, (c) tie-break totality — a text too
short for any trigram scores 0 everywhere and predicts the
lexicographically first language in both engines, (d) the scoring pass
is shuffle-free (one scan, whole-stage codegen; training is a separate
bounded job)."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from tests.conftest import SF_DIR
from timeseriesdb_spark.operators import langid


def test_trainer_parity_spark_vs_duck(spark):
    p_spark = langid._train_profiles_spark(spark, SF_DIR)
    p_duck = langid._train_profiles_duck(SF_DIR)
    assert p_spark == p_duck
    assert set(p_spark) == {"de", "en", "es", "fr", "zh"}
    for prof in p_spark.values():
        assert len(prof) == langid.LANG_PROFILE_K
        assert all(
            1 <= w <= langid.LANG_PROFILE_K for w in prof.values()
        )


def _crafted_docs(spark):
    """Three 'languages' with disjoint vocabularies — trigram profiles
    genuinely separate them, unlike the sf corpus's shared-vocabulary
    lang column."""
    vocab = {
        "aa": "zork blip quux flerm grobble",
        "bb": "mimsy borogove rath outgrabe tove",
        "cc": "wabe gyre gimble slithy brillig",
    }
    rows = []
    did = 0
    for lang, words in vocab.items():
        ws = words.split()
        for i in range(40):
            text = " ".join(ws[(i + j) % len(ws)] for j in range(12))
            rows.append((did, lang, text))
            did += 1
    pdf = pd.DataFrame(rows, columns=["doc_id", "lang", "text"])
    return spark.createDataFrame(pdf, "doc_id long, lang string, text string")


def test_scorer_separates_distinct_vocabularies(spark):
    doc = _crafted_docs(spark)
    sample = [(r.lang, r.text) for r in doc.orderBy("doc_id").collect()]
    profiles = langid._profiles_from_rows(sample)
    out = langid.lang_scores(doc, profiles).collect()
    assert len(out) == 120
    assert all(r.agree == 1 for r in out)
    assert all(r.score > 0 for r in out)


def test_short_text_ties_break_to_first_lang(spark):
    doc = spark.createDataFrame(
        [(1, "xx", "ab"), (2, "aa", "")],
        "doc_id long, lang string, text string",
    )
    profiles = {"aa": {"zzz": 5}, "bb": {"yyy": 5}, "cc": {"xxx": 5}}
    out = {r.doc_id: r for r in langid.lang_scores(doc, profiles).collect()}
    assert out[1].pred_lang == "aa" and out[1].score == 0
    assert out[2].pred_lang == "aa" and out[2].score == 0
    assert out[2].agree == 1  # declared aa, tie-broken to aa


def test_scoring_plan_shape(spark):
    """The r15 dict-probe scorer is a single map-only pass: one corpus
    scan feeding MapInPandas, NO join, NO exchange — the trigram
    explode (and its ~290 rows per document) is gone entirely, and the
    scorer's output is |docs| rows regardless of text length."""
    from timeseriesdb_spark.plans import checks

    profiles = langid._train_profiles_spark(spark, SF_DIR)
    from timeseriesdb_spark.tables import load_table

    scored = langid.lang_scores(
        load_table(spark, SF_DIR, "documents").select(
            "doc_id", "lang", "text"
        ),
        profiles,
    )
    plan = checks.formatted_plan(scored)
    assert "MapInPandas" in plan
    assert "Join" not in plan
    assert checks.exchange_count(scored) == 0, plan


def test_confusion_shares_sum_to_million(spark):
    rows = langid.q_lang_confusion(spark, SF_DIR).collect()
    by_lang: dict[str, int] = {}
    for r in rows:
        by_lang[r.lang] = by_lang.get(r.lang, 0) + r.share_ppm
    # half-up ppm shares per declared lang sum to 1e6 ± |cells| halves
    for lang, s in by_lang.items():
        assert abs(s - 1_000_000) <= 5, (lang, s)


def test_clear_trained_caches_covers_all_modules(spark, tmp_path):
    """Every piece of derived state — a table schema, the trained kmeans
    model, the lazy drift oracles, the lang-id profiles — follows an
    in-place rewrite of the dataset with NO clear call: the one store
    keys each value on the files' fingerprint, so a stale entry is
    never served. clear_trained_caches only frees memory."""
    import os
    import shutil

    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from timeseriesdb_spark import tables
    from timeseriesdb_spark.operators import mlscoring, similarity
    from timeseriesdb_spark.registry import LAZY_ORACLES

    dst = str(tmp_path / "sf")
    shutil.copytree(SF_DIR, dst, copy_function=shutil.copyfile)
    os.chmod(dst, 0o755)

    def derived_state():
        return {
            "events columns": tables.load_table(spark, dst, "events").columns,
            "kmeans centers": mlscoring._train_kmeans(spark, dst),
            "q_kmeans_drift": LAZY_ORACLES["q_kmeans_drift"](dst),
            "q_kmeans_drift_fft": LAZY_ORACLES["q_kmeans_drift_fft"](dst),
            "lang profiles": langid._train_profiles_spark(spark, dst),
        }

    def same(a, b):
        return np.array_equal(a, b) if isinstance(a, np.ndarray) else a == b

    before = derived_state()

    # rewrite in place: events' values and columns change, and the
    # profiles' training corpus (documents) changes with it
    ev = pq.read_table(f"{dst}/events.parquet")
    ev = ev.set_column(
        ev.schema.get_field_index("value"),
        "value",
        pc.add(pc.multiply(ev["value"], 3.0), 7.0),
    ).append_column("extra", pa.array(np.ones(ev.num_rows)))
    pq.write_table(ev, f"{dst}/events.parquet")
    docs = pq.read_table(f"{dst}/documents.parquet")
    docs = docs.set_column(
        docs.schema.get_field_index("text"), "text", pc.utf8_upper(docs["text"])
    )
    pq.write_table(docs, f"{dst}/documents.parquet")

    after = derived_state()
    similarity.clear_trained_caches()
    rebuilt = derived_state()
    assert "extra" in after["events columns"]
    for kind in before:
        assert not same(after[kind], before[kind]), kind
        assert same(after[kind], rebuilt[kind]), kind

    # clearing one dir drops its entries and keeps the others;
    # sf_dir=None clears everything
    tables.load_table(spark, SF_DIR, "events")
    similarity.clear_trained_caches(dst)
    assert not [k for k in tables._DERIVED if k[1] == dst]
    assert [k for k in tables._DERIVED if k[1] == SF_DIR]
    similarity.clear_trained_caches()
    assert not tables._DERIVED


def test_pred_expression_matches_batch_scorer(spark):
    """The stateless streaming expression (lang_pred_col) and the
    broadcast-join batch scorer (lang_scores) must predict the SAME
    language for every document — the two forms share the trainer and
    the first-max tie-break, so any divergence is a bug in one of
    them."""
    from timeseriesdb_spark.tables import load_table

    profiles = langid._train_profiles_spark(spark, SF_DIR)
    doc = load_table(spark, SF_DIR, "documents").select(
        "doc_id", "lang", "text"
    )
    via_expr = {
        r.doc_id: r.p
        for r in doc.select(
            "doc_id", langid.lang_pred_col(profiles).alias("p")
        ).collect()
    }
    via_batch = {
        r.doc_id: r.pred_lang
        for r in langid.lang_scores(doc, profiles).collect()
    }
    assert via_expr == via_batch and len(via_expr) > 0


def test_lang_filter_stream_matches_batch(spark, tmp_path):
    """Streamed language gate == batch filter on the same predicate:
    kept doc_ids and the appended pred_lang column agree exactly."""
    from pyspark.sql import functions as F

    from timeseriesdb_spark.streaming.curation import lang_filter_stream
    from timeseriesdb_spark.tables import load_table

    profiles = langid._train_profiles_spark(spark, SF_DIR)
    doc = load_table(spark, SF_DIR, "documents").select(
        "doc_id", "lang", "text"
    )
    keep = ["en", "fr"]
    want = {
        (r.doc_id, r.pred_lang)
        for r in doc.withColumn(
            "pred_lang", langid.lang_pred_col(profiles)
        )
        .where(F.col("pred_lang").isin(keep))
        .collect()
    }
    assert 0 < len(want) < doc.count()  # the gate genuinely bites

    src = str(tmp_path / "lsrc")
    out = str(tmp_path / "lout")
    doc.coalesce(3).write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        lang_filter_stream(stream, profiles, keep)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "lckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.doc_id, r.pred_lang)
        for r in spark.read.parquet(out)
        .select("doc_id", "pred_lang")
        .collect()
    }
    assert got == want
