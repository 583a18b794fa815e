"""Model-scoring drift checks (the lossyML matrix): degradation with
chunk=1 is the identity, so agreement must be exactly 1.0; real PAA
degradation keeps agreement a valid, deterministic rate.
"""

from __future__ import annotations

from tests.conftest import SF_DIR
from timeseriesdb_spark.operators import mlscoring
from timeseriesdb_spark.operators.similarity import clear_trained_caches


def _rates(df):
    return {
        r.user_id: (r.n_segments, r.n_agree, r.agree_rate) for r in df.collect()
    }


import pytest

FAMILIES = ["q_kmeans_drift", "q_tree_drift", "q_knn_drift", "q_forest_drift"]


@pytest.mark.parametrize("family", FAMILIES)
def test_drift_identity_degradation(spark, monkeypatch, family):
    monkeypatch.setattr(mlscoring, "PAA_CHUNK", 1)
    rows = _rates(mlscoring.QUERIES[family](spark, SF_DIR))
    assert rows
    for n, agree, rate in rows.values():
        if n:
            assert agree == n and rate == 1.0


@pytest.mark.parametrize("family", FAMILIES)
def test_drift_agreement_bounded_and_deterministic(spark, family):
    a = _rates(mlscoring.QUERIES[family](spark, SF_DIR))
    assert a
    for n, agree, rate in a.values():
        assert 0 <= agree <= n
        if n:
            assert 0.0 <= rate <= 1.0
    assert a == _rates(mlscoring.QUERIES[family](spark, SF_DIR))


def test_tree_model_is_deterministic_and_bounded(spark):
    t1 = mlscoring._train_tree(spark, SF_DIR)
    clear_trained_caches(SF_DIR)
    t2 = mlscoring._train_tree(spark, SF_DIR)
    assert t1 == t2
    assert len(t1) == 3  # root + two children: a broadcast-sized model
    for j, thr in t1:
        assert 0 <= j < 4 and isinstance(thr, float)


FFT_FAMILIES = [
    f"q_{f}_drift_{t}"
    for f in ("kmeans", "tree", "knn", "forest")
    for t in ("fft", "pla", "grail", "rrd", "buff")
]


@pytest.mark.parametrize("family", FFT_FAMILIES)
def test_fft_drift_agreement_bounded_and_deterministic(spark, family):
    a = _rates(mlscoring.QUERIES[family](spark, SF_DIR))
    assert a
    for n, agree, rate in a.values():
        assert 0 <= agree <= n
        if n:
            assert 0.0 <= rate <= 1.0
    assert a == _rates(mlscoring.QUERIES[family](spark, SF_DIR))


def test_fft_tier_segments_match_paa_tier(spark):
    """The FFT tier buckets by q_fft_recon's pos, the PAA tier by its
    own row_number — both over (ts, event_id) per signal, so every
    signal must report the SAME number of complete segments. This is
    the alignment claim that makes raw labels comparable across
    tiers."""
    paa = _rates(mlscoring.QUERIES["q_kmeans_drift"](spark, SF_DIR))
    fft = _rates(mlscoring.QUERIES["q_kmeans_drift_fft"](spark, SF_DIR))
    pla = _rates(mlscoring.QUERIES["q_kmeans_drift_pla"](spark, SF_DIR))
    gra = _rates(mlscoring.QUERIES["q_kmeans_drift_grail"](spark, SF_DIR))
    rrd = _rates(mlscoring.QUERIES["q_kmeans_drift_rrd"](spark, SF_DIR))
    buf = _rates(mlscoring.QUERIES["q_kmeans_drift_buff"](spark, SF_DIR))
    tiers = (fft, pla, gra, rrd, buf)
    assert all(set(paa) == set(t) for t in tiers)
    for u in paa:
        assert all(paa[u][0] == t[u][0] for t in tiers), u


def test_grail_dictionary_read_paths_agree(spark):
    """The Spark pull and the DuckDB oracle read must derive
    byte-identical segment dictionaries — the equality the oracle's
    green hash rests on."""
    import numpy as np

    clear_trained_caches(SF_DIR)
    spark_dict = mlscoring._grail_seg_dictionary(spark, SF_DIR)
    ddb_dict, ids = mlscoring._grail_seg_dictionary_ddb(SF_DIR)
    assert len(spark_dict) == len(ddb_dict) == len(ids)
    for a, b in zip(spark_dict, ddb_dict):
        assert np.array_equal(a, b)


def test_grail_embedding_is_affine_invariant(spark, tmp_path):
    """NCC — and therefore the quantized-SINK kernel and the GRAIL
    coefficients — is invariant to positive affine maps of the values.
    Doubling every value keeps the cents lattice exact (testdata sits
    on the 0.01 grid), the integer images scale by exactly 2, and
    every emitted coefficient must be BIT-identical: the structural
    pin of the integer-lattice discipline at segment granularity."""
    import shutil

    from pyspark.sql import functions as F

    from timeseriesdb_spark.tables import load_table

    dst = str(tmp_path / "doubled")
    ev = load_table(spark, SF_DIR, "events")
    ev.withColumn("value", F.col("value") * 2).write.parquet(
        f"{dst}/events.parquet"
    )
    a = sorted(
        map(tuple, mlscoring._grail_seg_coeffs(spark, SF_DIR).collect())
    )
    b = sorted(
        map(tuple, mlscoring._grail_seg_coeffs(spark, dst).collect())
    )
    assert a == b
    shutil.rmtree(dst, ignore_errors=True)


def test_grail_span_guard_refuses_dictionary():
    """ADVICE r13: a segment whose value span breaks the int64 NCC
    bound (64³·span² ≥ 2⁶³) must raise loudly in the dictionary
    builder — numpy would wrap silently where the oracle sums in
    HUGEINT (and production runs with no oracle at all)."""
    import numpy as np
    import pandas as pd

    vals = np.zeros(mlscoring.SEG_ROWS, dtype=np.float64)
    vals[0] = (mlscoring.GRAIL_SPAN_CENTS + 100) / 100.0
    pdf = pd.DataFrame(
        {
            "user_id": 0,
            "rn": np.arange(1, mlscoring.SEG_ROWS + 1),
            "value": vals,
        }
    )
    with pytest.raises(ValueError, match="GRAIL_SPAN_CENTS"):
        mlscoring._seg_dict_from_pdf(pdf)


def test_grail_span_guard_refuses_embed(spark, tmp_path):
    """Same bound in the embed kernel itself: benign dictionary
    signals, one scored signal spiked past the span cap — the stream
    of coefficients must fail loudly, not wrap."""
    import shutil

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from timeseriesdb_spark.tables import load_table

    dst = str(tmp_path / "spiked")
    ev = load_table(spark, SF_DIR, "events")
    k = mlscoring.GRAIL_DICT_K
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    spiked = (
        ev.filter(F.col("user_id") == k)
        .withColumn("rn", F.row_number().over(w))
        .withColumn(
            "value",
            F.when(
                F.col("rn") == 1,
                F.lit((mlscoring.GRAIL_SPAN_CENTS + 100) / 100.0),
            ).otherwise(F.lit(0.0)),
        )
        .drop("rn")
    )
    ev.filter(F.col("user_id") < k).unionByName(spiked).write.parquet(
        f"{dst}/events.parquet"
    )
    with pytest.raises(Exception, match="GRAIL_SPAN_CENTS"):
        mlscoring._grail_seg_coeffs(spark, dst).collect()
    shutil.rmtree(dst, ignore_errors=True)


def test_grail_tier_with_fewer_landmarks_than_feature_slots(
    spark, tmp_path, monkeypatch
):
    """A dataset where only 3 of the GRAIL_DICT_K landmark signals
    reach SEG_ROWS gives a K = 3 dictionary, one column short of the 4
    degraded-feature slots. Both engines pad the projection with a
    zero column: every GRAIL cell hash-matches its oracle, d_max is
    0.0 throughout, and resolving the oracles does not raise."""
    import shutil

    import duckdb

    from tests.conftest import assert_matches_oracle
    from timeseriesdb_spark.registry import resolve_oracles
    from timeseriesdb_spark.tables import TABLES

    dst = tmp_path / "k3"
    shutil.copytree(SF_DIR, dst, ignore=shutil.ignore_patterns("events*"))
    src = f"{SF_DIR}/events.parquet"
    con = duckdb.connect()
    counts = con.execute(
        f"SELECT user_id, count(*) FROM '{src}' WHERE user_id < "
        f"{mlscoring.GRAIL_DICT_K} GROUP BY 1 ORDER BY 1"
    ).fetchall()
    full = [u for u, n in counts if n >= mlscoring.SEG_ROWS]
    assert len(full) > 3
    # cut every landmark past the first three below one segment
    cut = ", ".join(str(u) for u in full[3:])
    con.execute(
        f"""COPY (
            SELECT * EXCLUDE (rn) FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY user_id ORDER BY ts, event_id) AS rn
                FROM '{src}')
            WHERE NOT (user_id IN ({cut}) AND rn >= {mlscoring.SEG_ROWS})
        ) TO '{dst}/events.parquet' (FORMAT parquet)"""
    )
    assert len(mlscoring._grail_seg_dictionary_ddb(str(dst))[0]) == 3
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{dst}/{t}.parquet'"
        )
    monkeypatch.setenv("SPARK_TSDB_TEST_SF", str(dst))
    oracles = resolve_oracles()
    coeffs = mlscoring._grail_seg_coeffs(spark, str(dst)).toPandas()
    assert len(coeffs) > 0 and (coeffs["d_max"] == 0.0).all()
    for family in ("kmeans", "tree", "knn", "forest"):
        name = f"q_{family}_drift_grail"
        assert_matches_oracle(
            mlscoring.QUERIES[name](spark, str(dst)), con, oracles[name]
        )
    con.close()


def test_no_module_level_cache_outside_the_store():
    """Derived state lives in the one fingerprint-keyed store in
    tables.py. A module-level *_CACHE dict anywhere else would be keyed
    by a path string and could serve stale state after an in-place
    rewrite of a dataset."""
    import importlib
    import pkgutil

    import timeseriesdb_spark

    offenders = []
    for info in pkgutil.walk_packages(
        timeseriesdb_spark.__path__, "timeseriesdb_spark."
    ):
        if info.name == "timeseriesdb_spark.tables":
            continue
        module = importlib.import_module(info.name)
        offenders += [
            f"{info.name}.{name}"
            for name, value in vars(module).items()
            if name.endswith("_CACHE") and isinstance(value, dict)
        ]
    assert offenders == []
