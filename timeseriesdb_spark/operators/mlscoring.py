"""ML-model scoring over segments (SURVEY.md §2.9): the reference
scores classic-ML models — smartcore kmeans, decision tree, knn and
random forest — on each segment's values to measure how lossy
compression shifts predicted labels (buffer_pool.rs:798-938,
lossyML/src/main.rs:26-120). All four families are covered here.

Spark-first shape shared by every family: the model is TRAINED ONCE
driver-side on a bounded sample (the reference trains on a dictionary
file), broadcast as literals or a small broadcast variable, and SCORED
distributed. The drift measurement is the reference's actual
experiment: label each segment under raw values and under PAA-degraded
values and report the agreement rate — "does lossy aging change
downstream ML answers", which is what lossyML exists to quantify.

Scale architecture (v2 — the v1 harness shipped every raw value
through Arrow into a grouped-map UDF): segment features (mean, std,
min, max — raw and PAA-degraded) are computed ENTIRELY JVM-side as a
two-level aggregation (values → chunks → segments), so the data that
ever reaches Python is at most one 4-float row per segment — a
SEG_ROWS-fold reduction before any UDF. Three of the four families
(kmeans, tree, forest) label with pure Column expressions (the models
are a handful of literals), keeping the whole query inside
whole-stage codegen; only knn needs a pandas UDF, over the tiny
feature rows. The value→chunk→segment→signal aggregation chain reuses
the single user_id shuffle introduced by the row_number window —
partitioning on user_id clusters every downstream key, so Catalyst
inserts no further exchanges.

Determinism: chunk/segment sums route through DECIMAL(38,6) on values
pre-rounded to the same grid (operators/common.py discipline), so
features — and therefore labels and agreement rates — are bit-stable
under any partitioning. With PAA_CHUNK=1 the degraded path reproduces
the raw features exactly (chunk mean of one value is that value, and
both paths aggregate the same decimals), making identity degradation
⇒ agreement 1.0 a structural property, pinned by pytest for every
family.
"""

from __future__ import annotations

from functools import partial

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from timeseriesdb_spark.tables import derived, lazy_oracle, load_table

SEG_ROWS = 64     # rows per scored segment (ref segment_size scaled down)
N_CLUSTERS = 4
KMEANS_ITERS = 20
SAMPLE_SIGNALS = 8  # training sample: the dictionary-sized subset
PAA_CHUNK = 8
FOREST_TREES = 4  # bagged depth-2 trees (rforest analog)

DEC = "decimal(38,6)"

_FEATS_RAW = ("f_mean", "f_std", "f_min", "f_max")
_FEATS_DEG = ("d_mean", "d_std", "d_min", "d_max")


def _features(values: np.ndarray) -> np.ndarray:
    """Fixed feature vector per segment: (mean, std, min, max)."""
    return np.array(
        [values.mean(), values.std(), values.min(), values.max()]
    )


def _sample_features(spark: SparkSession, sf_dir: str) -> np.ndarray:
    """Segment features of the bounded training sample (the
    dictionary-sized subset the reference trains smartcore models on,
    lossyML/src/main.rs:26-64): SAMPLE_SIGNALS signals, SEG_ROWS
    segments, one (mean, std, min, max) row each. Derived once per data
    version — each family's training starts from the same sample."""

    def build() -> np.ndarray:
        pdf = (
            load_table(spark, sf_dir, "events")
            .filter(F.col("user_id") < SAMPLE_SIGNALS)
            .select("user_id", "ts", "event_id", "value")
            .toPandas()
        )
        return _sample_features_from_pdf(pdf)

    return derived(sf_dir, "mlscoring.sample", build)


def _sample_features_from_pdf(pdf: "pd.DataFrame") -> np.ndarray:
    """The numpy feature-extraction body, factored so the Spark path
    and the lazy-oracle generator (which reads the same rows via
    DuckDB) derive BYTE-IDENTICAL training samples."""
    pdf = pdf.sort_values(["user_id", "ts", "event_id"])
    feats = []
    for _, g in pdf.groupby("user_id", sort=True):
        v = g["value"].to_numpy(dtype=np.float64)
        for s in range(0, len(v) - SEG_ROWS + 1, SEG_ROWS):
            feats.append(_features(v[s : s + SEG_ROWS]))
    return np.array(feats)


def _train_kmeans(spark: SparkSession, sf_dir: str) -> np.ndarray:
    """Deterministic Lloyd's iterations on segment features of the
    sample signals; init = evenly spaced sorted-by-mean features (no
    RNG → reproducible across runs/partitionings)."""
    return derived(
        sf_dir,
        "mlscoring.kmeans",
        lambda: _kmeans_centers_np(_sample_features(spark, sf_dir)),
    )


def _kmeans_centers_np(X: np.ndarray) -> np.ndarray:
    order = np.argsort(X[:, 0], kind="stable")
    centers = X[order[np.linspace(0, len(X) - 1, N_CLUSTERS).astype(int)]]
    for _ in range(KMEANS_ITERS):
        d = ((X[:, None, :] - centers[None, :, :]) ** 2).sum(axis=2)
        lab = d.argmin(axis=1)
        for k in range(N_CLUSTERS):
            if (lab == k).any():
                centers[k] = X[lab == k].mean(axis=0)
    return centers


def _kmeans_labels(X: np.ndarray, centers: np.ndarray) -> np.ndarray:
    """Cluster assignment of feature rows — the shared label space the
    supervised families (knn, forest) train against, standing in for
    the reference's dictionary class labels."""
    return ((X[:, None, :] - centers[None, :, :]) ** 2).sum(axis=2).argmin(axis=1)


def _train_tree(spark: SparkSession, sf_dir: str) -> tuple:
    """Depth-2 threshold tree on the sample's segment features — the
    decision-tree family of the reference's per-segment scoring matrix
    (buffer_pool.rs:798-938; lossyML/src/main.rs:66-120). Unsupervised
    k-d-style training, fully deterministic: each node splits on the
    highest-variance feature at its median; the 4 leaves are the
    labels. Returns ((j0,t0),(jL,tL),(jR,tR)) — three (feature_idx,
    threshold) pairs, a broadcast-sized model like the kmeans
    centers."""
    return derived(
        sf_dir,
        "mlscoring.tree",
        lambda: _tree_np(_sample_features(spark, sf_dir)),
    )


def _tree_np(X: np.ndarray) -> tuple:
    def split(rows: np.ndarray) -> tuple[int, float]:
        j = int(rows.var(axis=0).argmax())
        return j, float(np.median(rows[:, j]))

    j0, t0 = split(X)
    left, right = X[X[:, j0] <= t0], X[X[:, j0] > t0]
    jl, tl = split(left) if len(left) else (j0, t0)
    jr, tr = split(right) if len(right) else (j0, t0)
    return ((j0, t0), (jl, tl), (jr, tr))


def _train_forest(spark: SparkSession, sf_dir: str) -> list:
    """Bagged depth-2 classifier trees — the rforest analog. Each tree
    trains on a deterministic stride slice of the sample (X[i::T], the
    RNG-free bootstrap), splits like _train_tree, and each LEAF
    predicts the majority kmeans label of its training rows (ties →
    smallest label), so all trees vote in one shared label space.
    Returns [((j0,t0),(jL,tL),(jR,tr), leaf_labels[4]), ...]."""
    X_all = _sample_features(spark, sf_dir)
    return _forest_np(X_all, _kmeans_labels(X_all, _train_kmeans(spark, sf_dir)))


def _forest_np(X_all: np.ndarray, y_all: np.ndarray) -> list:
    forest = []
    for i in range(FOREST_TREES):
        X, y = X_all[i::FOREST_TREES], y_all[i::FOREST_TREES]
        if not len(X):
            X, y = X_all, y_all

        def split(rows: np.ndarray) -> tuple[int, float]:
            j = int(rows.var(axis=0).argmax())
            return j, float(np.median(rows[:, j]))

        j0, t0 = split(X)
        left = X[:, j0] <= t0
        jl, tl = split(X[left]) if left.any() else (j0, t0)
        jr, tr = split(X[~left]) if (~left).any() else (j0, t0)
        leaves = []
        for leaf_mask in (
            left & (X[:, jl] <= tl),
            left & (X[:, jl] > tl),
            ~left & (X[:, jr] <= tr),
            ~left & (X[:, jr] > tr),
        ):
            if leaf_mask.any():
                counts = np.bincount(y[leaf_mask], minlength=N_CLUSTERS)
                leaves.append(int(counts.argmax()))  # tie → smallest label
            else:
                leaves.append(0)
        forest.append(((j0, t0), (jl, tl), (jr, tr), tuple(leaves)))
    return forest


def _segment_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-segment feature rows, raw and PAA-degraded, computed fully
    JVM-side. Values are rounded to the DECIMAL(38,6) grid once at the
    scan, then aggregated twice: value→chunk (sum, sum², min, max) and
    chunk→segment, with the degraded features derived from the chunk
    means inside the same segment-level pass. std uses the one-pass
    E[x²]−E[x]² identity (clamped at 0). Only complete segments
    (SEG_ROWS values) are scored, like the reference's fixed-size
    segment buffer.

    ENGINE-EXACT as of r9 (what made the drift family oracle-checkable
    — the old form divided DECIMALs, whose result scale/rounding is
    engine-specific): every sum becomes an exact integer in 10⁻⁶
    units, the chunk mean is the half-up integer division
    (2|s|+n) div 2n, and the only float ops left are double divisions
    / subtractions / sqrt of those exact integers — a fixed IEEE
    sequence DuckDB replays verbatim. Squares round to the same 6dp
    decimal grid in BOTH the raw (v²) and degraded (cm²) paths, which
    is also what keeps PAA_CHUNK=1 identity ⇒ bit-equal features."""
    return _features_from_chunks(
        _chunks_frame(load_table(spark, sf_dir, "events"))
    )


def _chunks_frame(ev: DataFrame) -> DataFrame:
    """value→chunk partial rows (exact 1e-6-unit integer sums + min/
    max/count per (signal, segment, chunk)) — the mergeable half of
    the feature math, shared with the streamed maintenance path
    (streaming/driftscore.py writes these same columns per micro-batch
    and merges them at read)."""
    base = ev.select(
        "user_id",
        "value",
        F.expr(
            "row_number() OVER (PARTITION BY user_id"
            " ORDER BY ts, event_id) - 1 AS rn"
        ),
    ).select(
        "user_id",
        F.expr(f"cast(cast(value as {DEC}) as double) AS v"),
        F.expr(f"floor(rn / {SEG_ROWS}) AS seg"),
        F.expr(f"floor(rn / {PAA_CHUNK}) AS chunk"),
    )
    return chunk_feature_agg(base)


def chunk_feature_agg(base: DataFrame) -> DataFrame:
    """THE mergeable chunk aggregation over a (user_id, v, seg, chunk)
    frame — one definition shared by the batch path above and the
    streamed maintenance path (streaming/driftscore.py), so the
    stream==batch bit-parity invariant cannot drift apart in two
    copies (r12 review fix). Aggregates parse from SQL text (r15
    build-time pass — operator-identical trees, ~0.1 s of py4j per
    invocation across the 24 drift cells)."""
    return base.groupBy("user_id", "seg", "chunk").agg(
        F.expr(f"cast(sum(cast(v as {DEC})) * 1000000 as long) AS s_u"),
        F.expr(
            f"cast(sum(cast(v * v as {DEC})) * 1000000 as long) AS ss_u"
        ),
        F.expr("min(v) AS mn"),
        F.expr("max(v) AS mx"),
        F.expr("count(*) AS n"),
    )


def _features_from_chunks(chunks: DataFrame) -> DataFrame:
    """chunk rows → per-segment feature rows: the NON-mergeable
    finalize (half-up chunk-mean division, segment sums, std) on the
    exact integers."""
    # chunk mean in exact 1e-6 units: half-up integer division. All
    # expression tiers parse from SQL text (r15 build-time pass) —
    # the same ops the Column fold compiled to, with explicit D
    # suffixes so 1000000.0 stays a DOUBLE literal.
    q = "((2 * abs(s_u) + n) div (2 * n))"
    cm_u = f"(CASE WHEN s_u < 0 THEN -{q} ELSE {q} END)"
    cm = f"(cast({cm_u} as double) / 1000000.0D)"
    segs = (
        chunks.groupBy("user_id", "seg")
        .agg(
            F.expr("sum(s_u) AS su"),
            F.expr("sum(ss_u) AS ssu"),
            F.expr("min(mn) AS f_min"),
            F.expr("max(mx) AS f_max"),
            F.expr("sum(n) AS nn"),
            F.expr(f"sum({cm_u}) AS cs_u"),
            F.expr(
                f"cast(sum(cast({cm} * {cm} as {DEC})) * 1000000"
                " as long) AS css_u"
            ),
            F.expr(f"min({cm}) AS d_min"),
            F.expr(f"max({cm}) AS d_max"),
            F.expr("count(*) AS n_chunks"),
        )
        .where(F.col("nn") == SEG_ROWS)
    )
    mean = "(cast(su as double) / nn / 1000000.0D)"
    m2 = "(cast(ssu as double) / nn / 1000000.0D)"
    dmean = "(cast(cs_u as double) / n_chunks / 1000000.0D)"
    dm2 = "(cast(css_u as double) / n_chunks / 1000000.0D)"
    return segs.select(
        "user_id",
        "seg",
        F.expr(f"{mean} AS f_mean"),
        F.expr(
            f"sqrt(greatest({m2} - {mean} * {mean}, 0.0D)) AS f_std"
        ),
        F.col("f_min"),
        F.col("f_max"),
        F.expr(f"{dmean} AS d_mean"),
        F.expr(
            f"sqrt(greatest({dm2} - {dmean} * {dmean}, 0.0D)) AS d_std"
        ),
        F.col("d_min"),
        F.col("d_max"),
    )


def _drift_result(
    spark: SparkSession, sf_dir: str, label_of
) -> DataFrame:
    """Shared drift rollup over the PAA-tier feature frame."""
    return _drift_rollup(
        spark, sf_dir, _segment_features(spark, sf_dir), label_of
    )


def _drift_rollup(
    spark: SparkSession, sf_dir: str, feats: DataFrame, label_of
) -> DataFrame:
    """Label every segment under raw and degraded features via
    `label_of(feature_cols) -> Column`, then aggregate agreement per
    signal. Signals with no complete segment still emit a (user_id,
    0, 0, null) row — every signal is accounted for. Takes the feats
    frame so batch tiers AND the streamed-partials finalize
    (api.drift_scores) share one rollup."""
    labeled = feats.select(
        "user_id",
        label_of(list(_FEATS_RAW)).alias("lr"),
        label_of(list(_FEATS_DEG)).alias("ld"),
    )
    per_user = labeled.groupBy("user_id").agg(
        F.count("*").alias("n_segments"),
        F.sum((F.col("lr") == F.col("ld")).cast("bigint")).alias("n_agree"),
    )
    users = load_table(spark, sf_dir, "events").select("user_id").distinct()
    joined = users.join(per_user, "user_id", "left")
    n = F.coalesce(F.col("n_segments"), F.lit(0))
    a = F.coalesce(F.col("n_agree"), F.lit(0))
    return joined.select(
        "user_id",
        n.alias("n_segments"),
        a.alias("n_agree"),
        F.when(n > 0, F.round(a / n, 6)).alias("agree_rate"),
    )


def _kmeans_label_of(spark: SparkSession, sf_dir: str):
    """Trained-kmeans labeler: 4×4 center matrix folded into the plan
    as literals. Composed as ONE parsed SQL string from the SAME
    generators the DuckDB oracle uses (_kmeans_dists_sql +
    _argmin_case_sql — the r15 _dot_lit lesson: building the CASE/
    least chains through py4j cost ~0.4 s of every invocation's
    build). The oracle has hash-proven this exact text equals the old
    Column fold (leading +0 dropped on non-negative doubles, flat
    first-match CASE == nested whens). Shared by every degradation
    tier (one model, all tiers — the reference's design)."""
    C = _train_kmeans(spark, sf_dir)

    def label_of(f: list[str]) -> Column:
        names = [f"({d})" for d in _kmeans_dists_sql(C, f)]
        return F.expr(_argmin_case_sql(names))

    return label_of


def q_kmeans_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-signal kmeans label agreement between raw and PAA-degraded
    segments (the lossyML measurement). Emits (user_id, n_segments,
    n_agree, agree_rate)."""
    return _drift_result(spark, sf_dir, _kmeans_label_of(spark, sf_dir))


def _tree_label_of(spark: SparkSession, sf_dir: str):
    """Trained-tree labeler: three (index, threshold) literal pairs —
    the nested CASE is parsed from the oracle's own _tree_case_sql
    text (one py4j round trip; identical tree, same _dk literals).
    Shared by every degradation tier."""
    tree = _train_tree(spark, sf_dir)
    return lambda f: F.expr(_tree_case_sql(tree, f))


def q_tree_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-signal threshold-tree label agreement — the dtree family of
    the reference's lossyML matrix (buffer_pool.rs:798-938)."""
    return _drift_result(spark, sf_dir, _tree_label_of(spark, sf_dir))


def _knn_label_of(spark: SparkSession, sf_dir: str):
    """1-NN labeler (the one Python family): sample feature rows +
    kmeans labels broadcast; predict = label of the euclidean-nearest
    row (first-occurrence argmin), vectorized pandas UDF over the
    per-segment feature rows. Shared by every degradation tier."""
    X = _sample_features(spark, sf_dir)
    y = _kmeans_labels(X, _train_kmeans(spark, sf_dir))
    bc = spark.sparkContext.broadcast((X, y))

    @F.pandas_udf("int")
    def knn_label(m: pd.Series, s: pd.Series, mn: pd.Series, mx: pd.Series) -> pd.Series:
        import numpy as np

        Xt, yt = bc.value
        feats = np.stack(
            [m.to_numpy(), s.to_numpy(), mn.to_numpy(), mx.to_numpy()], axis=1
        )
        if not len(feats):
            return pd.Series([], dtype="int32")
        # explicit LEFT-ASSOCIATIVE term order (((t0+t1)+t2)+t3) — the
        # same fixed IEEE sequence the kmeans Column chain and the
        # DuckDB oracle use, so argmin ties cannot flip cross-engine
        # (np.sum's pairwise order would differ in the last ulp)
        sq = (feats[:, None, :] - Xt[None, :, :]) ** 2
        d2 = ((sq[:, :, 0] + sq[:, :, 1]) + sq[:, :, 2]) + sq[:, :, 3]
        return pd.Series(yt[d2.argmin(axis=1)]).astype("int32")

    return lambda f: knn_label(*f)


def q_knn_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-signal 1-NN label agreement — the knn family of the lossyML
    matrix (the reference's knn classifies each segment against its
    training dictionary, knn/mod.rs:303)."""
    return _drift_result(spark, sf_dir, _knn_label_of(spark, sf_dir))


def _forest_label_of(spark: SparkSession, sf_dir: str):
    """Bagged-forest labeler: FOREST_TREES depth-2 trees vote in the
    kmeans label space; majority vote, ties → smallest label. The
    whole vote/argmax expression is parsed from the oracle's own
    _forest_label_sql text — this was the worst py4j offender (the
    Column fold cost ~0.7 s of every q_forest_drift* invocation's
    build, as measured per phase (scripts/time_queries.py prints the
    build median): forest cells ran
    ~0.7 s slower than tree cells on identical tiers, the labeler
    being the only difference). The oracle has hash-proven the text
    equals the old fold (CASE→1/0 == cast(bool as int), leading +0
    dropped on ints, flat first-match CASE == nested whens). Shared
    by every degradation tier."""
    forest = _train_forest(spark, sf_dir)
    return lambda f: F.expr(_forest_label_sql(forest, f))


def q_forest_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-signal random-forest label agreement — the rforest family
    of the lossyML matrix."""
    return _drift_result(spark, sf_dir, _forest_label_of(spark, sf_dir))


# ---- FFT-tier drift (r12, VERDICT r11 #4) ---------------------------
# The reference's lossyML matrix scores each model family across
# SEVERAL degradation tiers — PAA, FFT, PLA, GRAIL
# (lossyML/src/file_io.rs:60-230) — while the four q_*_drift queries
# above score raw-vs-PAA only. This extends agreement scoring to the
# truncated-Fourier tier by reusing q_fft_recon's integer-lattice
# reconstruction (transforms.py — already hash-checked at both SFs):
# degraded features are plain exact-decimal mean/std/min/max of the
# reconstructed values per segment, raw features are computed from the
# SAME frame, so raw labels provably equal the PAA family's raw labels
# (sum over chunks of chunk sums == segment sum; pinned by pytest).


def _fft_segment_features(
    spark: SparkSession, sf_dir: str, recon_fn=None
) -> DataFrame:
    """Per-segment (raw, reconstructed) feature rows for any recon
    tier emitting the (user_id, pos, value, recon) contract —
    q_fft_recon by default, q_pla_recon for the PLA tier. Same
    engine-exact discipline as _segment_features: values and recons
    (the recon is on an exact 1e-6 grid by construction) round once
    onto the DECIMAL(38,6) grid, sums become exact 1e-6-unit integers,
    and the only float ops are the identical double divisions /
    sqrt. Segment alignment: the recon queries' `pos` IS row_number
    over (ts, event_id) per signal, so seg = pos div SEG_ROWS matches
    the PAA family's bucketing exactly."""
    if recon_fn is None:
        from timeseriesdb_spark.operators.transforms import q_fft_recon

        recon_fn = q_fft_recon
    rec = recon_fn(spark, sf_dir)
    base = rec.select(
        "user_id",
        F.expr(f"cast(cast(value as {DEC}) as double) AS v"),
        F.expr(f"cast(cast(recon as {DEC}) as double) AS rv"),
        F.expr(f"floor(pos / {SEG_ROWS}) AS seg"),
    )
    # aggregates + finalize parse from SQL text (r15 build-time pass;
    # the same ops the Column fold compiled to, D suffixes keep the
    # 1e6 divisors DOUBLE literals)
    segs = (
        base.groupBy("user_id", "seg")
        .agg(
            F.expr(
                f"cast(sum(cast(v as {DEC})) * 1000000 as long) AS su"
            ),
            F.expr(
                f"cast(sum(cast(v * v as {DEC})) * 1000000 as long)"
                " AS ssu"
            ),
            F.expr("min(v) AS f_min"),
            F.expr("max(v) AS f_max"),
            F.expr(
                f"cast(sum(cast(rv as {DEC})) * 1000000 as long) AS rsu"
            ),
            F.expr(
                f"cast(sum(cast(rv * rv as {DEC})) * 1000000 as long)"
                " AS rssu"
            ),
            F.expr("min(rv) AS d_min"),
            F.expr("max(rv) AS d_max"),
            F.expr("count(*) AS nn"),
        )
        .where(F.col("nn") == SEG_ROWS)
    )
    mean = "(cast(su as double) / nn / 1000000.0D)"
    m2 = "(cast(ssu as double) / nn / 1000000.0D)"
    dmean = "(cast(rsu as double) / nn / 1000000.0D)"
    dm2 = "(cast(rssu as double) / nn / 1000000.0D)"
    return segs.select(
        "user_id",
        "seg",
        F.expr(f"{mean} AS f_mean"),
        F.expr(
            f"sqrt(greatest({m2} - {mean} * {mean}, 0.0D)) AS f_std"
        ),
        F.col("f_min"),
        F.col("f_max"),
        F.expr(f"{dmean} AS d_mean"),
        F.expr(
            f"sqrt(greatest({dm2} - {dmean} * {dmean}, 0.0D)) AS d_std"
        ),
        F.col("d_min"),
        F.col("d_max"),
    )


def _pla_recon_fn():
    from timeseriesdb_spark.operators.transforms import q_pla_recon

    return q_pla_recon


# ---- RRD / BUFF-lossy tiers (r13, VERDICT r12 "What's missing #3") --
# The recoding daemon also ages segments through Rrd_sample and
# Bufflossy (methods/mod.rs:44-60, recoding_daemon.rs:143-225) even
# though lossyML's own experiment stops at PAA/FFT/PLA/GRAIL. Both
# decode trivially into the (user_id, pos, value, recon) contract, so
# the same factory closes the matrix: RRD reconstructs by
# carry-forward from the kept every-k-th row (rrd_sample.rs:20-60 —
# the q_rrd_error anchor), BUFF-lossy by precision-limited decode
# (split_double.rs:2434 — round(value, p), the q_precision_decode
# kernel whose cross-engine rounding parity is already hash-pinned).

RRD_DRIFT_K = 7       # windows.RRD_K: the daemon's decimation stride
BUFF_DRIFT_PREC = 0   # Buff(scale) decoded at integer precision


def _pos_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "user_id", "value", (F.row_number().over(w) - 1).alias("pos")
    )


def _rrd_recon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Carry-forward reconstruction of the RRD tier: the anchor of
    pos p is the value at p − (p mod k) — the first row of p's own
    (signal, pos div k) bucket, a ≤k-row window. recon is an
    ORIGINAL double (no arithmetic), so engine parity is a copy."""
    base = _pos_frame(spark, sf_dir)
    wc = Window.partitionBy(
        "user_id", F.expr(f"pos div {RRD_DRIFT_K}")
    ).orderBy("pos")
    return base.select(
        "user_id",
        "pos",
        "value",
        F.first("value").over(wc).alias("recon"),
    )


def _buff_recon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision-limited decode of the BUFF-lossy tier: recon =
    round(value, BUFF_DRIFT_PREC) — fewer byte-planes read back
    (split_double.rs:2434). Cross-engine rounding parity is the
    q_precision_decode pin."""
    return _pos_frame(spark, sf_dir).select(
        "user_id",
        "pos",
        "value",
        F.round("value", BUFF_DRIFT_PREC).alias("recon"),
    )


_RECON_FNS = {
    "fft": lambda: None,  # _fft_segment_features defaults to q_fft_recon
    "pla": _pla_recon_fn,
    "rrd": lambda: _rrd_recon,
    "buff": lambda: _buff_recon,
}

_POS_SQL = (
    "SELECT user_id, value, row_number() OVER ("
    "PARTITION BY user_id ORDER BY ts, event_id) - 1 AS pos FROM events"
)

_RECON_SQL = {
    "rrd": f"""SELECT user_id, pos, value,
               first_value(value) OVER (
                   PARTITION BY user_id, pos // {RRD_DRIFT_K}
                   ORDER BY pos) AS recon
               FROM ({_POS_SQL})""",
    "buff": f"""SELECT user_id, pos, value,
                round(value, {BUFF_DRIFT_PREC}) AS recon
                FROM ({_POS_SQL})""",
}


# ---- GRAIL-tier drift (r13, VERDICT r12 "What's missing #1") --------
# The last reference-measured lossyML cell family: file_io.rs
# read_grailfile (lossyML/src/file_io.rs:187-230) replaces each series
# by its GRAIL kernel embedding (kernel.rs:22-240) and the experiment
# scores the SAME model — fit on the origin representation — on the
# embedded data, comparing its labels against the origin labels
# (lossyML/src/main.rs:199-209: model.predict(&x) vs
# model.predict(&origin_x) where x is the GRAIL dataset). The repo
# twin: each complete segment embeds through the quantized-SINK GRAIL
# kernel (mlkernels._grail_params — already oracle-checked at signal
# granularity by q_grail_embed) against a dictionary of landmark
# SEGMENTS; EMBED_DIM = 4 coefficients stand in the degraded-feature
# slots, the raw slots stay the exact-decimal segment features, and
# the family's ONE trained model labels both — agreement per signal,
# the identical rollup as every other tier.

GRAIL_DICT_K = 8  # landmark signals; each contributes its first segment

# int64-safe per-segment value span (ADVICE r13, the THEILSEN_SPAN_CENTS
# discipline): the affine image y = SEG_ROWS·xi − Σxi has |y| ≤
# SEG_ROWS·span, so np.dot(y,y) and every np.correlate lag sum are
# bounded by SEG_ROWS³·span² = 64³·span². numpy WRAPS silently past
# 2⁶³ where the DuckDB oracle sums exactly in HUGEINT — and in
# production no oracle runs at all. 64³·(5·10⁶)² ≈ 6.6·10¹⁸ < 2⁶³,
# so a $50k span is the loud ceiling.
GRAIL_SPAN_CENTS = 5_000_000


def _check_grail_span(xi: "np.ndarray", where: str) -> None:
    span = int(xi.max()) - int(xi.min())
    if span > GRAIL_SPAN_CENTS:
        raise ValueError(
            f"GRAIL {where}: segment value span {span} cents exceeds "
            f"the int64-safe NCC bound (GRAIL_SPAN_CENTS="
            f"{GRAIL_SPAN_CENTS}; 64³·span² must stay below 2⁶³) — "
            "the exact-integer cross-correlation would wrap silently"
        )


def _grail_seg_dictionary(spark: SparkSession, sf_dir: str) -> list:
    """Segment-granular GRAIL dictionary: the FIRST complete segment
    (SEG_ROWS rows by (ts, event_id)) of each of the first
    GRAIL_DICT_K signals, as exact-integer affine images
    y = SEG_ROWS·xi − Σxi on the cents lattice (the mlkernels
    integer-lattice discipline — NCC is affine-invariant, so the
    z-normalized correlation is mathematically unchanged but every
    cross-term is an exact int64). Bounded driver pull:
    GRAIL_DICT_K × SEG_ROWS rows via a row_number prefilter."""

    def build() -> list:
        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        pdf = (
            load_table(spark, sf_dir, "events")
            .filter(F.col("user_id") < GRAIL_DICT_K)
            .select(
                "user_id", "value", F.row_number().over(w).alias("rn")
            )
            .where(F.col("rn") <= SEG_ROWS)
            .toPandas()
        )
        return _seg_dict_from_pdf(pdf)

    return derived(sf_dir, "mlscoring.grail_dict", build)


def _seg_dict_from_pdf(pdf: "pd.DataFrame") -> list:
    """Shared numpy body so the Spark pull and the DuckDB oracle read
    derive byte-identical dictionaries. Signals shorter than one
    segment contribute nothing (they have no complete segment to
    embed either)."""
    out = []
    for _, g in pdf.sort_values(["user_id", "rn"]).groupby(
        "user_id", sort=True
    ):
        if len(g) < SEG_ROWS:
            continue
        xi = np.floor(
            g["value"].to_numpy(dtype=np.float64) * 100.0 + 0.5
        ).astype(np.int64)
        _check_grail_span(xi, "dictionary")
        out.append(SEG_ROWS * xi - xi.sum())
    return out


def _grail_seg_params(int_dict: list) -> tuple:
    """_grail_params for the segment tier, with the projection padded
    by zero columns to the len(_FEATS_DEG) feature slots: with K <
    EMBED_DIM landmarks the eigendecomposition has only K columns, and
    both engines then emit 0.0 in the missing slots."""
    from timeseriesdb_spark.operators.mlkernels import _grail_params

    proj, e1, e2 = _grail_params(int_dict)
    pad = len(_FEATS_DEG) - proj.shape[1]
    return np.pad(proj, ((0, 0), (0, pad))), e1, e2


def _grail_seg_coeffs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(signal, complete segment) GRAIL embedding coefficients,
    emitted in the degraded-feature slots (d_mean..d_max ← coeff
    0..3) so _drift_rollup and every family labeler apply unchanged.
    Engine-exact: the max cross-correlation per (segment, landmark)
    is an exact int64 (np.correlate is direct convolution), the SINK
    kernel is the e1/e2 table-split lookup on the GRAIL_Q grid, and
    each coefficient is one left-associative chain over the broadcast
    projection literals — the q_grail_embed discipline at segment
    granularity."""
    from timeseriesdb_spark.operators.transforms import (
        packed_grouped_map,
    )

    int_dict = _grail_seg_dictionary(spark, sf_dir)
    proj, e1, e2 = _grail_seg_params(int_dict)  # 4 coeffs = d_* slots
    bc = spark.sparkContext.broadcast((int_dict, proj, e1, e2))
    qscale = 4096.0  # GRAIL_Q inline (closure rule)
    seg_rows = SEG_ROWS
    span_cap = GRAIL_SPAN_CENTS

    def embed(pdf: pd.DataFrame) -> pd.DataFrame:
        dseries, pmat, t1, t2 = bc.value
        x = pdf["value"].to_numpy(dtype=np.float64)
        xi_all = np.floor(x * 100.0 + 0.5).astype(np.int64)
        uid = int(pdf["user_id"].iloc[0])
        rows = []
        for s in range(0, len(xi_all) - seg_rows + 1, seg_rows):
            xi = xi_all[s : s + seg_rows]
            span = int(xi.max()) - int(xi.min())
            if span > span_cap:  # int64 NCC bound (closure-inlined)
                raise ValueError(
                    f"GRAIL embed: signal {uid} segment at row {s} has "
                    f"value span {span} cents > GRAIL_SPAN_CENTS="
                    f"{span_cap} — the exact-integer cross-correlation "
                    "(64³·span² ≥ 2⁶³) would wrap silently"
                )
            y = seg_rows * xi - xi.sum()
            sy = int(np.dot(y, y))
            kv = []
            for d in dseries:
                sd = int(np.dot(d, d))
                if sy == 0 or sd == 0:
                    q = 0
                else:
                    mc = int(np.correlate(y, d, mode="full").max())
                    nccc = float(mc) / (
                        np.sqrt(float(sy)) * np.sqrt(float(sd))
                    )
                    q = int(np.floor(nccc * qscale + 0.5))
                kv.append(float(t1[q // 64 + 64]) * float(t2[q % 64]))
            coeffs = []
            for dim in range(4):
                acc = kv[0] * float(pmat[0, dim])
                for j in range(1, len(kv)):
                    acc = acc + kv[j] * float(pmat[j, dim])
                coeffs.append(acc)
            rows.append((uid, s // seg_rows, *coeffs))
        return pd.DataFrame(
            rows,
            columns=["user_id", "seg", "d_mean", "d_std", "d_min", "d_max"],
        )

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "value"
    )
    return packed_grouped_map(
        ev,
        embed,
        "user_id bigint, seg bigint, d_mean double, d_std double,"
        " d_min double, d_max double",
    )


def _grail_tier_query(family: str):
    """One GRAIL cell of the lossyML matrix: raw slots = the
    exact-decimal segment features (provably equal to every other
    tier's raw labels), degraded slots = the segment's GRAIL
    embedding, labeled by the family's ONE shared trained model
    (main.rs:199-209 semantics — origin-fit model predicting the
    GRAIL representation)."""

    def q(spark: SparkSession, sf_dir: str) -> DataFrame:
        raw = _segment_features(spark, sf_dir).select(
            "user_id", "seg", *_FEATS_RAW
        )
        feats = raw.join(_grail_seg_coeffs(spark, sf_dir), ["user_id", "seg"])
        return _drift_rollup(
            spark, sf_dir, feats, _LABELERS[family](spark, sf_dir)
        )

    q.__name__ = f"q_{family}_drift_grail"
    q.__doc__ = _grail_tier_query.__doc__
    return q


_LABELERS = {
    "kmeans": _kmeans_label_of,
    "tree": _tree_label_of,
    "knn": _knn_label_of,
    "forest": _forest_label_of,
}


def _tier_query(family: str, tier: str):
    """One cell of the lossyML degradation matrix (lossyML/src/
    file_io.rs:60-230 scores every model family on every degradation
    level): label agreement between raw and TIER-reconstructed
    segment features, with the family's ONE trained model shared
    across tiers (the reference's design). tier='fft' scores
    q_fft_recon's truncated-DFT read-back, tier='pla' scores
    q_pla_recon's piecewise-linear LTTB read-back; the PAA tier is
    the original q_*_drift family."""

    def q(spark: SparkSession, sf_dir: str) -> DataFrame:
        feats = _fft_segment_features(spark, sf_dir, _RECON_FNS[tier]())
        return _drift_rollup(
            spark, sf_dir, feats, _LABELERS[family](spark, sf_dir)
        )

    q.__name__ = f"q_{family}_drift_{tier}"
    q.__doc__ = _tier_query.__doc__
    return q


q_kmeans_drift_fft = _tier_query("kmeans", "fft")
q_tree_drift_fft = _tier_query("tree", "fft")
q_knn_drift_fft = _tier_query("knn", "fft")
q_forest_drift_fft = _tier_query("forest", "fft")
q_kmeans_drift_pla = _tier_query("kmeans", "pla")
q_tree_drift_pla = _tier_query("tree", "pla")
q_knn_drift_pla = _tier_query("knn", "pla")
q_forest_drift_pla = _tier_query("forest", "pla")
q_kmeans_drift_grail = _grail_tier_query("kmeans")
q_tree_drift_grail = _grail_tier_query("tree")
q_knn_drift_grail = _grail_tier_query("knn")
q_forest_drift_grail = _grail_tier_query("forest")
q_kmeans_drift_rrd = _tier_query("kmeans", "rrd")
q_tree_drift_rrd = _tier_query("tree", "rrd")
q_knn_drift_rrd = _tier_query("knn", "rrd")
q_forest_drift_rrd = _tier_query("forest", "rrd")
q_kmeans_drift_buff = _tier_query("kmeans", "buff")
q_tree_drift_buff = _tier_query("tree", "buff")
q_knn_drift_buff = _tier_query("knn", "buff")
q_forest_drift_buff = _tier_query("forest", "buff")


QUERIES = {
    "q_kmeans_drift": q_kmeans_drift,
    "q_tree_drift": q_tree_drift,
    "q_knn_drift": q_knn_drift,
    "q_forest_drift": q_forest_drift,
    "q_kmeans_drift_fft": q_kmeans_drift_fft,
    "q_tree_drift_fft": q_tree_drift_fft,
    "q_knn_drift_fft": q_knn_drift_fft,
    "q_forest_drift_fft": q_forest_drift_fft,
    "q_kmeans_drift_pla": q_kmeans_drift_pla,
    "q_tree_drift_pla": q_tree_drift_pla,
    "q_knn_drift_pla": q_knn_drift_pla,
    "q_forest_drift_pla": q_forest_drift_pla,
    "q_kmeans_drift_grail": q_kmeans_drift_grail,
    "q_tree_drift_grail": q_tree_drift_grail,
    "q_knn_drift_grail": q_knn_drift_grail,
    "q_forest_drift_grail": q_forest_drift_grail,
    "q_kmeans_drift_rrd": q_kmeans_drift_rrd,
    "q_tree_drift_rrd": q_tree_drift_rrd,
    "q_knn_drift_rrd": q_knn_drift_rrd,
    "q_forest_drift_rrd": q_forest_drift_rrd,
    "q_kmeans_drift_buff": q_kmeans_drift_buff,
    "q_tree_drift_buff": q_tree_drift_buff,
    "q_knn_drift_buff": q_knn_drift_buff,
    "q_forest_drift_buff": q_forest_drift_buff,
}
ORACLES: dict[str, str] = {}

# ---- lazy DuckDB oracles (r9) ---------------------------------------
# The drift family became oracle-checkable once _segment_features moved
# to integer-unit arithmetic: the oracle replays the feature math as
# the identical IEEE sequence, retrains the models with the identical
# numpy kernels on the identical sample rows (read via DuckDB), and
# spells each label function as the same literal CASE/LEAST chains the
# Spark plan compiles to.

_FEATS_SQL = f"""
        rnn AS (
            SELECT user_id,
                   CAST(CAST(value AS DECIMAL(38,6)) AS DOUBLE) AS v,
                   row_number() OVER (
                       PARTITION BY user_id ORDER BY ts, event_id) - 1
                       AS rn
            FROM events
        ),
        chunks AS (
            SELECT user_id, rn // {SEG_ROWS} AS seg,
                   rn // {PAA_CHUNK} AS chunk,
                   CAST(sum(CAST(v AS DECIMAL(38,6))) * 1000000
                        AS BIGINT) AS s_u,
                   CAST(sum(CAST(v * v AS DECIMAL(38,6))) * 1000000
                        AS BIGINT) AS ss_u,
                   min(v) AS mn, max(v) AS mx, count(*) AS n
            FROM rnn GROUP BY 1, 2, 3
        ),
        cmd AS (
            SELECT *, CAST(cm_u AS DOUBLE) / 1000000.0 AS cm FROM (
                SELECT *, CASE WHEN s_u < 0
                               THEN -((2 * abs(s_u) + n) // (2 * n))
                               ELSE (2 * abs(s_u) + n) // (2 * n)
                          END AS cm_u
                FROM chunks
            )
        ),
        segs AS (
            SELECT user_id, seg,
                   CAST(sum(s_u) AS BIGINT) AS su,
                   CAST(sum(ss_u) AS BIGINT) AS ssu,
                   min(mn) AS f_min, max(mx) AS f_max,
                   CAST(sum(n) AS BIGINT) AS nn,
                   CAST(sum(cm_u) AS BIGINT) AS cs_u,
                   CAST(sum(CAST(cm * cm AS DECIMAL(38,6))) * 1000000
                        AS BIGINT) AS css_u,
                   min(cm) AS d_min, max(cm) AS d_max,
                   count(*) AS n_chunks
            FROM cmd GROUP BY 1, 2
            HAVING CAST(sum(n) AS BIGINT) = {SEG_ROWS}
        ),
        feats AS (
            SELECT user_id, seg,
                   CAST(su AS DOUBLE) / nn / 1000000.0 AS f_mean,
                   sqrt(greatest(CAST(ssu AS DOUBLE) / nn / 1000000.0
                        - (CAST(su AS DOUBLE) / nn / 1000000.0)
                        * (CAST(su AS DOUBLE) / nn / 1000000.0), 0.0))
                       AS f_std,
                   f_min, f_max,
                   CAST(cs_u AS DOUBLE) / n_chunks / 1000000.0 AS d_mean,
                   sqrt(greatest(CAST(css_u AS DOUBLE) / n_chunks
                            / 1000000.0
                        - (CAST(cs_u AS DOUBLE) / n_chunks / 1000000.0)
                        * (CAST(cs_u AS DOUBLE) / n_chunks / 1000000.0),
                        0.0)) AS d_std,
                   d_min, d_max
            FROM segs
        )
"""

_RAW_COLS = ("f_mean", "f_std", "f_min", "f_max")
_DEG_COLS = ("d_mean", "d_std", "d_min", "d_max")


def _dk(x) -> str:
    # exponent form parses DIRECTLY as DOUBLE (strtod, exact repr
    # round-trip); a bare decimal literal is DECIMAL first, and
    # DECIMAL-domain constant folding drifts 1 ulp (measured r11,
    # q_grail_embed) — CAST alone does not protect against it
    return f"{float(x):.17e}"


def _drift_tail_sql(labeled_sql: str) -> str:
    """Shared finalize: labeled (user_id, lr, ld) → the _drift_result
    rollup, every-signal rows included."""
    return f"""
        WITH {_FEATS_SQL},
        {labeled_sql},
        per_user AS (
            SELECT user_id, count(*) AS n_segments,
                   CAST(sum(CASE WHEN lr = ld THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_agree
            FROM labeled GROUP BY user_id
        ),
        users AS (SELECT DISTINCT user_id FROM events)
        SELECT u.user_id,
               CAST(coalesce(p.n_segments, 0) AS BIGINT) AS n_segments,
               CAST(coalesce(p.n_agree, 0) AS BIGINT) AS n_agree,
               CASE WHEN coalesce(p.n_segments, 0) > 0
                    THEN round(p.n_agree / p.n_segments, 6)
               END AS agree_rate
        FROM users u LEFT JOIN per_user p USING (user_id)
    """


def _oracle_sample(sf_dir: str) -> np.ndarray:
    """The training sample via DuckDB — byte-identical to
    _sample_features (same rows, same sort, same numpy body). Shared
    by every drift-oracle factory, which only call it on an SQL miss,
    so a fully-cached resolve_oracles() re-reads no parquet (ADVICE
    r9)."""
    import duckdb

    def build() -> np.ndarray:
        with duckdb.connect() as con:
            pdf = con.execute(
                f"SELECT user_id, ts, event_id, value "
                f"FROM '{sf_dir}/events.parquet' "
                f"WHERE user_id < {SAMPLE_SIGNALS}"
            ).fetch_df()
        return _sample_features_from_pdf(pdf)

    return derived(sf_dir, "mlscoring.oracle_sample", build)


def _kmeans_dists_sql(C: np.ndarray, cols) -> list[str]:
    return [
        " + ".join(
            f"({cols[j]} - {_dk(C[k, j])}) * ({cols[j]} - {_dk(C[k, j])})"
            for j in range(4)
        )
        for k in range(N_CLUSTERS)
    ]


def _argmin_case_sql(names: list[str]) -> str:
    m = f"least({', '.join(names)})"
    whens = " ".join(
        f"WHEN {names[k]} = {m} THEN {k}"
        for k in range(len(names) - 1)
    )
    return f"CASE {whens} ELSE {len(names) - 1} END"


def _kmeans_labeled_sql(sf_dir: str) -> str:
    """The kmeans dists+labeled CTE pair over `feats` — shared by the
    PAA factory and every reconstruction-tier factory."""
    C = _kmeans_centers_np(_oracle_sample(sf_dir))
    return f"""dists AS (
            SELECT user_id, seg,
                   {", ".join(f"{d} AS dr{k}" for k, d in
                              enumerate(_kmeans_dists_sql(C, _RAW_COLS)))},
                   {", ".join(f"{d} AS dd{k}" for k, d in
                              enumerate(_kmeans_dists_sql(C, _DEG_COLS)))}
            FROM feats
        ),
        labeled AS (
            SELECT user_id,
                   {_argmin_case_sql([f"dr{k}" for k in range(N_CLUSTERS)])}
                       AS lr,
                   {_argmin_case_sql([f"dd{k}" for k in range(N_CLUSTERS)])}
                       AS ld
            FROM dists
        )"""


def _tree_case_sql(tree, cols) -> str:
    (j0, t0), (jl, tl), (jr, tr) = tree
    return (
        f"CASE WHEN {cols[j0]} <= {_dk(t0)} THEN "
        f"(CASE WHEN {cols[jl]} <= {_dk(tl)} THEN 0 ELSE 1 END) "
        f"ELSE (CASE WHEN {cols[jr]} <= {_dk(tr)} THEN 2 ELSE 3 END) END"
    )


def _tree_labeled_sql(sf_dir: str) -> str:
    tree = _tree_np(_oracle_sample(sf_dir))
    return f"""labeled AS (
            SELECT user_id,
                   {_tree_case_sql(tree, _RAW_COLS)} AS lr,
                   {_tree_case_sql(tree, _DEG_COLS)} AS ld
            FROM feats
        )"""


def _forest_label_sql(forest, cols) -> str:
    votes = []
    for k in range(N_CLUSTERS):
        terms = []
        for (j0, t0), (jl, tl), (jr, tr), leaves in forest:
            leaf = (
                f"CASE WHEN {cols[j0]} <= {_dk(t0)} THEN "
                f"(CASE WHEN {cols[jl]} <= {_dk(tl)} THEN {leaves[0]}"
                f" ELSE {leaves[1]} END) "
                f"ELSE (CASE WHEN {cols[jr]} <= {_dk(tr)} THEN {leaves[2]}"
                f" ELSE {leaves[3]} END) END"
            )
            terms.append(f"(CASE WHEN ({leaf}) = {k} THEN 1 ELSE 0 END)")
        votes.append(" + ".join(terms))
    names = [f"({v})" for v in votes]
    m = f"greatest({', '.join(names)})"
    whens = " ".join(
        f"WHEN {names[k]} = {m} THEN {k}" for k in range(N_CLUSTERS - 1)
    )
    return f"CASE {whens} ELSE {N_CLUSTERS - 1} END"


def _forest_labeled_sql(sf_dir: str) -> str:
    X = _oracle_sample(sf_dir)
    forest = _forest_np(X, _kmeans_labels(X, _kmeans_centers_np(X)))
    return f"""labeled AS (
            SELECT user_id,
                   {_forest_label_sql(forest, _RAW_COLS)} AS lr,
                   {_forest_label_sql(forest, _DEG_COLS)} AS ld
            FROM feats
        )"""


def _knn_labeled_sql(sf_dir: str) -> str:
    """1-NN labels as a rank over the literal sample table: d² spelled
    in the SAME left-associative term order the pandas UDF computes,
    first-occurrence argmin as (d², sample idx) row_number."""
    X = _oracle_sample(sf_dir)
    y = _kmeans_labels(X, _kmeans_centers_np(X))
    rows = ", ".join(
        f"({i}, {_dk(X[i, 0])}, {_dk(X[i, 1])}, {_dk(X[i, 2])},"
        f" {_dk(X[i, 3])}, {int(y[i])})"
        for i in range(len(X))
    )

    def rank(cols) -> str:
        d2 = (
            f"({cols[0]} - s.m0) * ({cols[0]} - s.m0)"
            f" + ({cols[1]} - s.s0) * ({cols[1]} - s.s0)"
            f" + ({cols[2]} - s.n0) * ({cols[2]} - s.n0)"
            f" + ({cols[3]} - s.x0) * ({cols[3]} - s.x0)"
        )
        return (
            f"SELECT user_id, seg, y, row_number() OVER ("
            f"PARTITION BY user_id, seg ORDER BY {d2}, s.idx) AS rk"
            f" FROM feats CROSS JOIN sample s"
        )

    return f"""sample(idx, m0, s0, n0, x0, y) AS (VALUES {rows}),
        lr AS (SELECT user_id, seg, y AS lr FROM ({rank(_RAW_COLS)})
               WHERE rk = 1),
        ld AS (SELECT user_id, seg, y AS ld FROM ({rank(_DEG_COLS)})
               WHERE rk = 1),
        labeled AS (
            SELECT l.user_id, l.lr, d.ld
            FROM lr l JOIN ld d USING (user_id, seg)
        )"""


def _fft_drift_tail_sql(fft_sql: str, labeled_sql: str) -> str:
    """The FFT-tier twin of _drift_tail_sql: recon frame (the
    q_fft_recon oracle verbatim, nested as a CTE), exact-decimal
    segment features over (value, recon), the family's labeled CTE,
    then the every-signal agreement rollup."""
    return f"""
        WITH recon AS MATERIALIZED ({fft_sql}),
        rnn AS (
            SELECT user_id, pos,
                   CAST(CAST(value AS DECIMAL(38,6)) AS DOUBLE) AS v,
                   CAST(CAST(recon AS DECIMAL(38,6)) AS DOUBLE) AS rv
            FROM recon
        ),
        segs AS (
            SELECT user_id, pos // {SEG_ROWS} AS seg,
                   CAST(sum(CAST(v AS DECIMAL(38,6))) * 1000000
                        AS BIGINT) AS su,
                   CAST(sum(CAST(v * v AS DECIMAL(38,6))) * 1000000
                        AS BIGINT) AS ssu,
                   min(v) AS f_min, max(v) AS f_max,
                   CAST(sum(CAST(rv AS DECIMAL(38,6))) * 1000000
                        AS BIGINT) AS rsu,
                   CAST(sum(CAST(rv * rv AS DECIMAL(38,6))) * 1000000
                        AS BIGINT) AS rssu,
                   min(rv) AS d_min, max(rv) AS d_max,
                   count(*) AS nn
            FROM rnn GROUP BY 1, 2
            HAVING count(*) = {SEG_ROWS}
        ),
        feats AS (
            SELECT user_id, seg,
                   CAST(su AS DOUBLE) / nn / 1000000.0 AS f_mean,
                   sqrt(greatest(CAST(ssu AS DOUBLE) / nn / 1000000.0
                        - (CAST(su AS DOUBLE) / nn / 1000000.0)
                        * (CAST(su AS DOUBLE) / nn / 1000000.0), 0.0))
                       AS f_std,
                   f_min, f_max,
                   CAST(rsu AS DOUBLE) / nn / 1000000.0 AS d_mean,
                   sqrt(greatest(CAST(rssu AS DOUBLE) / nn / 1000000.0
                        - (CAST(rsu AS DOUBLE) / nn / 1000000.0)
                        * (CAST(rsu AS DOUBLE) / nn / 1000000.0), 0.0))
                       AS d_std,
                   d_min, d_max
            FROM segs
        ),
        {labeled_sql},
        per_user AS (
            SELECT user_id, count(*) AS n_segments,
                   CAST(sum(CASE WHEN lr = ld THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_agree
            FROM labeled GROUP BY user_id
        ),
        users AS (SELECT DISTINCT user_id FROM events)
        SELECT u.user_id,
               CAST(coalesce(p.n_segments, 0) AS BIGINT) AS n_segments,
               CAST(coalesce(p.n_agree, 0) AS BIGINT) AS n_agree,
               CASE WHEN coalesce(p.n_segments, 0) > 0
                    THEN round(p.n_agree / p.n_segments, 6)
               END AS agree_rate
        FROM users u LEFT JOIN per_user p USING (user_id)
    """


_LABELED_SQL = {
    "kmeans": _kmeans_labeled_sql,
    "tree": _tree_labeled_sql,
    "knn": _knn_labeled_sql,
    "forest": _forest_labeled_sql,
}


def _paa_oracle_sql(family: str, sf_dir: str) -> str:
    return _drift_tail_sql(_LABELED_SQL[family](sf_dir))


def _tier_oracle_sql(family: str, tier: str, sf_dir: str) -> str:
    """Oracle SQL for one (family, tier) cell: the family's labeled CTE
    over the tier's reconstruction frame. The FFT recon SQL is lazy
    (per-distinct-n twiddle tables); the PLA recon SQL is static (the
    LTTB selection needs no trained state) — only the family model
    makes either oracle lazy."""
    if tier == "fft":
        from timeseriesdb_spark.operators.transforms import _fft_recon_oracle

        recon = _fft_recon_oracle(sf_dir)
    elif tier == "pla":
        from timeseriesdb_spark.operators.transforms import (
            ORACLES as _T_ORACLES,
        )

        recon = _T_ORACLES["q_pla_recon"]
    else:
        recon = _RECON_SQL[tier]
    return _fft_drift_tail_sql(recon, _LABELED_SQL[family](sf_dir))


def _grail_seg_dictionary_ddb(sf_dir: str) -> tuple[list, list]:
    """The segment dictionary via DuckDB (the oracle path has no
    SparkSession): identical rows, identical numpy body. Returns
    (y arrays, qualifying user_ids in the same sorted order) — the
    ids drive the oracle's kernel-pivot columns so dict index j maps
    to the same landmark in both engines."""
    import duckdb

    con = duckdb.connect()
    pdf = con.execute(
        f"""SELECT user_id, value, rn FROM (
                SELECT user_id, value, row_number() OVER (
                    PARTITION BY user_id ORDER BY ts, event_id) AS rn
                FROM '{sf_dir}/events.parquet'
                WHERE user_id < {GRAIL_DICT_K})
            WHERE rn <= {SEG_ROWS}"""
    ).fetch_df()
    con.close()
    ids = sorted(
        int(u)
        for u, g in pdf.groupby("user_id", sort=True)
        if len(g) >= SEG_ROWS
    )
    return _seg_dict_from_pdf(pdf), ids


def _grail_oracle_sql(family: str, sf_dir: str) -> str:
    """Oracle SQL for one GRAIL cell: the q_grail_embed lattice
    replay (exact-int NCC per (segment, landmark), quantized-SINK
    e1·e2 table lookup, left-associative projection chains) at
    SEGMENT granularity, joined to the exact-decimal raw features and
    fed through the family's labeled CTE and the every-signal
    agreement tail."""
    int_dict, dict_ids = _grail_seg_dictionary_ddb(sf_dir)
    proj, e1, e2 = _grail_seg_params(int_dict)
    K = len(int_dict)
    e1rows = ", ".join(
        f"({h - 64}, {float(v):.17e})" for h, v in enumerate(e1)
    )
    e2rows = ", ".join(
        f"({l}, {float(v):.17e})" for l, v in enumerate(e2)
    )
    kcols = ", ".join(
        f"max(CASE WHEN dict_id = {dict_ids[j]} THEN kv END) AS k{j}"
        for j in range(K)
    )
    chains = []
    for dim, cname in enumerate(_FEATS_DEG):
        chain = f"(k0 * {float(proj[0, dim]):.17e})"
        for j in range(1, K):
            chain = f"({chain} + (k{j} * {float(proj[j, dim]):.17e}))"
        chains.append(f"{chain} AS {cname}")
    return f"""
    WITH ord AS MATERIALIZED (
        SELECT user_id,
               row_number() OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) - 1 AS rn,
               CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS xi,
               CAST(CAST(value AS DECIMAL(38,6)) AS DOUBLE) AS v
        FROM events
    ),
    comp AS MATERIALIZED (
        SELECT * FROM (
            SELECT user_id, rn // {SEG_ROWS} AS seg,
                   rn % {SEG_ROWS} AS j, xi, v,
                   count(*) OVER (
                       PARTITION BY user_id, rn // {SEG_ROWS}
                   ) AS n
            FROM ord)
        WHERE n = {SEG_ROWS}
    ),
    ys AS MATERIALIZED (
        SELECT user_id, seg, j, {SEG_ROWS} * xi - sx AS y
        FROM (SELECT user_id, seg, j, xi,
                     sum(xi) OVER (PARTITION BY user_id, seg) AS sx
              FROM comp)
    ),
    dt AS MATERIALIZED (
        SELECT user_id AS dict_id, j AS i, y AS d
        FROM ys WHERE user_id < {GRAIL_DICT_K} AND seg = 0
    ),
    nx AS (SELECT user_id, seg, sum(y * y) AS sy
           FROM ys GROUP BY 1, 2),
    nd AS (SELECT dict_id, sum(d * d) AS sd FROM dt GROUP BY 1),
    cc AS MATERIALIZED (
        SELECT x.user_id, x.seg, d.dict_id, x.j - d.i AS lag,
               sum(x.y * d.d) AS cc
        FROM ys x, dt d
        GROUP BY 1, 2, 3, 4
    ),
    mx AS (SELECT user_id, seg, dict_id, max(cc) AS mc
           FROM cc GROUP BY 1, 2, 3),
    qv AS (
        SELECT m.user_id, m.seg, m.dict_id,
               CASE WHEN nx.sy = 0 OR nd.sd = 0 THEN 0
                    ELSE CAST(floor(
                        CAST(m.mc AS DOUBLE)
                        / (sqrt(CAST(nx.sy AS DOUBLE))
                           * sqrt(CAST(nd.sd AS DOUBLE)))
                        * 4096.0 + 0.5) AS BIGINT) END AS q
        FROM mx m
        JOIN nx ON nx.user_id = m.user_id AND nx.seg = m.seg
        JOIN nd ON nd.dict_id = m.dict_id
    ),
    e1(h, v) AS (VALUES {e1rows}),
    e2(l, v) AS (VALUES {e2rows}),
    kvt AS (
        SELECT s.user_id, s.seg, s.dict_id, e1.v * e2.v AS kv
        FROM (SELECT user_id, seg, dict_id, q,
                     CAST(floor(q / 64.0) AS BIGINT) AS qh
              FROM qv) s
        JOIN e1 ON e1.h = s.qh
        JOIN e2 ON e2.l = s.q - 64 * s.qh
    ),
    kp AS (SELECT user_id, seg, {kcols} FROM kvt GROUP BY 1, 2),
    emb AS (SELECT user_id, seg, {", ".join(chains)} FROM kp),
    rawf AS (
        SELECT user_id, seg,
               CAST(su AS DOUBLE) / nn / 1000000.0 AS f_mean,
               sqrt(greatest(CAST(ssu AS DOUBLE) / nn / 1000000.0
                    - (CAST(su AS DOUBLE) / nn / 1000000.0)
                    * (CAST(su AS DOUBLE) / nn / 1000000.0), 0.0))
                   AS f_std,
               f_min, f_max
        FROM (
            SELECT user_id, seg,
                   CAST(sum(CAST(v AS DECIMAL(38,6))) * 1000000
                        AS BIGINT) AS su,
                   CAST(sum(CAST(v * v AS DECIMAL(38,6))) * 1000000
                        AS BIGINT) AS ssu,
                   min(v) AS f_min, max(v) AS f_max,
                   count(*) AS nn
            FROM comp GROUP BY 1, 2)
    ),
    feats AS (
        SELECT r.user_id, r.seg, f_mean, f_std, f_min, f_max,
               d_mean, d_std, d_min, d_max
        FROM rawf r
        JOIN emb e ON e.user_id = r.user_id AND e.seg = r.seg
    ),
    {_LABELED_SQL[family](sf_dir)},
    per_user AS (
        SELECT user_id, count(*) AS n_segments,
               CAST(sum(CASE WHEN lr = ld THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_agree
        FROM labeled GROUP BY user_id
    ),
    users AS (SELECT DISTINCT user_id FROM events)
    SELECT u.user_id,
           CAST(coalesce(p.n_segments, 0) AS BIGINT) AS n_segments,
           CAST(coalesce(p.n_agree, 0) AS BIGINT) AS n_agree,
           CASE WHEN coalesce(p.n_segments, 0) > 0
                THEN round(p.n_agree / p.n_segments, 6)
           END AS agree_rate
    FROM users u LEFT JOIN per_user p USING (user_id)
    """


LAZY_ORACLES = {}
for _family in ("kmeans", "tree", "knn", "forest"):
    _name = f"q_{_family}_drift"
    LAZY_ORACLES[_name] = lazy_oracle(_name, partial(_paa_oracle_sql, _family))
    for _tier in ("fft", "pla", "rrd", "buff"):
        _name = f"q_{_family}_drift_{_tier}"
        LAZY_ORACLES[_name] = lazy_oracle(
            _name, partial(_tier_oracle_sql, _family, _tier)
        )
    _name = f"q_{_family}_drift_grail"
    LAZY_ORACLES[_name] = lazy_oracle(_name, partial(_grail_oracle_sql, _family))
