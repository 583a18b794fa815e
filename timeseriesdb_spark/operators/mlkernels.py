"""Kernel-based analytics (SURVEY.md §2.9): GRAIL-style kernel
embedding (kernel.rs:22-240) and LCCE cross-correlation
(lcce.rs:15-100), re-expressed Spark-first.

Shape of both: a small per-run DICTIONARY of landmark series
(dict_pre_process, kernel.rs:104-130 — the reference samples dictionary
rows from the dataset) is computed once and broadcast; every signal is
then processed independently in a grouped-map pandas UDF (one Arrow
batch per signal, numpy/FFT inside — via transforms.packed_grouped_map,
which invokes Python per partition, not per group). That is the 100 TB
topology: tiny O(K²) eigen work on the driver, embarrassingly parallel
O(n·K·L log L) on executors, one shuffle on the signal key.

Both are ORACLE-CHECKED via the integer-lattice discipline (r11): NCC
is affine-invariant, so z-normalized series are replaced by exact
integer images y = n·xi − Σxi; cross-correlations are exact int64
sums (np.correlate direct convolution, not FFT); and GRAIL's SINK
kernel exp(γ·NCC) is quantized onto a GRAIL_Q argument grid and split
as e1[q div 64]·e2[q mod 64] — two tiny tables whose 193 doubles are
literals in the oracle, so the transcendental never has to replay
cross-engine. The K×K eigen-projection is trained driver-side and the
LAZY oracle factory reruns the identical numpy on the identical
DuckDB-read dictionary (the langid/mlscoring recipe). pytest keeps
the reference's loose-oracle property pins (segment.rs:882-906) on
top of the exact hash checks.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from timeseriesdb_spark.operators.transforms import packed_grouped_map
from timeseriesdb_spark.tables import derived, lazy_oracle, load_table

DICT_K = 8       # dictionary (landmark) series: the K lowest signal ids
GRAIL_GAMMA = 1.0
EMBED_DIM = 4    # keep top eigen-dimensions (rank truncation)
GRAIL_Q = 4096   # SINK-kernel argument grid: q = half-up(nccc·GRAIL_Q)


def _ncc_qmax(y: np.ndarray, d: np.ndarray) -> int:
    """Quantized max-NCC on the exact integer lattice (SINK/NCCc core,
    lcce.rs NCCC, argmax only): the max cross-correlation is an exact
    int64 (np.correlate is direct convolution, not FFT), the
    coefficient one fixed float chain CAST(mc)/(√sy·√sd), and the
    result its half-up GRAIL_Q-grid index — every step bit-replayable
    in DuckDB. |nccc| ≤ 1 by Cauchy-Schwarz on exact integers, so
    q ∈ [−GRAIL_Q, GRAIL_Q] even at the float boundary."""
    sy = int(np.dot(y, y))
    sd = int(np.dot(d, d))
    if sy == 0 or sd == 0:
        return 0
    mc = int(np.correlate(y, d, mode="full").max())
    nccc = float(mc) / (np.sqrt(float(sy)) * np.sqrt(float(sd)))
    return int(np.floor(nccc * float(GRAIL_Q) + 0.5))


def _grail_params(int_dict: list) -> tuple:
    """(proj, e1, e2) — the trained GRAIL state, shared VERBATIM by
    the Spark query (driver-side) and the lazy oracle factory so both
    engines receive bit-identical constants (the kmeans/PQ retraining
    precedent, similarity.py).

    The SINK kernel exp(γ·nccc) is DEFINED on the quantized grid as
    e1[q div 64]·e2[q mod 64] with e1[h] = exp(γ·64h/GRAIL_Q),
    e2[l] = exp(γ·l/GRAIL_Q) — exp(a+b) = exp(a)·exp(b), split so the
    oracle embeds 129+64 table doubles instead of 2·GRAIL_Q+1, and
    the kernel value is ONE float multiply of two table entries in
    both engines (no cross-engine transcendental). The K×K kernel
    matrix eigh and the U/√λ projection run in numpy on the driver;
    the factory reruns this exact function, so LAPACK reassociation
    never crosses an engine boundary."""
    e1 = np.exp(
        np.arange(-64, 65, dtype=np.float64) * (64.0 * GRAIL_GAMMA / GRAIL_Q)
    )
    e2 = np.exp(np.arange(0, 64, dtype=np.float64) * (GRAIL_GAMMA / GRAIL_Q))
    K = len(int_dict)
    W = np.empty((K, K))
    for i in range(K):
        for j in range(K):
            q = _ncc_qmax(int_dict[i], int_dict[j])
            W[i, j] = float(e1[q // 64 + 64]) * float(e2[q % 64])
    W = (W + W.T) / 2.0  # NCC max is symmetric; keeps eigh's contract
    vals, vecs = np.linalg.eigh(W)
    order = np.argsort(vals)[::-1][:EMBED_DIM]
    lam, U = np.maximum(vals[order], 1e-12), vecs[:, order]
    return U / np.sqrt(lam), e1, e2  # proj: K × EMBED_DIM


def q_grail_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GRAIL embedding (kernel.rs run_v0:78-101): SINK kernel values
    of each signal against the dictionary, projected through the
    dictionary kernel matrix's truncated eigendecomposition. Emits
    (user_id, dim, coeff) — a k-dim feature vector per signal usable
    for downstream classification/clustering.

    ORACLE-CHECKED (r11, was the last substantive rows-only query):
    quantized-SINK kernel over integer-lattice NCC (see _grail_params
    / _ncc_qmax), trained state replayed by the LAZY oracle factory,
    final embedding a fixed left-associative K-term chain over
    literal projection columns. The kernel closure inlines all lattice
    math (no module references — the cloudpickle rule)."""
    int_dict = _int_dictionary(spark, sf_dir)
    proj, e1, e2 = _grail_params(int_dict)
    bc = spark.sparkContext.broadcast((int_dict, proj, e1, e2))
    qscale = float(GRAIL_Q)

    def embed(pdf: pd.DataFrame) -> pd.DataFrame:
        dseries, pmat, t1, t2 = bc.value
        x = pdf["value"].to_numpy(dtype=np.float64)
        xi = np.floor(x * 100.0 + 0.5).astype(np.int64)
        y = len(xi) * xi - xi.sum()
        sy = int(np.dot(y, y))
        kv = []
        for d in dseries:
            sd = int(np.dot(d, d))
            if sy == 0 or sd == 0:
                q = 0
            else:
                mc = int(np.correlate(y, d, mode="full").max())
                nccc = float(mc) / (np.sqrt(float(sy)) * np.sqrt(float(sd)))
                q = int(np.floor(nccc * qscale + 0.5))
            kv.append(float(t1[q // 64 + 64]) * float(t2[q % 64]))
        uid = int(pdf["user_id"].iloc[0])
        rows = []
        for dim in range(pmat.shape[1]):
            acc = kv[0] * float(pmat[0, dim])
            for j in range(1, len(kv)):
                acc = acc + kv[j] * float(pmat[j, dim])
            rows.append((uid, dim, acc))
        return pd.DataFrame(rows, columns=["user_id", "dim", "coeff"])

    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_id", "value")
    return packed_grouped_map(ev, embed, "user_id bigint, dim bigint, coeff double")


def _int_dictionary(spark: SparkSession, sf_dir: str) -> list:
    """The dictionary on the EXACT INTEGER lattice: per landmark
    signal, y = n·xi − Σxi with xi = round(value·100) — an affine
    image of the z-normalized series (NCC is scale/shift-invariant,
    so the coefficient is mathematically identical), but exactly
    representable, which is what lets q_lcce carry a static DuckDB
    oracle and q_grail_embed a lazy one. Driver-side collect of K
    series only (the dictionary is small by construction; the corpus
    never moves)."""

    def build() -> list:
        pdf = (
            load_table(spark, sf_dir, "events")
            .filter(F.col("user_id") < DICT_K)
            .select("user_id", "ts", "event_id", "value")
            .toPandas()
            .sort_values(["user_id", "ts", "event_id"])
        )
        return _int_images(pdf)

    return derived(sf_dir, "mlkernels.int_dict", build)


def q_lcce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LCCE (lcce.rs:15-100): max normalized cross-correlation of every
    signal against every dictionary row. Emits
    (user_id, dict_id, nccc, best_lag).

    ORACLE-CHECKED (r11, the integer-lattice discipline): NCC is
    invariant to affine normalization, so z-normalized series are
    replaced by their exact-integer affine images y = n·xi − Σxi
    (values on the native 0.01 grid). The cross-correlation at every
    lag is then an EXACT int64 sum (np.correlate on int64 is exact
    direct convolution, not FFT), the argmax runs on the integer
    lattice (ties → most negative lag, both engines), and the emitted
    coefficient is one fixed float chain — CAST(cc)/(√Σy²·√Σd²) —
    identical in DuckDB. A constant signal (Σy² = 0) keeps the
    (0.0, 0) convention. O(n·m) per (signal, landmark) pair instead
    of the FFT's O((n+m)log) — bounded by per-signal chunk sizes,
    same at 100 TB where chunks are (signal, day)."""
    dict_series = _int_dictionary(spark, sf_dir)
    bc = spark.sparkContext.broadcast(dict_series)

    def correlate(pdf: pd.DataFrame) -> pd.DataFrame:
        dseries = bc.value
        x = pdf["value"].to_numpy(dtype=np.float64)
        xi = np.floor(x * 100.0 + 0.5).astype(np.int64)
        y = len(xi) * xi - xi.sum()
        sy = int(np.dot(y, y))
        uid = int(pdf["user_id"].iloc[0])
        rows = []
        for j, d in enumerate(dseries):
            sd = int(np.dot(d, d))
            if sy == 0 or sd == 0:
                rows.append((uid, j, 0.0, 0))
                continue
            # full linear cross-correlation, exact ints; index k maps
            # to lag k - (len(d) - 1), cc[k] = Σ_i y[i + lag]·d[i]
            cc = np.correlate(y, d, mode="full")
            k = int(cc.argmax())
            nccc = float(cc[k]) / (
                np.sqrt(float(sy)) * np.sqrt(float(sd))
            )
            rows.append((uid, j, nccc, k - (len(d) - 1)))
        return pd.DataFrame(
            rows, columns=["user_id", "dict_id", "nccc", "best_lag"]
        )

    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_id", "value")
    return packed_grouped_map(
        ev, correlate, "user_id bigint, dict_id bigint, nccc double, best_lag bigint"
    )


def _int_dictionary_ddb(sf_dir: str) -> list:
    """The q_lcce integer-lattice dictionary, read via DuckDB (the
    oracle path has no SparkSession): same parquet doubles, same
    (ts, event_id) order, same y = n·xi − Σxi images as
    _int_dictionary — equality of the two read paths is exactly what
    q_lcce's green hash pins (its oracle recomputes y in SQL from the
    same files)."""
    import duckdb

    con = duckdb.connect()
    pdf = con.execute(
        f"SELECT user_id, value FROM '{sf_dir}/events.parquet' "
        f"WHERE user_id < {DICT_K} ORDER BY user_id, ts, event_id"
    ).fetch_df()
    con.close()
    return _int_images(pdf)


def _int_images(pdf: pd.DataFrame) -> list:
    """y = n·xi − Σxi per user_id (ascending), xi = round(value·100),
    from rows already in (user_id, ts, event_id) order."""
    out = []
    for _, g in pdf.groupby("user_id", sort=True):
        xi = np.floor(
            g["value"].to_numpy(dtype=np.float64) * 100.0 + 0.5
        ).astype(np.int64)
        out.append(len(xi) * xi - xi.sum())
    return out


def _grail_sql(sf_dir: str) -> str:
    """DuckDB replay of the quantized-SINK GRAIL embedding: the lattice
    NCC pipeline is q_lcce's oracle with max(cc) in place of the
    argmax tie-break, the kernel is a 129+64-row VALUES lookup
    (e1[q div 64]·e2[q mod 64], one multiply), and the embedding is a
    per-dim left-associative chain over the factory-retrained
    projection literals. LAZY: proj/e1/e2 come from rerunning
    _grail_params on the DuckDB-read dictionary at oracle_sql() time."""
    proj, e1, e2 = _grail_params(_int_dictionary_ddb(sf_dir))
    K, D = proj.shape
    # {v:.17e} — exponent-form literals parse DIRECTLY as DOUBLE
    # (strtod, correctly rounded = exact repr round-trip). A bare
    # decimal literal is DECIMAL first, and DECIMAL-domain folding
    # of casts/products drifts 1 ulp (measured r11) — the HUGEINT
    # double-rounding gotcha in literal clothing.
    e1rows = ", ".join(
        f"({h - 64}, {float(v):.17e})" for h, v in enumerate(e1)
    )
    e2rows = ", ".join(
        f"({l}, {float(v):.17e})" for l, v in enumerate(e2)
    )
    kcols = ", ".join(
        f"max(CASE WHEN dict_id = {j} THEN kv END) AS k{j}"
        for j in range(K)
    )
    cases = []
    for dim in range(D):
        chain = f"(k0 * {float(proj[0, dim]):.17e})"
        for j in range(1, K):
            chain = (
                f"({chain} + (k{j} * {float(proj[j, dim]):.17e}))"
            )
        cases.append(f"WHEN {dim} THEN {chain}")
    case = " ".join(cases)
    dimvals = ", ".join(f"({d})" for d in range(D))
    return f"""
        WITH ord AS MATERIALIZED (
            SELECT user_id,
                   row_number() OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                   ) - 1 AS j,
                   CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS xi,
                   count(*) OVER (PARTITION BY user_id) AS n
            FROM events
        ),
        ys AS MATERIALIZED (
            SELECT user_id, j, n * xi - sx AS y
            FROM (
                SELECT user_id, j, xi, n,
                       sum(xi) OVER (PARTITION BY user_id) AS sx
                FROM ord
            )
        ),
        dt AS MATERIALIZED (
            SELECT user_id AS dict_id, j AS i, y AS d
            FROM ys WHERE user_id < {DICT_K}
        ),
        nx AS (SELECT user_id, sum(y * y) AS sy FROM ys GROUP BY user_id),
        nd AS (SELECT dict_id, sum(d * d) AS sd FROM dt GROUP BY dict_id),
        cc AS MATERIALIZED (
            SELECT x.user_id, d.dict_id, x.j - d.i AS lag,
                   sum(x.y * d.d) AS cc
            FROM ys x, dt d
            GROUP BY x.user_id, d.dict_id, x.j - d.i
        ),
        mx AS (
            SELECT user_id, dict_id, max(cc) AS mc
            FROM cc GROUP BY user_id, dict_id
        ),
        qv AS (
            SELECT m.user_id, m.dict_id,
                   CASE WHEN nx.sy = 0 OR nd.sd = 0 THEN 0
                        ELSE CAST(floor(
                            CAST(m.mc AS DOUBLE)
                            / (sqrt(CAST(nx.sy AS DOUBLE))
                               * sqrt(CAST(nd.sd AS DOUBLE)))
                            * {GRAIL_Q}.0 + 0.5) AS BIGINT) END AS q
            FROM mx m
            JOIN nx ON nx.user_id = m.user_id
            JOIN nd ON nd.dict_id = m.dict_id
        ),
        e1(h, v) AS (VALUES {e1rows}),
        e2(l, v) AS (VALUES {e2rows}),
        kvt AS (
            SELECT s.user_id, s.dict_id, e1.v * e2.v AS kv
            FROM (
                SELECT user_id, dict_id, q,
                       CAST(floor(q / 64.0) AS BIGINT) AS qh
                FROM qv
            ) s
            JOIN e1 ON e1.h = s.qh
            JOIN e2 ON e2.l = s.q - 64 * s.qh
        ),
        kp AS (SELECT user_id, {kcols} FROM kvt GROUP BY user_id)
        SELECT kp.user_id, dm.dim, CASE dm.dim {case} END AS coeff
        FROM kp CROSS JOIN (VALUES {dimvals}) AS dm(dim)
    """


QUERIES = {
    "q_grail_embed": q_grail_embed,
    "q_lcce": q_lcce,
}

LAZY_ORACLES = {"q_grail_embed": lazy_oracle("q_grail_embed", _grail_sql)}

# Both kernels converted (q_lcce r11, q_grail_embed late r11): the
# integer-lattice cross-correlation replays exactly — exact int sums
# per lag, integer argmax with the most-negative-lag tie-break (lcce)
# or plain max (grail), one fixed float chain for each coefficient.
ORACLES: dict[str, str] = {
    "q_lcce": f"""
        WITH ord AS MATERIALIZED (
            SELECT user_id,
                   row_number() OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                   ) - 1 AS j,
                   CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS xi,
                   count(*) OVER (PARTITION BY user_id) AS n
            FROM events
        ),
        ys AS MATERIALIZED (
            SELECT user_id, j, n * xi - sx AS y
            FROM (
                SELECT user_id, j, xi, n,
                       sum(xi) OVER (PARTITION BY user_id) AS sx
                FROM ord
            )
        ),
        dt AS MATERIALIZED (
            SELECT user_id AS dict_id, j AS i, y AS d
            FROM ys WHERE user_id < {DICT_K}
        ),
        nx AS (SELECT user_id, sum(y * y) AS sy FROM ys GROUP BY user_id),
        nd AS (SELECT dict_id, sum(d * d) AS sd FROM dt GROUP BY dict_id),
        cc AS MATERIALIZED (
            SELECT x.user_id, d.dict_id, x.j - d.i AS lag,
                   sum(x.y * d.d) AS cc
            FROM ys x, dt d
            GROUP BY x.user_id, d.dict_id, x.j - d.i
        ),
        pick AS (
            SELECT user_id, dict_id, lag, cc,
                   row_number() OVER (
                       PARTITION BY user_id, dict_id
                       ORDER BY cc DESC, lag
                   ) AS rn
            FROM cc
        )
        SELECT p.user_id, p.dict_id,
               CASE WHEN nx.sy = 0 OR nd.sd = 0 THEN 0.0
                    ELSE CAST(p.cc AS DOUBLE)
                         / (sqrt(CAST(nx.sy AS DOUBLE))
                            * sqrt(CAST(nd.sd AS DOUBLE))) END AS nccc,
               CASE WHEN nx.sy = 0 OR nd.sd = 0 THEN 0
                    ELSE p.lag END AS best_lag
        FROM pick p
        JOIN nx ON nx.user_id = p.user_id
        JOIN nd ON nd.dict_id = p.dict_id
        WHERE p.rn = 1
    """,
}
