"""Document chunking + mergeable distinct sketches — two scale
primitives the LLM-pipeline surface still lacked.

`q_chunk_documents` is the embedding-pipeline front door: split each
document into overlapping sliding word windows (chunk_id, chunk_text,
n_tokens) ready for an embedding model. Shape at 100 TB: one narrow
scan + one generator explode, NO shuffle — chunks inherit the input
partitioning, and the fan-out factor is words/stride (bounded, known).
Everything is built-in array ops (split/sequence/slice/concat_ws), so
the whole operator lives inside whole-stage codegen; the same
construction in DuckDB (string_split/generate_series/list_slice) makes
it hash-exact oracle-checkable.

`q_distinct_hll` is the mergeable-sketch rollup pattern (the scale
path behind q_distinct_count's exact answer): per (signal, day) HLL
sketches aggregated once at ingest time, then ANY time-range distinct
query is a cheap union of daily sketches instead of a re-scan of raw
data. The reference's distinct estimate builds a HashSet per sample
(predict/cr_predictor.rs:35-52) — exact but unmergeable; Apache
DataSketches HLL gives the associative-merge property that makes the
rollup tier work. Deterministic sketches ⇒ rollup-merge == direct
(pinned by pytest); cross-engine hash parity for the DataSketches
bytes is impossible (DuckDB's HLL is a different sketch), so the
driver records q_distinct_hll rows-only.

`q_hll_register_table` / `q_hll_estimate` (r11) are the FULLY
hash-checked twin: the same rollup shape with a seeded-md5 register
assignment (the q_countmin_rollup discipline), so the integer register
table AND the raw harmonic estimate are cross-engine exact — the
engine-specific part of "HLL can't hash-check" was only ever the
sketch's internal hash function.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from timeseriesdb_spark.functions.codecs import scaled_int
from timeseriesdb_spark.tables import load_table

CHUNK_WORDS = 32   # words per chunk (the embedding-model context)
CHUNK_STRIDE = 24  # window stride → CHUNK_WORDS - CHUNK_STRIDE words overlap


def chunk_documents(doc: DataFrame) -> DataFrame:
    """Sliding word-window chunks of a documents-shaped frame."""
    words = F.split(F.col("text"), " ")
    start = F.explode(
        F.sequence(F.lit(1), F.size(words), F.lit(CHUNK_STRIDE))
    ).alias("start")
    exploded = doc.select("doc_id", words.alias("words"), start)
    chunk = F.slice(F.col("words"), F.col("start"), CHUNK_WORDS)
    return exploded.select(
        "doc_id",
        F.floor((F.col("start") - 1) / F.lit(CHUNK_STRIDE))
        .cast("bigint")
        .alias("chunk_id"),
        F.concat_ws(" ", chunk).alias("chunk_text"),
        F.size(chunk).cast("bigint").alias("n_tokens"),
    )


def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-declared wrapper over :func:`chunk_documents`."""
    return chunk_documents(load_table(spark, sf_dir, "documents"))


def daily_distinct_sketches(ev: DataFrame) -> DataFrame:
    """The ingest-time rollup: one HLL sketch of the scaled value per
    (signal, day). This is the frame a 100 TB store would persist next
    to the AggStats summary table — bytes per (signal, day), not rows."""
    return ev.groupBy(
        "user_id", F.to_date("ts").alias("event_date")
    ).agg(F.hll_sketch_agg(scaled_int(F.col("value"))).alias("sketch"))


def q_distinct_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-signal distinct-value estimate answered FROM the daily
    sketch rollup (union-merge, never re-scanning raw events) — the
    associative partial/final shape of q_agg_stats, applied to the one
    aggregate (COUNT DISTINCT) that plain partial aggregation cannot
    split. Estimate is deterministic: pytest pins rollup == direct
    one-pass sketch exactly, and ±2% of the exact distinct count."""
    ev = load_table(spark, sf_dir, "events")
    return (
        daily_distinct_sketches(ev)
        .groupBy("user_id")
        .agg(
            F.hll_sketch_estimate(F.hll_union_agg(F.col("sketch"))).alias(
                "approx_distinct"
            )
        )
    )


HLL_IDX_CHARS = 2    # register index = 2 hex chars of md5 → m = 256
HLL_TAIL_CHARS = 15  # rho window = 15 hex chars = 60 bits (fits BIGINT)
HLL_M = 16 ** HLL_IDX_CHARS
# standard HLL bias constant α_m for m = 256, then pre-folded with
# m²·2^61 (the exact power-of-two scale of the integer harmonic sum):
# est = α·m²/Σ2^-ρ = (α·2^77) / S_int — ONE double multiply done here
# in Python, shipped to BOTH engines as the same literal, so the only
# runtime float op is a single identical division.
HLL_ALPHA = 0.7213 / (1 + 1.079 / HLL_M)
HLL_EST_NUM = HLL_ALPHA * float(2**77)


def _hll_registers(ev: DataFrame) -> DataFrame:
    """Deterministic seeded-md5 HLL register partials per (signal,
    day): register_idx = the first HLL_IDX_CHARS hex chars of
    md5(scaled value), rho = 1 + leading zero BITS of the next
    HLL_TAIL_CHARS hex chars, register value = max(rho). The
    q_countmin_rollup discipline (aggregates.py:340): rows first
    collapse onto the DISTINCT digest prefix (HLL registers only see
    distinct hashes, so the dedup is free correctness), hex-string
    registers so both engines agree without base conversion, and the
    leading-zero count is pure string arithmetic (zero-hex-chars × 4 +
    a nibble CASE) — no floats anywhere in the table."""
    pfx = F.substring(
        F.md5(scaled_int(F.col("value")).cast("string")),
        1,
        HLL_IDX_CHARS + HLL_TAIL_CHARS,
    )
    distinct = (
        ev.select(
            "user_id",
            F.date_trunc("day", F.col("ts")).alias("event_date"),
            pfx.alias("pfx"),
        )
        .distinct()
    )
    tail = F.substring(F.col("pfx"), HLL_IDX_CHARS + 1, HLL_TAIL_CHARS)
    zh = F.length(F.regexp_extract(tail, "^(0*)", 1))
    first = F.substring(tail, zh + 1, 1)
    # leading zero bits inside the first nonzero nibble (hex lowercase
    # in both engines); the all-zero tail hits the explicit branch
    rho = (
        F.when(zh == HLL_TAIL_CHARS, F.lit(4 * HLL_TAIL_CHARS + 1))
        .otherwise(
            zh * 4
            + F.when(first >= "8", F.lit(0))
            .when(first >= "4", F.lit(1))
            .when(first >= "2", F.lit(2))
            .otherwise(F.lit(3))
            + 1
        )
        .cast("int")
    )
    return (
        distinct.select(
            "user_id",
            "event_date",
            F.substring(F.col("pfx"), 1, HLL_IDX_CHARS).alias(
                "register_idx"
            ),
            rho.alias("rho"),
        )
        .groupBy("user_id", "event_date", "register_idx")
        .agg(F.max("rho").alias("rho"))
    )


def q_hll_register_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The persisted HLL rollup artifact itself, fully hash-checked:
    one row per non-empty (signal, day, register_idx) with the max-rho
    register value. This is the deterministic twin of q_distinct_hll's
    DataSketches tier — same mergeable-rollup shape (max is
    associative ⇒ day partials union-merge into any time range), but
    the register assignment is seeded md5, so DuckDB reproduces the
    INTEGER register table bit-for-bit (the r11 answer to "HLL can't
    hash-check": the estimate is engine-specific only when the
    sketch's hash is — seed it and it isn't). Bytes per signal-day ≤
    m = 256 rows regardless of event count."""
    return _hll_registers(load_table(spark, sf_dir, "events"))


def hll_estimate(registers: DataFrame) -> DataFrame:
    """Per-signal (user_id, n_regs, approx_distinct) from (user_id,
    register_idx, rho) registers of any day range: merge per signal
    via max(rho), then the raw harmonic estimate (q_hll_estimate)."""
    merged = registers.groupBy("user_id", "register_idx").agg(
        F.max("rho").alias("rho")
    )
    per_user = merged.groupBy("user_id").agg(
        F.count("*").alias("n_regs"),
        F.sum(F.expr("CAST(shiftleft(1L, 61 - rho) AS DECIMAL(38,0))"))
        .alias("s_nonzero"),
    )
    s_int = (
        F.col("s_nonzero")
        + (F.lit(HLL_M) - F.col("n_regs")).cast("decimal(38,0)")
        * F.lit(2**61).cast("decimal(38,0)")
    )
    return per_user.select(
        "user_id",
        F.col("n_regs").cast("bigint").alias("n_regs"),
        (F.lit(HLL_EST_NUM) / s_int.cast("double")).alias(
            "approx_distinct"
        ),
    )


def q_hll_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct estimate served FROM the register rollup, with the
    exact count joined alongside as a self-witness (the
    q_countmin_estimate pattern): day registers merge per signal via
    max(rho) — never a raw re-scan — then the raw HLL harmonic
    estimate est = α·m²/Σ2^-ρ is computed from EXACT integer sums
    (Σ scaled by 2^61 in DECIMAL(38,0); empty registers contribute
    2^61 each), with a single identical double division at the end, so
    the double itself is cross-engine exact. Emitted uncorrected (no
    linear-counting branch — that needs ln(), which is libm-specific);
    the serving layer applies corrections, the pytest property pins
    the corrected form within HLL error bounds of the exact count."""
    ev = load_table(spark, sf_dir, "events")
    est = hll_estimate(_hll_registers(ev))
    exact = ev.groupBy("user_id").agg(
        F.countDistinct(scaled_int(F.col("value"))).alias("exact_distinct")
    )
    return est.join(exact, "user_id").select(
        "user_id", "n_regs", "approx_distinct", "exact_distinct"
    )


# r12 (VERDICT r11 #5): q_distinct_hll is deliberately NOT declared.
# The seeded-md5 register tier (q_hll_register_table / q_hll_estimate)
# IS the declared HLL surface — same mergeable-rollup shape, fully
# hash-checked cross-engine. The DataSketches form stays in code as
# the serving-layer variant (smaller persisted bytes, bias-corrected
# estimate) and keeps its pytest twins (rollup == direct, ±2% of
# exact, streamed maintenance parity), but its sketch bytes are
# engine-specific by construction, so declaring it bought only a
# rows-only driver check the register tier already supersedes.
QUERIES = {
    "q_chunk_documents": q_chunk_documents,
    "q_hll_register_table": q_hll_register_table,
    "q_hll_estimate": q_hll_estimate,
}

_HLL_SCALED = "CAST(CAST(floor(value * 1000.0) AS BIGINT) AS VARCHAR)"
_HLL_RHO = f"""
    CASE WHEN zh = {HLL_TAIL_CHARS} THEN {4 * HLL_TAIL_CHARS + 1}
         ELSE zh * 4
              + (CASE WHEN substr(tail, zh + 1, 1) >= '8' THEN 0
                      WHEN substr(tail, zh + 1, 1) >= '4' THEN 1
                      WHEN substr(tail, zh + 1, 1) >= '2' THEN 2
                      ELSE 3 END)
              + 1 END
"""


def _hll_reg_sql(day: bool) -> str:
    """Shared register-table CTE chain: distinct digest prefixes →
    (register_idx, rho) — per (signal, day) when `day`, merged per
    signal otherwise (max over days of per-day max == max over the
    distinct-value union, so the merged form needs no day column)."""
    dcol = "date_trunc('day', ts) AS event_date," if day else ""
    dsel = "event_date," if day else ""
    return f"""
        d AS (
            SELECT DISTINCT user_id, {dcol}
                   substr(md5({_HLL_SCALED}), 1,
                          {HLL_IDX_CHARS + HLL_TAIL_CHARS}) AS pfx
            FROM events
        ),
        rr AS (
            SELECT user_id, {dsel}
                   substr(pfx, 1, {HLL_IDX_CHARS}) AS register_idx,
                   substr(pfx, {HLL_IDX_CHARS + 1}, {HLL_TAIL_CHARS})
                       AS tail,
                   length(regexp_extract(
                       substr(pfx, {HLL_IDX_CHARS + 1}, {HLL_TAIL_CHARS}),
                       '^(0*)', 1)) AS zh
            FROM d
        ),
        regs AS (
            SELECT user_id, {dsel} register_idx,
                   CAST(max({_HLL_RHO}) AS INT) AS rho
            FROM rr GROUP BY user_id, {dsel} register_idx
        )
    """


ORACLES = {
    "q_hll_register_table": f"""
        WITH {_hll_reg_sql(day=True)}
        SELECT user_id, event_date, register_idx, rho FROM regs
    """,
    "q_hll_estimate": f"""
        WITH {_hll_reg_sql(day=False)},
        per_user AS (
            SELECT user_id, CAST(count(*) AS BIGINT) AS n_regs,
                   sum(CAST(1 AS BIGINT) << (61 - rho))
                   + (CAST({HLL_M} AS HUGEINT) - count(*))
                     * CAST(CAST(1 AS BIGINT) << 61 AS HUGEINT) AS s_int
            FROM regs GROUP BY user_id
        ),
        exact AS (
            SELECT user_id,
                   CAST(count(DISTINCT CAST(floor(value * 1000.0) AS BIGINT))
                        AS BIGINT) AS exact_distinct
            FROM events GROUP BY user_id
        )
        SELECT p.user_id, p.n_regs,
               CAST({HLL_EST_NUM!r} AS DOUBLE) / CAST(p.s_int AS DOUBLE)
                   AS approx_distinct,
               e.exact_distinct
        FROM per_user p JOIN exact e ON e.user_id = p.user_id
    """,
    "q_chunk_documents": f"""
        WITH w AS (
            SELECT doc_id, string_split(text, ' ') AS words FROM documents
        ), s AS (
            SELECT doc_id, words,
                   unnest(generate_series(1, len(words), {CHUNK_STRIDE}))
                       AS start
            FROM w
        )
        SELECT doc_id,
               CAST(floor((start - 1) / {CHUNK_STRIDE}.0) AS BIGINT)
                   AS chunk_id,
               array_to_string(
                   list_slice(words, start,
                              least(start + {CHUNK_WORDS} - 1, len(words))),
                   ' ') AS chunk_text,
               CAST(least({CHUNK_WORDS}, len(words) - start + 1) AS BIGINT)
                   AS n_tokens
        FROM s
    """,
}
