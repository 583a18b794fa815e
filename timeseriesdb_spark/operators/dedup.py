"""Deduplication operators over `documents` — the core LLM-pipeline
surface (BASELINE.json north star): exact hash-dedup, word-shingle
Jaccard, MinHash+LSH banding, and SimHash fingerprints.

Scale design (the whole point at 100 TB):
- exact dedup: one hash-groupBy — Spark's partial agg dedups map-side.
- n-gram Jaccard: documents → exploded DISTINCT (doc, shingle) pairs;
  candidate generation is a shingle-key equi-join (shuffle on shingle,
  the classic inverted-index join), never an O(n²) crossJoin. Hot
  shingles (boilerplate) would emit df² pairs each — unbounded at
  corpus scale no matter how AQE splits the skew — so shingles with
  document frequency > SHINGLE_DF_CAP are dropped from the universe
  BEFORE any self-join (stop-shingles, the CCNet/RefinedWeb move).
  The cap rides the same shingle exchange as the join (a window
  count, no extra shuffle) and is mirrored verbatim in every oracle
  CTE, so the queries stay hash-checked with the cap active.
- MinHash+LSH: k=16 signatures; band hashing (4 bands × 4 rows) turns
  near-dup search into an equi-join on band keys — pairs only form
  within a bucket, which is what makes 100 TB feasible.
- SimHash: one grouped aggregation per document; Hamming-close
  fingerprints can then be blocked on fingerprint prefixes.

Engine parity: every hash is md5 (identical hex in Spark/DuckDB), so
even MinHash/LSH/SimHash are fully oracle-checked — no "trust me"
rows-only paths. The oracle SQL is generated from the same Python
constants that build the DataFrame plan, so the two can't drift.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from timeseriesdb_spark.operators.common import (
    array_ngrams,
    parallelize_small_scan,
)
from timeseriesdb_spark.tables import load_table

SHINGLE_K = 3            # words per shingle
SHINGLE_DF_CAP = 128     # stop-shingle bound: drop shingles in > CAP docs
JACCARD_THRESHOLD = 0.2  # report pairs at/above this similarity
MINHASH_K = 16           # signature length
LSH_BANDS = 4            # bands × rows_per_band == MINHASH_K
LSH_ROWS = MINHASH_K // LSH_BANDS


def _shingles(doc: DataFrame) -> DataFrame:
    """DISTINCT (doc_id, shingle) word-k-shingles. zip_with n-gram
    construction keeps it JVM-side (see common.array_ngrams for why
    not transform+slice); explode is the only row expansion. Dedup
    happens map-side via array_distinct BEFORE the explode — (doc_id,
    shingle) distinctness is per-document, so a global distinct()
    shuffle would move every shingle row for nothing."""
    words = F.split(F.col("text"), " ")
    sh = array_ngrams(words, SHINGLE_K)
    return doc.select(
        "doc_id", F.explode(F.array_distinct(sh)).alias("shingle")
    ).where(F.length("shingle") > 0)


def _shingles_sql(table: str = "documents") -> str:
    """Shingle CTE body over any documents-shaped relation `table`."""
    return f"""
    SELECT DISTINCT doc_id, shingle FROM (
        SELECT doc_id,
               w || ' ' || lead(w, 1) OVER (PARTITION BY doc_id ORDER BY i)
                 || ' ' || lead(w, 2) OVER (PARTITION BY doc_id ORDER BY i)
                   AS shingle
        FROM (
            SELECT doc_id,
                   unnest(string_split(text, ' ')) AS w,
                   generate_subscripts(string_split(text, ' '), 1) AS i
            FROM {table}
        )
    ) WHERE shingle IS NOT NULL
"""


_SHINGLES_SQL = _shingles_sql()
# NOTE: lead-based trigram == slice-based trigram for K=3; keep in sync
# with SHINGLE_K.


def capped_shingles(doc: DataFrame) -> DataFrame:
    """(doc_id, shingle) universe with stop-shingles removed: any
    shingle whose document frequency exceeds SHINGLE_DF_CAP is
    boilerplate and would emit df² rows from the inverted-index
    self-join — the one blowup AQE skew-splitting can parallelize but
    never shrink. The df count is a window over the same shingle
    hash-partitioning the downstream self-join needs, so the cap adds
    a sort but NO extra exchange (the repartition is also what pins
    the join to shuffle-hash instead of a corpus-scale broadcast)."""
    sh = _shingles(doc).repartition("shingle")
    w = Window.partitionBy("shingle")
    return (
        sh.withColumn("_df", F.count("*").over(w))
        .where(F.col("_df") <= SHINGLE_DF_CAP)
        .drop("_df")
    )


def _capped_shingles_sql(table: str = "documents") -> str:
    """Oracle twin of capped_shingles — identical df-cap semantics."""
    return f"""
    SELECT doc_id, shingle FROM (
        SELECT doc_id, shingle,
               count(*) OVER (PARTITION BY shingle) AS df
        FROM ({_shingles_sql(table)})
    ) WHERE df <= {SHINGLE_DF_CAP}
"""


_CAPPED_SHINGLES_SQL = _capped_shingles_sql()


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: group by content hash, keep the min doc_id per
    group (the canonical survivor), report group size."""
    doc = load_table(spark, sf_dir, "documents")
    return doc.groupBy(F.md5("text").alias("content_hash")).agg(
        F.count("*").alias("n_copies"),
        F.min("doc_id").alias("keep_doc_id"),
    )


def ngram_jaccard_pairs(doc: DataFrame) -> DataFrame:
    """Word-3-shingle Jaccard near-dup pairs via inverted-index join:
    |A∩B| from the shingle equi-join, |A∪B| = |A|+|B|-|A∩B|, both
    over the stop-shingle-capped universe (capped_shingles — sizes
    and intersections use the SAME universe, so the ratio stays a
    true Jaccard of the capped sets). Integer counts → the ratio is
    engine-exact before the final round."""
    # capped_shingles repartitions on the join key: (1) pins the
    # inverted-index join to a shuffle join — Catalyst's size estimate
    # would otherwise BROADCAST the exploded shingle set, which dies
    # at corpus scale; (2) at RUNTIME the corpus is scanned and
    # shingled exactly once: AQE materializes the shingle shuffle as
    # one query stage and the other self-join/sizes branches become
    # ReusedQueryStages (see q_ngram_jaccard's final adaptive plan in
    # `python scripts/dump_plans.py` output — the
    # PRE-execution plan shows the branches expanded, which
    # over-counts scans). Keeping n_sh as a separate tiny aggregation
    # off the same reused exchange beats carrying size(shingle_array)
    # on every exploded row: exploding an attribute (vs. an inline
    # expression) triggers InferFiltersFromGenerate + pushdown, which
    # re-inlines the array construction into the pushed filter and
    # rebuilds it ~3× per doc (measured: 2.7s → 4.2s at sf0.1).
    sh = capped_shingles(doc)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.hint("shuffle_hash")
        .join(b, (F.col("a.shingle") == F.col("b.shingle"))
              & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count("*").alias("n_inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    jac = (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_inter")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter")).cast("double"),
                6,
            ),
        )
        .where(F.col("jaccard") >= JACCARD_THRESHOLD)
    )
    return jac.select("doc_a", "doc_b", "jaccard")


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ngram_jaccard_pairs(
        parallelize_small_scan(load_table(spark, sf_dir, "documents"), spark)
    )


CONTAIN_THRESHOLD = 0.5  # report (a ⊂ b)-style overlap at/above this


def ngram_containment_pairs(doc: DataFrame) -> DataFrame:
    """Asymmetric n-gram CONTAINMENT |A∩B| / |A| — catches what
    Jaccard structurally cannot: a short document quoted inside a much
    longer one scores near 1.0 here but near 0 on Jaccard (the union
    is dominated by the long side). Emitted directionally (doc_a's
    shingles contained in doc_b, a ≠ b both directions) over the same
    stop-shingle-capped inverted-index shuffle join as
    ngram_jaccard_pairs — candidate pairs only ever form on shared
    non-boilerplate shingles.

    The candidate join runs in the HALF-SPACE doc_a < doc_b and the
    aggregated counts are mirrored afterwards (r15, §2.3 "shuffle
    fewer bytes"): |A∩B| is symmetric, so the `!=` join emitted every
    shared-shingle instance TWICE — 2× the join probe output, 2× the
    pair-partial shuffle and 2× the aggregate groups (the dominant
    cost at 10× data: 225M directed pair rows at sf1). Mirroring rides
    the SAME aggregate output via an inline generator (one struct
    array per row — a union of two agg branches would run the final
    aggregate twice; exchange reuse only covers the shuffle below it);
    the directional result set is identical row-for-row."""
    sh = capped_shingles(doc)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    half = (
        a.hint("shuffle_hash")
        .join(b, (F.col("a.shingle") == F.col("b.shingle"))
              & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count("*").alias("n_inter"))
    )
    inter = half.select(
        F.explode(
            F.array(
                F.struct(F.col("doc_a"), F.col("doc_b")),
                F.struct(
                    F.col("doc_b").alias("doc_a"),
                    F.col("doc_a").alias("doc_b"),
                ),
            )
        ).alias("p"),
        "n_inter",
    ).select("p.doc_a", "p.doc_b", "n_inter")
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    return (
        inter.join(sa, "doc_a")
        .withColumn(
            "containment",
            F.round(F.col("n_inter") / F.col("n_a").cast("double"), 6),
        )
        .where(F.col("containment") >= CONTAIN_THRESHOLD)
        .select("doc_a", "doc_b", "n_inter", "containment")
    )


def q_ngram_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ngram_containment_pairs(
        parallelize_small_scan(load_table(spark, sf_dir, "documents"), spark)
    )


SLICES_PER_MD5 = 4  # 4 × 8 hex chars (32 bits) per digest


def _sig_cols():
    """(column_name, seed_prefix, hex_offset) per MinHash lane.

    One md5 yields FOUR 32-bit lanes (hex slices) instead of one —
    hashing is the dominant cost of MinHash at corpus scale, and
    k/4 digests per shingle give the same k independent-enough
    permutations (one-permutation-hashing style slicing). 32-bit
    lanes are ample for min-wise estimation; the oracle SQL mirrors
    the construction exactly."""
    return [
        (f"s{i:02d}", f"{i // SLICES_PER_MD5}:", (i % SLICES_PER_MD5) * 8 + 1)
        for i in range(MINHASH_K)
    ]


def minhash_signatures(doc: DataFrame) -> DataFrame:
    """k=16 MinHash signature matrix for any documents-shaped frame.

    The 16 lane aggregates parse from SQL text (r15 build-time pass:
    ~80 py4j Column ops → 16 expr() parses; the lanes are the exact
    oracle text, and the shared md5 per seed dedups in codegen's
    subexpression elimination exactly as the shared Column object
    did)."""
    sh = _shingles(doc)
    aggs = [
        F.expr(
            f"min(substring(md5(concat('{seed}', shingle)), {off}, 8))"
            f" AS {name}"
        )
        for name, seed, off in _sig_cols()
    ]
    return sh.groupBy("doc_id").agg(*aggs)


def minhash_signatures_rowwise(
    doc: DataFrame, carry: tuple = (), keep_empty: bool = False
) -> DataFrame:
    """The same k=16 signature matrix computed PER ROW — no explode, no
    groupBy, no shuffle — so it runs on a STREAM (stateless) or fused
    into any per-document projection. Values are identical to
    :func:`minhash_signatures` (pinned by test).

    Construction: one `aggregate()` per md5 digest makes a single pass
    over the shingle array maintaining 4 slice-minima (hash work
    identical to the grouped path: k/4 digests per shingle). All
    digests are computed inside ONE struct behind an
    `explode(array(struct))` generator barrier — without it, Catalyst's
    projection collapse would inline the shingle chain into every lane
    reference and re-tokenize each document 16× (measured 3× slower)."""
    words = F.split(F.col("text"), " ")
    sh = F.filter(
        F.array_distinct(array_ngrams(words, SHINGLE_K)),
        lambda x: F.length(x) > 0,
    )
    n_digests = MINHASH_K // SLICES_PER_MD5

    def digest_mins(d: int) -> Column:
        init = F.array(*[F.lit(None).cast("string")] * SLICES_PER_MD5)

        def merge(acc: Column, s: Column) -> Column:
            h = F.md5(F.concat(F.lit(f"{d}:"), s))
            lanes = F.array(
                *[F.substring(h, i * 8 + 1, 8) for i in range(SLICES_PER_MD5)]
            )
            return F.zip_with(
                acc, lanes,
                lambda a, l: F.when(a.isNull() | (l < a), l).otherwise(a),
            )

        return F.aggregate(sh, init, merge)

    packed = F.struct(
        F.col("doc_id").alias("doc_id"),
        *[F.col(c).alias(c) for c in carry],
        F.size(sh).alias("n_sh"),
        *[digest_mins(d).alias(f"d{d}") for d in range(n_digests)],
    )
    ex = doc.select(F.explode(F.array(packed)).alias("s"))
    cols = [F.col("s.doc_id").alias("doc_id")]
    cols += [F.col(f"s.{c}").alias(c) for c in carry]
    for name, seed, off in _sig_cols():
        d = int(seed.split(":")[0])
        cols.append(F.col(f"s.d{d}").getItem((off - 1) // 8).alias(name))
    if not keep_empty:
        # shingle-less docs have all-null lanes; the grouped path has
        # no row for them at all. keep_empty=True retains them (null
        # lanes match nothing — the right semantics for a dedup probe).
        ex = ex.where(F.col("s.n_sh") > 0)
    return ex.select(*cols)


def _minhash_sql(table: str = "documents") -> str:
    return (
        "SELECT doc_id, "
        + ", ".join(
            f"min(substr(md5('{seed}' || shingle), {off}, 8)) AS {name}"
            for name, seed, off in _sig_cols()
        )
        + f" FROM ({_shingles_sql(table)}) GROUP BY doc_id"
    )


_MINHASH_SQL = _minhash_sql()


def q_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The k=16 MinHash signature matrix itself (one row per doc)."""
    return minhash_signatures(
        parallelize_small_scan(load_table(spark, sf_dir, "documents"), spark)
    )


def lsh_bands(sig: DataFrame) -> DataFrame:
    """Explode a signature frame into (doc_id, signature…, band_key)
    rows — the frame a production pipeline PERSISTS (partitioned by
    band_key) so later batches probe it without recomputing corpus
    signatures."""
    names = [n for n, _, _ in _sig_cols()]
    keys = ", ".join(
        f"concat('b{b}:', md5(concat_ws('|', "
        + ", ".join(names[b * LSH_ROWS : (b + 1) * LSH_ROWS])
        + ")))"
        for b in range(LSH_BANDS)
    )
    return sig.select(
        "doc_id",
        *names,
        F.expr(f"explode(array({keys}))").alias("band_key"),
    )


def _est_jaccard() -> Column:
    names = [n for n, _, _ in _sig_cols()]
    hits = " + ".join(
        f"(CASE WHEN a.{n} = b.{n} THEN 1 ELSE 0 END)" for n in names
    )
    return F.expr(f"({hits}) / {float(MINHASH_K)!r}D")


def lsh_pairs(doc: DataFrame) -> DataFrame:
    """LSH candidate pairs: docs sharing ≥1 of 4 band keys, scored by
    estimated Jaccard (fraction of equal signature components). The
    band join is the scale path — pairs never form across buckets."""
    bands = lsh_bands(minhash_signatures(doc))
    a = bands.alias("a")
    b = bands.alias("b")
    est = _est_jaccard()
    return (
        a.join(b, (F.col("a.band_key") == F.col("b.band_key"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.round(est, 6).alias("est_jaccard"),
        )
        .distinct()
    )


def q_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-declared wrapper over :func:`lsh_pairs`."""
    return lsh_pairs(
        parallelize_small_scan(load_table(spark, sf_dir, "documents"), spark)
    )


# Jaccard thresholds (in millionths) the LSH candidate set is graded
# against — brackets the CC_MIN_EST=0.5 operating point.
LSH_EVAL_T_MICROS = [200_000, 350_000, 500_000, 650_000, 800_000]


def q_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grade the LSH candidate generator against exact truth — the
    dedup twin of q_ann_recall: at each Jaccard threshold t, truth =
    pairs whose EXACT capped-universe Jaccard is >= t (the same
    universe q_ngram_jaccard scores, so the metric grades the sketch
    against the business definition of near-dup, not against itself),
    recall = caught/truth and precision = caught/candidates, where
    caught = truth pairs sharing >= 1 LSH band key.

    Engine-exact throughout: the threshold test is the integer
    comparison n_inter * 1e6 >= t_micros * n_union (never a float
    Jaccard), and recall/precision are half-up integer millionths —
    so the whole evaluation hash-checks against DuckDB.

    Scale: both pair generators are the already-measured linear paths
    (SCALING.md — shared-shingle join and band join; pairs only ever
    form on shared non-boilerplate shingles / shared buckets). The
    evaluation overlay is asymmetric BY CONSTRUCTION: the truth frame
    at the lowest graded threshold is every shared-shingle pair
    (~280× the candidate count on the test corpus, 16× more at the
    ×16 probe) while the candidate frame is the sketch-positive
    decision set — so the overlay is a broadcast LEFT join of the
    tiny candidate frame ONTO the truth frame, and the truth frame
    flows scan→join→partial-agg without ever crossing another
    exchange or being checkpointed (the r8 full-outer + checkpoint
    shape materialized the big frame twice and shuffled it once —
    measured 11 s → ~6 s at the ×16 corpus probe). Candidate-only
    pairs share no capped shingle (exact Jaccard 0), so with all
    thresholds positive they contribute to n_cand only — counted
    from the once-checkpointed candidate frame, not by re-deriving
    the pair pipelines."""
    assert min(LSH_EVAL_T_MICROS) > 0, (
        "t=0 would count candidate-only pairs as truth; the broadcast "
        "left-join overlay assumes all graded thresholds are positive"
    )
    doc = parallelize_small_scan(
        load_table(spark, sf_dir, "documents"), spark
    )
    sh = capped_shingles(doc)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.hint("shuffle_hash")
        .join(b, (F.col("a.shingle") == F.col("b.shingle"))
              & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count("*").alias("n_inter"))
    )
    truth = (
        inter.join(
            sizes.select(
                F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a")
            ),
            "doc_a",
        )
        .join(
            sizes.select(
                F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b")
            ),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            "n_inter",
            (F.col("n_a") + F.col("n_b") - F.col("n_inter")).alias("n_union"),
        )
    )
    # Checkpoint ONLY the tiny candidate frame (it feeds both the
    # broadcast overlay and the n_cand count — without this the
    # signature pipeline would re-derive for the count job); the big
    # truth frame is consumed in one scan→join→partial-agg pass.
    cand = (
        lsh_pairs(doc)
        .select("doc_a", "doc_b", F.lit(1).alias("is_cand"))
        .localCheckpoint()
    )
    # No explicit broadcast hint: candidate pairs grow ~linearly with
    # the corpus (measured EXACTLY 16.0× at ×16, SCALING.md), so a
    # forced F.broadcast would eventually hit the 8 GB broadcast wall.
    # The frame is localCheckpoint()ed, so AQE sees its TRUE size and
    # picks broadcast while it's small, shuffle once it isn't
    # (ADVICE r9).
    merged = truth.join(cand, ["doc_a", "doc_b"], "left")
    scored = merged.select(
        F.coalesce("is_cand", F.lit(0)).alias("is_cand"),
        "n_inter",
        "n_union",
        F.explode(
            F.array(*[F.lit(t) for t in LSH_EVAL_T_MICROS])
        ).alias("t_micros"),
    ).select(
        "t_micros",
        "is_cand",
        (
            F.col("n_inter") * F.lit(1_000_000)
            >= F.col("t_micros") * F.col("n_union")
        )
        .cast("int")
        .alias("is_truth"),
    )
    # n_cand is threshold-independent (candidate-only pairs are never
    # truth at positive t): a 1-row broadcast instead of fanning the
    # candidate rows through the big aggregate
    ncand = cand.agg(F.count("*").alias("n_cand"))
    agg = (
        scored.groupBy("t_micros")
        .agg(
            F.sum("is_truth").alias("n_truth"),
            F.sum(F.col("is_truth") * F.col("is_cand")).alias("n_caught"),
        )
        .crossJoin(F.broadcast(ncand))
    )
    return agg.select(
        "t_micros",
        "n_truth",
        "n_cand",
        "n_caught",
        F.when(
            F.col("n_truth") > 0,
            F.expr("(2 * n_caught * 1000000 + n_truth) div (2 * n_truth)"),
        ).alias("recall_micros"),
        F.when(
            F.col("n_cand") > 0,
            F.expr("(2 * n_caught * 1000000 + n_cand) div (2 * n_cand)"),
        ).alias("precision_micros"),
    )


SIMHASH_BITS = 32  # one bit per md5 hex nibble (high bit of the nibble)


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash document fingerprints: per distinct word, bit j is the
    high bit of the j-th hex nibble of md5(word); the document bit is
    the majority vote. Emitted as a 32-char '01' string (engine-safe:
    no 64-bit unsigned arithmetic needed)."""
    return simhash_fingerprints(load_table(spark, sf_dir, "documents"))


def simhash_fingerprints(doc: DataFrame) -> DataFrame:
    # per-doc word dedup happens map-side via array_distinct BEFORE the
    # explode — (doc_id, w) distinctness is per-document, so a global
    # distinct() would shuffle every word row for nothing (same
    # reasoning as _shingles; measured 1.2 s → 0.9 s at sf0.1)
    #
    # Bit extraction is integer arithmetic, not string ops: the digest's
    # 32 hex chars become four 32-bit longs (conv is evaluated once per
    # word in the projection; the 32 per-bit sums are shift/mask over
    # those attributes) — nibble j's high bit is bit (7-j%8)*4+3 of
    # chunk j//8. Same bits, same fingerprints as the substring/isin
    # form, ~2× faster at sf0.1.
    # All three expression tiers parse from SQL text (r15 build-time
    # pass: the 4 conv lanes + 32 bit sums + 32 majority cases were
    # ~300 py4j round trips per invocation; the parsed trees are
    # operator-identical — & == bitwiseAND, CASE == when/otherwise).
    words = (
        doc.select(
            "doc_id",
            F.explode(F.array_distinct(F.split("text", " "))).alias("w"),
        )
        .where(F.length("w") > 0)
        .select(
            "doc_id",
            *[
                F.expr(
                    f"cast(conv(substring(md5(w), {8 * c + 1}, 8), 16, 10)"
                    f" as bigint) AS v{c}"
                )
                for c in range(SIMHASH_BITS // 8)
            ],
        )
    )
    bit_sums = [
        F.expr(
            f"sum(shiftright(v{j // 8}, {(7 - j % 8) * 4 + 3}) & 1)"
            f" AS c{j:02d}"
        )
        for j in range(SIMHASH_BITS)
    ]
    agg = words.groupBy("doc_id").agg(F.count("*").alias("n_w"), *bit_sums)
    fp = F.expr(
        "concat("
        + ", ".join(
            f"CASE WHEN c{j:02d} * 2 >= n_w THEN '1' ELSE '0' END"
            for j in range(SIMHASH_BITS)
        )
        + ")"
    )
    return agg.select("doc_id", fp.alias("simhash"))


def q_simhash_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup CLUSTERS: group documents by exact fingerprint
    — one hash shuffle, linear in the corpus, every doc gets a cluster
    size and a survivor flag (min doc_id keeps).

    Why clusters and not Hamming-distance PAIRS: pair output is
    quadratic inside equal-fingerprint groups BY DEFINITION — on a
    low-entropy corpus (this synthetic table: tiny vocabulary, so
    fingerprints collide en masse) the pigeonhole block-join emits
    ~3.5M pairs from 5k docs (measured: 250 s at sf0.1) while this
    grouping answers the same keep/drop question in one linear pass.
    At web scale the same hot-bucket risk exists for boilerplate-heavy
    crawls; the cluster representation is the scale-safe contract, and
    pairwise refinement (when needed) runs per-cluster with a size cap
    — the q_semdedup cell-fencing pattern."""
    doc = parallelize_small_scan(load_table(spark, sf_dir, "documents"), spark)
    sim = simhash_fingerprints(doc)
    sizes = sim.groupBy("simhash").agg(
        F.count("*").alias("cluster_size"),
        F.min("doc_id").alias("keep_doc_id"),
    )
    return sim.join(sizes, "simhash").select(
        "doc_id",
        "simhash",
        "cluster_size",
        F.when(F.col("doc_id") == F.col("keep_doc_id"), 1)
        .otherwise(0)
        .alias("is_survivor"),
    )


CC_EDGES_PER_PART = 50_000  # target edge rows per task in the CC loop
CC_DRIVER_BOUND = 1_000_000  # ≤ this many edge rows → driver
                             # union-find; beyond → the distributed
                             # loop. The edges arrive as ONE Arrow
                             # toPandas (two int64 columns ≈ 16 MB at
                             # the bound — a Row-object collect() would
                             # cost hundreds of MB in Python overhead,
                             # r8 advice); the union-find dict itself
                             # is the remaining driver cost.
CC_MAX_ITERS = 12   # safety bound; min-label + pointer-jump converges in
                    # O(log(longest chain)) rounds, typically 3-4
CC_MIN_EST = 0.5    # candidate pairs below this est-Jaccard are not edges


def dedup_clusters(doc: DataFrame) -> DataFrame:
    """Near-duplicate CLUSTERS: connected components over the
    LSH candidate graph (edges = lsh_pairs with
    est_jaccard ≥ CC_MIN_EST), the step a real dedup pipeline runs
    after pair generation — transitive closure turns pairs into
    groups, and `doc_id == cluster_id` selects the canonical survivor
    (min doc_id) per group. Every document gets a row (singletons are
    their own cluster), so the output is a total keep/drop decision.

    Distributed shape: iterative min-label propagation with pointer
    jumping — per round, each node takes the min label over itself and
    its neighbors, then labels compress via comp ← comp(comp). Each
    round is two shuffle joins on DataFrames; localCheckpoint truncates
    the lineage so round N does not recompute rounds 1..N-1; the loop
    exits as soon as a round changes nothing (a bounded plan-build
    action per round, like the tfidf count). At 100 TB this is the
    textbook DataFrame CC: O(log n) rounds, each linear in |edges|,
    nothing on the driver but the changed-row counter."""
    docs = doc.select("doc_id")
    pairs = lsh_pairs(doc).filter(F.col("est_jaccard") >= CC_MIN_EST)
    return cluster_pairs(docs, pairs)


def neardup_dropped_ids(doc: DataFrame) -> DataFrame:
    """doc_ids that are NOT their near-dup cluster's canonical
    survivor — the exact set a dedup pipeline DROPS. Same CC fixed
    point as :func:`dedup_clusters` but skips the full-decision tail
    (_finish_labels' singleton union, cluster-size aggregate and
    join): a non-survivor is precisely an edge-touching node whose
    converged label differs from itself, so the corpus-sized total
    frame is never built. Singletons (never in `labels`) keep
    implicitly — anti-join this frame against the corpus."""
    pairs = lsh_pairs(doc).filter(F.col("est_jaccard") >= CC_MIN_EST)
    labels = _cluster_labels(doc.sparkSession, pairs)
    return labels.where(F.col("node") != F.col("comp")).select(
        F.col("node").alias("doc_id")
    )


def cluster_pairs(
    docs: DataFrame, pairs: DataFrame, driver_bound: int = None
) -> DataFrame:
    """Connected components over an arbitrary undirected pair frame
    (doc_a, doc_b) against a node universe `docs(doc_id)` — the CC
    core of :func:`dedup_clusters`, exposed so any candidate generator
    (LSH, simhash blocks, semantic cells) feeds the same clustering.

    Hybrid execution (r8): the dup-pair graph is a DECISION FRAME —
    orders of magnitude smaller than the corpus (sf0.1: ~500 edges vs
    5000 docs; at 100 TB: millions vs billions). When the edge count
    (already measured for partition sizing) is ≤ CC_DRIVER_BOUND
    (~16 MB of long pairs — the same driver budget as the BPE vocab
    collect and the IVF training sample), a driver union-find labels
    components in one pass instead of O(diameter) shuffle rounds;
    with min-doc_id roots its labels are IDENTICAL to the distributed
    fixed point (comp = min doc_id in component), pinned by
    tests/test_dedup_clusters.py. Past the bound, the distributed
    min-label-propagation loop below runs unchanged — the 100 TB path
    is not an afterthought, it is the same function."""
    return _finish_labels(
        docs, _cluster_labels(docs.sparkSession, pairs, driver_bound)
    )


def _cluster_labels(
    spark: SparkSession, pairs: DataFrame, driver_bound: int = None
) -> DataFrame:
    """The CC fixed-point labels (node, comp) for EDGE-TOUCHING nodes
    only — the hybrid driver-union-find / distributed-min-label core
    shared by cluster_pairs (which adds singletons + sizes) and
    neardup_dropped_ids (which needs only comp != node)."""
    # r14: checkpoint ONE direction and derive the reverse from the
    # checkpointed rows. Checkpointing the 2-branch union materialized
    # the pair pipeline's final aggregation stage twice (exchange reuse
    # covers only the subtree below the shuffle) and wrote 2x the rows;
    # the swap is now a narrow projection over already-materialized
    # edges (guide §2.4 — don't recompute what a checkpoint already
    # holds).
    fwd = pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).localCheckpoint()
    edges = fwd.union(
        fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    # Size the loop's input partitioning to the EDGE count, not the
    # corpus scan that produced it: the checkpoint inherits the pair
    # pipeline's partitioning (32 map slots of a handful of rows at
    # test SF), and every CC round pays a task per partition per stage
    # before AQE can coalesce anything. Counting the materialized
    # checkpoint is one cheap job; coalesce (narrow, no shuffle) then
    # bounds the loop's fixed cost by ~CC_EDGES_PER_PART rows per
    # task. At 100 TB millions of edges keep their parallelism — this
    # only collapses partitions that are nearly empty.
    n_edges = edges.count()
    bound = CC_DRIVER_BOUND if driver_bound is None else driver_bound
    if n_edges <= bound:
        # collect the MATERIALIZED forward checkpoint directly (pairs
        # are emitted doc_a < doc_b, so fwd IS the src<dst direction)
        return _driver_labels(spark, fwd)
    # .rdd forces plan→RDD conversion (~50 ms even on a checkpoint);
    # only the distributed branch needs the partition count (r15)
    n_parts = edges.rdd.getNumPartitions()
    target = max(1, min(n_parts, n_edges // CC_EDGES_PER_PART + 1))
    if target < n_parts:
        edges = edges.coalesce(target)
    # Iterate ONLY over nodes that touch an edge — the dup graph is
    # orders of magnitude smaller than the corpus (sf0.1: ~500 nodes vs
    # 5000 docs; at 100 TB: millions vs billions). Singletons are
    # definitionally their own cluster and union back in at the end, so
    # every CC round shuffles |V(edges)| rows, not |corpus|.
    # Convergence certificate: min-label propagation can only LOWER a
    # label, so sum(comp) strictly decreases on any change and is
    # stable exactly at the fixed point — one tiny agg job per round
    # instead of an old-vs-new join (no shuffle: partial sums + a
    # 1-row final). The checkpoint is LAZY (eager=False): the
    # convergence agg is the action that materializes it, so each
    # round costs ONE Spark job, not two.
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("comp"))
        .localCheckpoint(eager=False)
    )
    prev_sum = labels.agg(F.sum("comp")).collect()[0][0]
    for _ in range(CC_MAX_ITERS):
        nbr = edges.join(labels, edges.dst == labels.node).select(
            F.col("src").alias("node"), "comp"
        )
        stepped = (
            labels.unionByName(nbr)
            .groupBy("node")
            .agg(F.min("comp").alias("comp"))
        )
        jump = stepped.select(
            F.col("node").alias("comp"), F.col("comp").alias("comp2")
        )
        new_labels = (
            stepped.join(jump, "comp", "left")
            .select("node", F.coalesce("comp2", "comp").alias("comp"))
            .localCheckpoint(eager=False)
        )
        new_sum = new_labels.agg(F.sum("comp")).collect()[0][0]
        labels = new_labels
        if new_sum == prev_sum:
            break
        prev_sum = new_sum
    return labels


def _finish_labels(docs: DataFrame, labels: DataFrame) -> DataFrame:
    """Union singletons back in and attach cluster sizes — the shared
    tail of both CC execution paths."""
    singletons = docs.join(
        labels.select(F.col("node").alias("doc_id")), "doc_id", "anti"
    ).select(
        F.col("doc_id").alias("node"), F.col("doc_id").alias("comp")
    )
    labels = labels.unionByName(singletons)
    sizes = labels.groupBy("comp").agg(F.count("*").alias("cluster_size"))
    return labels.join(sizes, "comp").select(
        F.col("node").alias("doc_id"),
        F.col("comp").alias("cluster_id"),
        "cluster_size",
    )


def _driver_labels(spark: SparkSession, fwd: DataFrame) -> DataFrame:
    """Driver union-find over a bounded pair list → (node, comp)
    labels. Union-by-min keeps the minimum element of every component
    a root forever (a larger root is always attached under a smaller
    one), so each node's final root is exactly min(doc_id in
    component) — the identical fixed point the distributed min-label
    propagation converges to."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]  # path halving
            x = parent[x]
        return x

    pairs = fwd.toPandas()  # Arrow path: two int64 columns, no Row objects
    for a, b in zip(pairs["src"].to_numpy(), pairs["dst"].to_numpy()):
        a, b = int(a), int(b)
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    if parent:
        return spark.createDataFrame(
            [(int(n), int(find(n))) for n in parent], "node long, comp long"
        )
    return spark.createDataFrame([], "node long, comp long")


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-declared wrapper over :func:`dedup_clusters`."""
    return dedup_clusters(
        parallelize_small_scan(load_table(spark, sf_dir, "documents"), spark)
    )


CORPUS_SOURCE = "src0"  # the "already-curated corpus" slice of documents


def incremental_neardup(batch: DataFrame, corpus: DataFrame) -> DataFrame:
    """Incremental dedup of a NEW batch against an EXISTING corpus —
    the shape a production pipeline actually runs (full-corpus
    re-clustering per crawl is a non-starter at 100 TB). A batch doc
    is dropped when LSH estimates est_jaccard ≥ CC_MIN_EST against any
    corpus doc, or against an earlier (smaller doc_id) batch doc —
    keep-first-occurrence, the standard MinHash-dedupe policy.

    Scale shape: cost ∝ |batch| + band-bucket probes. The corpus side
    here recomputes signatures from text for oracle parity; use
    :func:`write_band_store` + :func:`incremental_neardup_stored` to
    probe a persisted, band_key-bucketed index instead — the batch
    never scans corpus text. Emits one row per batch doc with integer
    flags (engine-stable hash types)."""
    return _incremental_from_bands(
        batch, lsh_bands(minhash_signatures(corpus))
    )


def write_band_store(corpus: DataFrame, table: str) -> None:
    """Persist the corpus LSH band index as a band_key-bucketed catalog
    table — amortizes corpus signatures once; every later crawl's probe
    join co-locates on band_key with no exchange on the corpus side."""
    from timeseriesdb_spark.sources.bucketed import write_bucketed

    write_bucketed(
        lsh_bands(minhash_signatures(corpus)), table,
        key="band_key", sort_by=None,
    )


def incremental_neardup_stored(
    spark: SparkSession, batch: DataFrame, band_table: str
) -> DataFrame:
    """:func:`incremental_neardup` against a persisted band index."""
    return _incremental_from_bands(batch, spark.table(band_table))


def _incremental_from_bands(batch: DataFrame, bands_c: DataFrame) -> DataFrame:
    # The batch band frame feeds BOTH probe joins (corpus hits + the
    # keep-first self-join) on two sides — without materialization the
    # whole shingle→minhash→band pipeline recomputes three times (no
    # ReusedExchange: the join keys differ). The batch is the SMALL
    # side by construction (one crawl increment vs the corpus), so one
    # localCheckpoint bounds the cost at any scale; the corpus side
    # stays streamed/stored (write_band_store) and is never
    # materialized here. EAGER deliberately (unlike the loop sites'
    # eager=False, which rely on an intermediate collect to
    # materialize before reuse): there is no action between here and
    # the final job, and a lazy checkpoint's first materialization
    # inside that one job would not be shared across its three
    # branches. Cost: declaring the frame runs the (batch-sized)
    # band job once.
    bands_b = lsh_bands(minhash_signatures(batch)).localCheckpoint()
    est = _est_jaccard()
    a = bands_b.alias("a")
    corpus_hits = (
        a.join(bands_c.alias("b"), F.col("a.band_key") == F.col("b.band_key"))
        .where(est >= CC_MIN_EST)
        .select(F.col("a.doc_id").alias("doc_id"))
        .distinct()
    )
    batch_hits = (
        a.join(
            bands_b.alias("b"),
            (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") > F.col("b.doc_id")),
        )
        .where(est >= CC_MIN_EST)
        .select(F.col("a.doc_id").alias("doc_id"))
        .distinct()
    )
    c_flag = corpus_hits.withColumn("dup_of_corpus", F.lit(1))
    b_flag = batch_hits.withColumn("dup_of_batch", F.lit(1))
    return (
        batch.select("doc_id")
        .join(c_flag, "doc_id", "left")
        .join(b_flag, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("dup_of_corpus", F.lit(0)).alias("dup_of_corpus"),
            F.coalesce("dup_of_batch", F.lit(0)).alias("dup_of_batch"),
            F.when(
                F.col("dup_of_corpus").isNull() & F.col("dup_of_batch").isNull(),
                1,
            )
            .otherwise(0)
            .alias("keep"),
        )
    )


def q_incremental_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup with documents split by source: `src0` plays
    the existing corpus, every other source the incoming batch."""
    doc = parallelize_small_scan(load_table(spark, sf_dir, "documents"), spark)
    return incremental_neardup(
        doc.where(F.col("source") != CORPUS_SOURCE),
        doc.where(F.col("source") == CORPUS_SOURCE),
    )


def q_dup_ngram_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document duplicate-passage coverage: the fraction of a
    document's distinct word-3-shingles that also occur in at least
    one OTHER document — the RefinedWeb/Gopher "duplicate n-gram
    fraction" proxy for exact-substring dedup. Unlike the pairwise
    queries (q_ngram_jaccard reports WHO overlaps), this is the
    per-doc quality column a curation pass thresholds on: coverage
    near 1 means the document is assembled from passages that exist
    elsewhere in the corpus.

    Coverage runs over the stop-shingle-capped universe (df ≤
    SHINGLE_DF_CAP): boilerplate shingles shared by half the corpus
    say nothing about passage-level duplication, and excluding them
    keeps the denominator consistent with the pairwise queries.

    Shape: ONE shingle-key exchange carries both the df window count
    (which yields the cap AND the df>1 dup flag — no df join at all)
    and the per-doc rollup is the only other shuffle. dup_frac is an
    integer/integer division → engine exact. At 100 TB: identical
    plan; per-shingle work is bounded by the cap."""
    sh = _shingles(
        parallelize_small_scan(load_table(spark, sf_dir, "documents"), spark)
    ).repartition("shingle")
    w = Window.partitionBy("shingle")
    dup = F.sum(F.when(F.col("df") > 1, 1).otherwise(0))
    return (
        sh.withColumn("df", F.count("*").over(w))
        .where(F.col("df") <= SHINGLE_DF_CAP)
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            dup.alias("n_dup"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_dup",
            (
                F.col("n_dup").cast("double")
                / F.col("n_shingles").cast("double")
            ).alias("dup_frac"),
        )
    )


SPAN_OCC_CAP = 256   # boilerplate bound: ignore shingles occurring more often
SPAN_MIN_WORDS = 5   # emit spans covering at least this many words

# shared CTE chain for the span oracles (positioned shingles → hits →
# islands → spans); keep in sync with q_dup_spans' DataFrame form
_DUP_SPANS_CTES = f"""posed AS (
            SELECT doc_id, i - 1 AS pos,
                   w || ' '
                     || lead(w, 1) OVER (PARTITION BY doc_id ORDER BY i)
                     || ' '
                     || lead(w, 2) OVER (PARTITION BY doc_id ORDER BY i)
                       AS shingle
            FROM (
                SELECT doc_id,
                       unnest(string_split(text, ' ')) AS w,
                       generate_subscripts(string_split(text, ' '), 1) AS i
                FROM documents
            )
        ),
        hits AS (
            SELECT doc_id, pos FROM (
                SELECT doc_id, pos,
                       min(doc_id) OVER ws AS mn,
                       max(doc_id) OVER ws AS mx,
                       count(*) OVER ws AS occ
                FROM posed WHERE shingle IS NOT NULL
                WINDOW ws AS (PARTITION BY shingle)
            ) WHERE mn != mx AND occ <= {SPAN_OCC_CAP}
        ),
        isl AS (
            SELECT doc_id, pos,
                   pos - row_number() OVER (
                       PARTITION BY doc_id ORDER BY pos) AS grp
            FROM hits
        ),
        spans_all AS (
            SELECT doc_id,
                   CAST(min(pos) AS BIGINT) AS span_start,
                   CAST(max(pos) + {SHINGLE_K - 1} AS BIGINT) AS span_end,
                   count(*) AS n_grams
            FROM isl GROUP BY doc_id, grp
        ),
        spans AS (
            SELECT * FROM spans_all
            WHERE span_end - span_start + 1 >= {SPAN_MIN_WORDS}
        )"""


def q_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicated-PASSAGE extraction: maximal runs of consecutive
    word-3-shingles that also occur in another document, emitted as
    word-position spans per doc — the locate step of exact-substring
    dedup (Lee et al. 2022: find the shared span, then trim it),
    where q_dup_ngram_coverage only scores how much of a doc is
    duplicated, this says WHERE.

    Shape: positioned shingles (one explode), ONE shingle-key
    exchange where min(doc)≠max(doc) over the shingle window decides
    cross-doc duplication (no distinct-count, no self-join) and a
    row-count cap drops boilerplate shingles; surviving hit positions
    run gaps-and-islands per doc (pos − row_number is constant within
    a run) — one more shuffle on doc_id. Spans shorter than
    SPAN_MIN_WORDS words are noise and dropped. All arithmetic is
    integer → engine-exact. At 100 TB: identical plan; per-shingle
    window work is bounded by SPAN_OCC_CAP."""
    doc = parallelize_small_scan(
        load_table(spark, sf_dir, "documents").select("doc_id", "text"), spark
    )
    return dup_spans_frame(doc)


def dup_spans_frame(doc: DataFrame) -> DataFrame:
    """q_dup_spans over any (doc_id, text) frame — the reusable form
    the CorpusEngine maintenance path calls on its own store."""
    return raw_spans_frame(doc).where(
        F.col("span_end") - F.col("span_start") + 1 >= SPAN_MIN_WORDS
    )


def raw_spans_frame(doc: DataFrame) -> DataFrame:
    """Maximal cross-document shingle runs WITHOUT the minimum-length
    floor — shared by dup_spans_frame (floor = SPAN_MIN_WORDS) and
    q_span_length_sweep (which grades every candidate floor from one
    span derivation)."""
    words = F.split(F.col("text"), " ")
    posed = doc.select(
        "doc_id",
        F.posexplode(array_ngrams(words, SHINGLE_K)).alias("pos", "shingle"),
    ).where(F.length("shingle") > 0)
    w = Window.partitionBy("shingle")
    hits = (
        posed.withColumn("mn", F.min("doc_id").over(w))
        .withColumn("mx", F.max("doc_id").over(w))
        .withColumn("occ", F.count("*").over(w))
        .where((F.col("mn") != F.col("mx")) & (F.col("occ") <= SPAN_OCC_CAP))
        .select("doc_id", "pos")
    )
    w2 = Window.partitionBy("doc_id").orderBy("pos")
    grp = F.col("pos") - F.row_number().over(w2)
    return (
        hits.withColumn("grp", grp)
        .groupBy("doc_id", "grp")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + F.lit(SHINGLE_K - 1)).alias("span_end"),
            F.count("*").alias("n_grams"),
        )
        .select("doc_id", "span_start", "span_end", "n_grams")
    )


SPAN_SWEEP_WORDS = [3, 5, 8, 13, 21]  # candidate SPAN_MIN_WORDS floors


def q_span_length_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimum-span-length operating curve for the locate→trim policy
    knob: spans derive ONCE (raw_spans_frame, no floor), then fan out
    by the candidate floors — at each floor, how many spans survive,
    how many documents are affected, and how many words the trim
    would remove (sum of surviving span lengths; islands are disjoint
    in hit positions, so the overlap between adjacent spans is at
    most SHINGLE_K−1 words of tail extension). The artifact a
    pipeline owner reads before pinning SPAN_MIN_WORDS — all integer
    arithmetic, hash-checked cross-engine."""
    doc = parallelize_small_scan(
        load_table(spark, sf_dir, "documents").select("doc_id", "text"), spark
    )
    raw = raw_spans_frame(doc)
    span_len = F.col("span_end") - F.col("span_start") + 1
    fanned = raw.select(
        "doc_id",
        span_len.alias("span_words"),
        F.explode(
            F.array(*[F.lit(m) for m in SPAN_SWEEP_WORDS])
        ).alias("min_words"),
    ).where(F.col("span_words") >= F.col("min_words"))
    return fanned.groupBy("min_words").agg(
        F.count("*").alias("n_spans"),
        F.countDistinct("doc_id").alias("n_docs"),
        F.sum("span_words").alias("sum_span_words"),
    )


def q_trim_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring TRIM — the transform half of Lee et al. 2022:
    rebuild each affected document with its duplicated spans
    (q_dup_spans) removed, emitting (doc_id, n_kept, n_removed,
    trimmed_text). Together with q_dup_spans this is locate→trim:
    dedup below document granularity, which whole-doc dedup
    (q_dedup_exact / clusters) cannot express.

    Shape: spans re-derive from the same two-exchange pipeline; words
    explode once with positions and join spans on doc_id (fan-out =
    words × spans-per-doc, bounded by the span count per doc — only
    documents WITH spans join, via the doc-key equi-join); uncovered
    words reassemble with an order-pinned sort_array(struct(pos,
    word)) so the string is deterministic. Integer/string ops only →
    engine-exact."""
    doc = parallelize_small_scan(
        load_table(spark, sf_dir, "documents").select("doc_id", "text"), spark
    )
    return trim_spans_frame(doc)


def trim_spans_frame(doc: DataFrame) -> DataFrame:
    """q_trim_spans over any (doc_id, text) frame — derives the spans
    from the same frame so locate and trim share one lineage.

    r14 optimization-round shape (guide §8 "decide with small rows,
    move big rows once" + §2.4): the spans are the DECISION FRAME —
    collected per affected doc into one array column (no exchange: the
    span aggregate reuses the doc_id partitioning its own derivation
    established), joined back to the corpus by doc_id, and the rebuild
    is a single map-side higher-order expression — filter the split
    word array by "position not inside any span". The earlier form
    posexploded EVERY word of every document into rows, shuffled them
    through a covered-distinct, an anti-join, a collect_list rebuild
    and a totals aggregate (5 corpus-sized exchanges carrying word
    rows); the text now moves ONCE, as whole strings, through the one
    doc_id join. Values are bit-identical: same 0-based positions,
    same word order (array filter preserves order), same n_kept /
    n_removed integers."""
    spans = dup_spans_frame(doc)
    per_doc = spans.groupBy("doc_id").agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("_spans")
    )
    words = F.split(F.col("text"), " ")
    kept_arr = F.filter(
        words,
        lambda w, i: ~F.exists(
            F.col("_spans"),
            lambda s: (i >= s["span_start"]) & (i <= s["span_end"]),
        ),
    )
    return (
        doc.join(per_doc, "doc_id")
        .select(
            "doc_id",
            F.size(words).alias("n_words"),
            F.size(kept_arr).alias("n_kept"),
            F.array_join(kept_arr, " ").alias("trimmed_text"),
        )
        .select(
            "doc_id",
            "n_kept",
            (F.col("n_words") - F.col("n_kept")).alias("n_removed"),
            "trimmed_text",
        )
    )


def q_dedup_graph_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structural health metrics of the near-dup graph the clustering
    consumes: node/edge counts, wedge count Σ d(d−1)/2, triangle count,
    and the global clustering coefficient 3·triangles/wedges (integer
    ppm). A true duplicate family is a quasi-clique (coefficient → 1);
    long low-coefficient chains are the transitive-closure FALSE-MERGE
    signature (one weak bridge pair swallowing two unrelated families)
    — this is the one-row diagnostic you check BEFORE trusting
    q_dedup_clusters' survivor drop, and the measurement behind the
    CLUSTER_COS lesson documented at q_embedding_clusters.

    All counts are exact integers (coefficient in half-up-free floor
    ppm), so the row hash-checks cross-engine. Scale shape: edges are
    LINEAR in corpus size (the measured SCALING.md LSH invariant);
    triangle enumeration is the standard a<b<c wedge join — cost
    Σ deg², fenced by the same per-bucket caps that fence the pair
    generator (a hot template bucket cannot explode into a hot
    triangle join)."""
    pairs = q_minhash_lsh_pairs(spark, sf_dir).where(
        F.col("est_jaccard") >= CC_MIN_EST
    )
    # Materialize the edge DECISION FRAME once (the cluster_pairs
    # checkpoint rule): degrees, wedges and the three-way triangle
    # join all reread these few rows instead of re-running the whole
    # LSH pair pipeline per consumer (measured 37 → ~8 exchanges).
    # r14: lsh_pairs CONTRACTUALLY emits doc_a < doc_b with one row per
    # pair (the band join's a.doc_id < b.doc_id condition + trailing
    # distinct), so the old least/greatest normalization and the
    # re-distinct exchanged the pair frame once more to recompute an
    # identity (guide §2.4 "a distinct on data that is already
    # unique").
    e = pairs.select(
        F.col("doc_a").alias("a"), F.col("doc_b").alias("b")
    ).localCheckpoint()
    deg = (
        e.select(F.col("a").alias("v"))
        .unionAll(e.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count("*").alias("d"))
    )
    # coalesce: sum over an EMPTY degree frame is NULL, which would
    # leak NULL past the n_wedges = 0 guard below (ADVICE r11) — the
    # documented semantics are coefficient = 0 on an empty graph
    base = deg.agg(
        F.count("*").alias("n_nodes"),
        F.expr("coalesce(sum(d * (d - 1)), 0) div 2").alias("n_wedges"),
    )
    n_edges = e.groupBy().agg(F.count("*").alias("n_edges"))
    # a<b<c wedges closed by an (a, c) edge — each triangle counted once
    e1 = e.select(F.col("a").alias("ta"), F.col("b").alias("tb"))
    e2 = e.select(F.col("a").alias("tb"), F.col("b").alias("tc"))
    e3 = e.select(F.col("a").alias("ta"), F.col("b").alias("tc"))
    tri = (
        e1.join(e2, "tb")
        .join(e3, ["ta", "tc"])
        .groupBy()
        .agg(F.count("*").alias("n_triangles"))
    )
    return (
        base.crossJoin(n_edges)
        .crossJoin(tri)
        .select(
            "n_nodes",
            "n_edges",
            "n_wedges",
            "n_triangles",
            F.expr(
                "CASE WHEN n_wedges = 0 THEN 0 "
                "ELSE (3 * n_triangles * 1000000) div n_wedges END"
            ).alias("global_cc_ppm"),
        )
    )


QUERIES = {
    "q_dedup_exact": q_dedup_exact,
    "q_dedup_graph_stats": q_dedup_graph_stats,
    "q_dup_spans": q_dup_spans,
    "q_trim_spans": q_trim_spans,
    "q_span_length_sweep": q_span_length_sweep,
    "q_ngram_jaccard": q_ngram_jaccard,
    "q_dup_ngram_coverage": q_dup_ngram_coverage,
    "q_ngram_containment": q_ngram_containment,
    "q_minhash_signatures": q_minhash_signatures,
    "q_minhash_lsh_pairs": q_minhash_lsh_pairs,
    "q_lsh_recall": q_lsh_recall,
    "q_simhash": q_simhash,
    "q_simhash_clusters": q_simhash_clusters,
    "q_dedup_clusters": q_dedup_clusters,
    "q_incremental_neardup": q_incremental_neardup,
}

_NAMES = [n for n, _, _ in _sig_cols()]
_BAND_KEYS_SQL = ", ".join(
    "'b{b}:' || md5({concat}) AS band_{b}".format(
        b=b,
        concat=" || '|' || ".join(_NAMES[b * LSH_ROWS : (b + 1) * LSH_ROWS]),
    )
    for b in range(LSH_BANDS)
)
_EST_SQL = (
    "("
    + " + ".join(f"CASE WHEN a.{n} = b.{n} THEN 1 ELSE 0 END" for n in _NAMES)
    + f") / {float(MINHASH_K)}"
)
def lsh_pairs_ctes(table: str = "documents") -> str:
    """sig/bands/pairs CTE chain over any documents-shaped relation —
    reused by the full-pipeline oracle (pipeline.py) over the
    quality-filtered, exact-deduped survivor set."""
    return f"""sig AS ({_minhash_sql(table)}),
        bands AS (SELECT *, {_BAND_KEYS_SQL} FROM sig),
        pairs AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   round({_EST_SQL}, 6) AS est_jaccard
            FROM bands a JOIN bands b
              ON a.doc_id < b.doc_id
             AND (a.band_0 = b.band_0 OR a.band_1 = b.band_1
                  OR a.band_2 = b.band_2 OR a.band_3 = b.band_3)
        )"""


_LSH_PAIRS_CTES = lsh_pairs_ctes()

_BAND_OVERLAP_SQL = " OR ".join(
    f"a.band_{b} = b.band_{b}" for b in range(LSH_BANDS)
)

_SIMHASH_SQL = (
    "WITH words AS (SELECT DISTINCT doc_id, w FROM ("
    "  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents"
    ") WHERE length(w) > 0), "
    "h AS (SELECT doc_id, "
    + ", ".join(
        f"CAST(('0x' || substr(md5(w), {8 * c + 1}, 8)) AS BIGINT) AS v{c}"
        for c in range(SIMHASH_BITS // 8)
    )
    + " FROM words), "
    "agg AS (SELECT doc_id, count(*) AS n_w, "
    + ", ".join(
        f"sum((v{j // 8} >> {(7 - j % 8) * 4 + 3}) & 1) AS c{j:02d}"
        for j in range(SIMHASH_BITS)
    )
    + " FROM h GROUP BY doc_id) "
    "SELECT doc_id, "
    + " || ".join(
        f"CASE WHEN c{j:02d} * 2 >= n_w THEN '1' ELSE '0' END"
        for j in range(SIMHASH_BITS)
    )
    + " AS simhash FROM agg"
)


_INCREMENTAL_SQL = f"""
    WITH sig_c AS (
        {_minhash_sql(f"(SELECT * FROM documents WHERE source = '{CORPUS_SOURCE}')")}
    ),
    sig_b AS (
        {_minhash_sql(f"(SELECT * FROM documents WHERE source <> '{CORPUS_SOURCE}')")}
    ),
    bc AS (SELECT *, {_BAND_KEYS_SQL} FROM sig_c),
    bb AS (SELECT *, {_BAND_KEYS_SQL} FROM sig_b),
    corpus_hit AS (
        SELECT DISTINCT a.doc_id FROM bb a JOIN bc b ON ({_BAND_OVERLAP_SQL})
        WHERE {_EST_SQL} >= {CC_MIN_EST}
    ),
    batch_hit AS (
        SELECT DISTINCT a.doc_id FROM bb a
        JOIN bb b ON a.doc_id > b.doc_id AND ({_BAND_OVERLAP_SQL})
        WHERE {_EST_SQL} >= {CC_MIN_EST}
    )
    SELECT d.doc_id,
           CASE WHEN c.doc_id IS NOT NULL THEN 1 ELSE 0 END AS dup_of_corpus,
           CASE WHEN h.doc_id IS NOT NULL THEN 1 ELSE 0 END AS dup_of_batch,
           CASE WHEN c.doc_id IS NULL AND h.doc_id IS NULL THEN 1 ELSE 0 END
               AS keep
    FROM (SELECT doc_id FROM documents WHERE source <> '{CORPUS_SOURCE}') d
    LEFT JOIN corpus_hit c ON c.doc_id = d.doc_id
    LEFT JOIN batch_hit h ON h.doc_id = d.doc_id
"""

ORACLES = {
    "q_dedup_exact": """
        SELECT md5(text) AS content_hash, count(*) AS n_copies,
               min(doc_id) AS keep_doc_id
        FROM documents GROUP BY md5(text)
    """,
    # positioned shingles (pos = 0-based start word): cross-doc dup iff
    # min(doc)≠max(doc) over the shingle window; islands by the
    # pos − row_number constant — all integer, engine-exact.
    "q_span_length_sweep": f"""
        WITH {_DUP_SPANS_CTES}
        SELECT min_words, count(*) AS n_spans,
               count(DISTINCT doc_id) AS n_docs,
               CAST(sum(span_end - span_start + 1) AS BIGINT)
                   AS sum_span_words
        FROM spans_all CROSS JOIN (VALUES {", ".join(
            f"({m})" for m in SPAN_SWEEP_WORDS)}) AS t(min_words)
        WHERE span_end - span_start + 1 >= min_words
        GROUP BY min_words
    """,
    "q_dup_spans": f"""
        WITH {_DUP_SPANS_CTES}
        SELECT doc_id, span_start, span_end, n_grams FROM spans
    """,
    # locate→trim: words not covered by any span reassemble with an
    # ORDER BY pos string_agg (pos is unique per doc → deterministic).
    "q_trim_spans": f"""
        WITH {_DUP_SPANS_CTES},
        wordsx AS (
            SELECT doc_id, i - 1 AS pos, w
            FROM (
                SELECT doc_id,
                       unnest(string_split(text, ' ')) AS w,
                       generate_subscripts(string_split(text, ' '), 1) AS i
                FROM documents
            )
        ),
        covered AS (
            SELECT DISTINCT wx.doc_id, wx.pos
            FROM wordsx wx JOIN spans s
              ON s.doc_id = wx.doc_id
             AND wx.pos BETWEEN s.span_start AND s.span_end
        ),
        kept AS (
            SELECT wx.doc_id, wx.pos, wx.w
            FROM wordsx wx LEFT JOIN covered c
              ON c.doc_id = wx.doc_id AND c.pos = wx.pos
            WHERE c.pos IS NULL
        ),
        reb AS (
            SELECT doc_id, count(*) AS n_kept,
                   string_agg(w, ' ' ORDER BY pos) AS trimmed_text
            FROM kept GROUP BY doc_id
        ),
        tot AS (
            SELECT doc_id, count(*) AS n_words
            FROM wordsx GROUP BY doc_id
        )
        SELECT a.doc_id,
               coalesce(reb.n_kept, 0) AS n_kept,
               tot.n_words - coalesce(reb.n_kept, 0) AS n_removed,
               coalesce(reb.trimmed_text, '') AS trimmed_text
        FROM (SELECT DISTINCT doc_id FROM spans) a
        JOIN tot ON tot.doc_id = a.doc_id
        LEFT JOIN reb ON reb.doc_id = a.doc_id
    """,
    "q_dup_ngram_coverage": f"""
        WITH shd AS (
            SELECT doc_id, shingle,
                   count(*) OVER (PARTITION BY shingle) AS df
            FROM ({_SHINGLES_SQL})
        )
        SELECT doc_id, count(*) AS n_shingles,
               CAST(sum(CASE WHEN df > 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_dup,
               CAST(sum(CASE WHEN df > 1 THEN 1 ELSE 0 END)
                    AS DOUBLE) / count(*) AS dup_frac
        FROM shd WHERE df <= {SHINGLE_DF_CAP}
        GROUP BY doc_id
    """,
    "q_ngram_jaccard": f"""
        WITH sh AS ({_CAPPED_SHINGLES_SQL}),
        sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
        inter AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
            FROM sh a JOIN sh b
              ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        )
        SELECT doc_a, doc_b,
               round(n_inter / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE), 6)
                   AS jaccard
        FROM inter
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE round(n_inter / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE), 6)
              >= {JACCARD_THRESHOLD}
    """,
    "q_minhash_signatures": _MINHASH_SQL,
    "q_incremental_neardup": _INCREMENTAL_SQL,
    "q_ngram_containment": f"""
        WITH sh AS ({_CAPPED_SHINGLES_SQL}),
        sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
        inter AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
            FROM sh a JOIN sh b
              ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
            GROUP BY 1, 2
        )
        SELECT doc_a, doc_b, n_inter,
               round(n_inter / CAST(sa.n_sh AS DOUBLE), 6) AS containment
        FROM inter
        JOIN sizes sa ON sa.doc_id = doc_a
        WHERE round(n_inter / CAST(sa.n_sh AS DOUBLE), 6)
              >= {CONTAIN_THRESHOLD}
    """,
    "q_minhash_lsh_pairs": f"""
        WITH {_LSH_PAIRS_CTES}
        SELECT doc_a, doc_b, est_jaccard FROM pairs
    """,
    # exact capped-universe Jaccard truth vs LSH band candidates:
    # threshold test and both ratios in pure integer arithmetic
    "q_lsh_recall": f"""
        WITH {_LSH_PAIRS_CTES},
        shx AS ({_CAPPED_SHINGLES_SQL}),
        sizesx AS (
            SELECT doc_id, count(*) AS n_sh FROM shx GROUP BY doc_id
        ),
        interx AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   count(*) AS n_inter
            FROM shx a JOIN shx b
              ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        ),
        truth AS (
            SELECT doc_a, doc_b, n_inter,
                   sa.n_sh + sb.n_sh - n_inter AS n_union
            FROM interx
            JOIN sizesx sa ON sa.doc_id = doc_a
            JOIN sizesx sb ON sb.doc_id = doc_b
        ),
        cand AS (SELECT doc_a, doc_b, 1 AS is_cand FROM pairs),
        merged AS (
            SELECT coalesce(t.n_inter, 0) AS n_inter,
                   coalesce(t.n_union, 1) AS n_union,
                   coalesce(c.is_cand, 0) AS is_cand
            FROM truth t FULL JOIN cand c USING (doc_a, doc_b)
        ),
        th AS (
            SELECT unnest([{", ".join(map(str, LSH_EVAL_T_MICROS))}])
                AS t_micros
        ),
        scored AS (
            SELECT th.t_micros, m.is_cand,
                   CASE WHEN m.n_inter * 1000000
                             >= th.t_micros * m.n_union
                        THEN 1 ELSE 0 END AS is_truth
            FROM merged m CROSS JOIN th
        ),
        agg AS (
            SELECT t_micros,
                   CAST(sum(is_truth) AS BIGINT) AS n_truth,
                   CAST(sum(is_cand) AS BIGINT) AS n_cand,
                   CAST(sum(is_truth * is_cand) AS BIGINT) AS n_caught
            FROM scored GROUP BY t_micros
        )
        SELECT t_micros, n_truth, n_cand, n_caught,
               CASE WHEN n_truth > 0 THEN
                   (2 * n_caught * 1000000 + n_truth) // (2 * n_truth)
               END AS recall_micros,
               CASE WHEN n_cand > 0 THEN
                   (2 * n_caught * 1000000 + n_cand) // (2 * n_cand)
               END AS precision_micros
        FROM agg
    """,
    # transitive closure via recursive min-label reachability: (v, m)
    # ∈ r iff m reaches v over threshold edges; min m per v IS the
    # component label (identical to Spark's converged propagation)
    "q_dedup_clusters": f"""
        WITH RECURSIVE {_LSH_PAIRS_CTES},
        edges AS (
            SELECT doc_a AS a, doc_b AS b FROM pairs
            WHERE est_jaccard >= {CC_MIN_EST}
            UNION ALL
            SELECT doc_b AS a, doc_a AS b FROM pairs
            WHERE est_jaccard >= {CC_MIN_EST}
        ),
        r AS (
            SELECT doc_id AS v, doc_id AS m FROM documents
            UNION
            SELECT e.b AS v, r.m AS m FROM r JOIN edges e ON e.a = r.v
        ),
        comp AS (SELECT v AS doc_id, min(m) AS cluster_id FROM r GROUP BY v)
        SELECT c.doc_id, c.cluster_id, s.cluster_size
        FROM comp c
        JOIN (SELECT cluster_id, count(*) AS cluster_size
              FROM comp GROUP BY cluster_id) s USING (cluster_id)
    """,
    "q_dedup_graph_stats": f"""
        WITH {_LSH_PAIRS_CTES},
        e AS (
            SELECT DISTINCT least(doc_a, doc_b) AS a,
                            greatest(doc_a, doc_b) AS b
            FROM pairs WHERE est_jaccard >= {CC_MIN_EST}
        ),
        deg AS (
            SELECT v, count(*) AS d FROM (
                SELECT a AS v FROM e UNION ALL SELECT b AS v FROM e
            ) GROUP BY v
        ),
        base AS (
            SELECT count(*) AS n_nodes,
                   CAST(coalesce(sum(d * (d - 1)), 0) // 2 AS BIGINT)
                       AS n_wedges
            FROM deg
        ),
        ne AS (SELECT count(*) AS n_edges FROM e),
        tri AS (
            SELECT count(*) AS n_triangles
            FROM e e1
            JOIN e e2 ON e1.b = e2.a
            JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
        )
        SELECT n_nodes, n_edges, n_wedges, n_triangles,
               CASE WHEN n_wedges = 0 THEN 0
                    ELSE (3 * n_triangles * 1000000) // n_wedges
               END AS global_cc_ppm
        FROM base CROSS JOIN ne CROSS JOIN tri
    """,
    "q_simhash": _SIMHASH_SQL,
    "q_simhash_clusters": f"""
        WITH sim AS ({_SIMHASH_SQL}),
        sizes AS (
            SELECT simhash, count(*) AS cluster_size,
                   min(doc_id) AS keep_doc_id
            FROM sim GROUP BY simhash
        )
        SELECT s.doc_id, s.simhash, z.cluster_size,
               CASE WHEN s.doc_id = z.keep_doc_id THEN 1 ELSE 0 END
                   AS is_survivor
        FROM sim s JOIN sizes z USING (simhash)
    """,
}
