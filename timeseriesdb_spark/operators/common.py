"""Shared expression helpers.

Cross-engine determinism discipline (the driver hash-compares our Spark
results against DuckDB running the oracle SQL): floating-point SUMs are
order-dependent, and Spark's partial/final aggregation gives no
accumulation-order guarantee. So every SUM of a double measure goes
through DECIMAL(38,6): the per-row double→decimal rounding is exact and
identical in both engines (a double's decimal expansion essentially
never lands on a 5e-7 tie), decimal addition is associative integer
math, and the final decimal→double cast is the same round-to-nearest in
both. Result: bit-exact sums regardless of partitioning — which also
means results are stable across cluster sizes, a correctness property
the reference gets for free from single-threaded folds (query.rs:129-173)
and we must engineer.

MIN/MAX/COUNT are order-independent already and stay native doubles.
AVG is emitted as round(avg, 6): the value is not bit-deterministic but
its error is ~1e-13 relative, vastly inside the rounding grid.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

DEC = "decimal(38,6)"


def dsum(col: str | Column, alias: str) -> Column:
    """Order-independent, engine-exact sum of a double column."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(DEC)).cast("double").alias(alias)


def dsum_sql(expr: str, alias: str) -> str:
    """The DuckDB-side twin of :func:`dsum`."""
    return f"CAST(SUM(CAST({expr} AS DECIMAL(38,6))) AS DOUBLE) AS {alias}"


def isum(col: str | Column, alias: str) -> Column:
    """Exact sum of an integral-by-contract double column (e.g.
    l_quantity, TPC-H 1..50): bigint accumulation is order-independent
    and ~2.5x cheaper than the decimal route."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast("bigint")).cast("double").alias(alias)


def isum_sql(expr: str, alias: str) -> str:
    """The DuckDB-side twin of :func:`isum`."""
    return f"CAST(SUM(CAST({expr} AS BIGINT)) AS DOUBLE) AS {alias}"


def merge_by(grain, **folds: str):
    """A schema-preserving combine of mergeable partials: group at the
    partial `grain` and fold each column with its named aggregate
    (``"sum"``, ``"min"``, ``"max"``) under its own name, so the merged
    frame is again a partial (it can be merged further, compacted, or
    finalized)."""

    def combine(partials):
        return partials.groupBy(*grain).agg(
            *(getattr(F, fn)(c).alias(c) for c, fn in folds.items())
        )

    return combine


def array_ngrams(arr: Column, n: int, sep: str = " ") -> Column:
    """Word n-grams of an array column as an array column, built from n
    aligned ``slice``s folded with ``zip_with``/``concat_ws`` — O(n)
    array operations per ROW instead of one ``slice`` per OUTPUT
    element. The naive ``transform(sequence(...), i -> slice(arr, i,
    n))`` form re-evaluates the (projection-collapsed, so typically
    ``split(text)``) array expression once per element inside the
    lambda, turning tokenization O(words) into O(words²) per document
    — measured 7× slower at sf0.1. Arrays shorter than n yield an
    empty array (greatest(size-n+1, 0) clamps the slice length), the
    same contract both DuckDB oracles and the old form had."""
    m = F.greatest(F.size(arr) - F.lit(n - 1), F.lit(0))
    z = F.slice(arr, 1, m)
    for i in range(1, n):
        z = F.zip_with(
            z, F.slice(arr, i + 1, m), lambda x, y: F.concat_ws(sep, x, y)
        )
    return z


def parallelize_small_scan(df, spark):
    """Round-robin repartition ONLY when the scan under-parallelizes
    the session (fewer input splits than cores — the single-file,
    single-row-group shape of small test corpora). CPU-bound text
    kernels (n-grams, hashing) are row-bound, not byte-bound, so a
    128 MB-split scan can leave 31 of 32 cores idle. At real scale the
    scan has >> cores splits and this is a no-op — no shuffle is added
    on the 100 TB path.

    The split count is ESTIMATED from the scan's file sizes with
    Spark's own packing arithmetic (ceil((bytes + files·openCost) /
    maxPartitionBytes)) instead of `df.rdd.getNumPartitions()` — the
    .rdd conversion forced full physical planning of the scan,
    ~150 ms per call across the ~40 queries that start here (r15
    build-time pass). The estimate only steers this performance
    decision; results are partition-independent by the repo's
    determinism discipline. Falls back to the exact .rdd count when
    the input isn't sized locally (non-file frames, remote stores)."""
    parallelism = spark.sparkContext.defaultParallelism
    try:
        import math
        import os
        from urllib.parse import unquote, urlparse

        # spark.read lists local files as percent-encoded file:/// URIs
        files = [unquote(urlparse(f).path) if f.startswith("file:") else f
                 for f in df.inputFiles()]
        if not files:
            raise ValueError("no input files")
        total = sum(os.path.getsize(f) for f in files)
        utils = spark._jvm.org.apache.spark.util.Utils
        max_pb = utils.byteStringAsBytes(
            spark.conf.get("spark.sql.files.maxPartitionBytes", "128m")
        )
        open_cost = utils.byteStringAsBytes(
            spark.conf.get("spark.sql.files.openCostInBytes", "4m")
        )
        n_splits = max(
            1, math.ceil((total + len(files) * open_cost) / max_pb)
        )
    except Exception:
        n_splits = df.rdd.getNumPartitions()
    if n_splits < parallelism:
        return df.repartition(parallelism)
    return df
