"""Assembles the full query inventory declared to the driver.

Every operator module exposes ``QUERIES`` (name → callable(spark,
sf_dir) → DataFrame) and ``ORACLES`` (name → DuckDB-runnable SQL).
Queries without an oracle entry are genuinely non-SQL-expressible
(pandas-UDF transforms, streaming) and get the driver's rows-only
check.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from timeseriesdb_spark.functions import codecs
from timeseriesdb_spark.operators import (
    aggregates,
    chunking,
    curation,
    dedup,
    filters,
    funnels,
    joins,
    langid,
    mlkernels,
    mlscoring,
    multimodal,
    outlier,
    profiling,
    relational,
    search,
    similarity,
    text,
    tokenizer,
    transforms,
    tsanalytics,
    ucr,
    videomm,
    windows,
)
from timeseriesdb_spark import pipeline

_MODULES = [
    codecs,
    aggregates,
    chunking,
    curation,
    dedup,
    filters,
    funnels,
    joins,
    langid,
    mlkernels,
    mlscoring,
    multimodal,
    outlier,
    profiling,
    relational,
    search,
    similarity,
    text,
    tokenizer,
    transforms,
    tsanalytics,
    ucr,
    videomm,
    windows,
    pipeline,
]

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}
# name → zero-arg factory producing the oracle SQL at resolve time.
# For oracles whose literals depend on trained state derived from the
# data under test (q_ann_recall's IVF centroids / PQ codebooks): the
# factory retrains from the parquet under SPARK_TSDB_TEST_SF when the
# driver actually asks for oracle_sql(), keeping package import free
# of testdata reads.
LAZY_ORACLES: dict[str, Callable[[], str]] = {}

for _m in _MODULES:
    for _name, _fn in _m.QUERIES.items():
        if _name in QUERIES:
            raise ValueError(f"duplicate query name: {_name}")
        QUERIES[_name] = _fn
    ORACLES.update(getattr(_m, "ORACLES", {}))
    LAZY_ORACLES.update(getattr(_m, "LAZY_ORACLES", {}))

# Every oracle must belong to a declared query, and no query may have
# both a static and a lazy oracle.
_orphans = (set(ORACLES) | set(LAZY_ORACLES)) - set(QUERIES)
if _orphans:
    raise ValueError(f"oracles without queries: {sorted(_orphans)}")
_dupes = set(ORACLES) & set(LAZY_ORACLES)
if _dupes:
    raise ValueError(f"both static and lazy oracle: {sorted(_dupes)}")


def resolve_oracles() -> dict[str, str]:
    """Static oracles plus lazily-generated ones. A lazy factory that
    fails with an expected IO-class error (testdata missing,
    unreadable parquet) omits its entry WITH a warning — the driver
    then records the rows-only check for that query instead of
    erroring the whole verify pass. Programming errors PROPAGATE: a
    bug in a generator must fail the verify pass loudly, not silently
    and permanently downgrade that query's verification from
    hash-check to rows-only (ADVICE r9)."""
    import warnings

    try:
        import duckdb
        _io_errors: tuple[type, ...] = (OSError, duckdb.Error)
    except ImportError:  # pragma: no cover - duckdb is baked in
        _io_errors = (OSError,)
    out = dict(ORACLES)
    for _name, _factory in LAZY_ORACLES.items():
        try:
            out[_name] = _factory()
        except _io_errors as exc:
            warnings.warn(
                f"lazy oracle {_name} omitted (rows-only fallback): "
                f"{type(exc).__name__}: {exc}",
                stacklevel=2,
            )
            continue
    return out
