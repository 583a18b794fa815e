"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

Implementation lives in ``timeseriesdb_spark/`` (see SURVEY.md §2 for
the operator-by-operator mapping to the reference).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from timeseriesdb_spark.registry import QUERIES, resolve_oracles

SMOKE_SF_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query: the Influx `max_groupby` shape — per-signal
    tumbling row-count-windowed max (the reference's marquee benchmark,
    database/src/benchmark/influx_bench/mod.rs:11-191)."""
    return QUERIES["q_window_max"](spark, SMOKE_SF_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2, in
    registry order: the `_MODULES` order of registry.py, then each
    module's own QUERIES order."""
    return dict(QUERIES)


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL per query; non-SQL-expressible ops are
    absent (driver records a rows-only check for those). Includes
    lazily-generated oracles whose literals embed trained state
    derived from the data under test (registry.LAZY_ORACLES)."""
    return resolve_oracles()
