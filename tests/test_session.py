"""The session's codegen class cache holds a repeated query mix.

Spark caches the classes it generates for each plan in one cache per
JVM. The shared `spark` fixture's JVM already holds the classes of
whichever tests ran before, so how many classes a first run compiles
there depends on test order. The mix therefore runs in a child
process with a fresh `get_spark()` session:

    python tests/test_session.py <sf_dir>

prints one JSON line with the compile counts of two runs of the
`perfbench` signal mix and the session's cache size.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def compile_counts(sf_dir: str) -> dict:
    """Run the signal mix twice as noop-sink writes on a fresh session;
    count the classes each run compiles."""
    from perfbench.workloads import SIGNAL_QUERIES
    from timeseriesdb_spark.registry import QUERIES
    from timeseriesdb_spark.session import get_spark

    spark = get_spark(app_name="codegen-cache", master="local[4]",
                      shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    counts = []
    try:
        for _ in range(2):
            c0 = metrics.METRIC_COMPILATION_TIME().getCount()
            for q in SIGNAL_QUERIES:
                QUERIES[q](spark, sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
            counts.append(metrics.METRIC_COMPILATION_TIME().getCount() - c0)
        max_entries = int(spark.conf.get("spark.sql.codegen.cache.maxEntries"))
    finally:
        spark.stop()
    return {"first": counts[0], "second": counts[1], "max_entries": max_entries}


def test_repeated_signal_mix_compiles_nothing():
    from tests.conftest import SF_DIR

    env = {**os.environ, "SPARK_TSDB_TEST_SF": SF_DIR}
    out = subprocess.run(
        [sys.executable, os.path.abspath(__file__), SF_DIR],
        cwd=ROOT, env=env, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    got = json.loads(out.stdout.strip().splitlines()[-1])
    # A cold run of the 28 queries compiles about 216 classes; a cache
    # that holds them leaves only a few for the second run, whereas
    # Spark's default of 100 entries recompiles about 90% of them.
    assert got["first"] > 100, got
    assert got["second"] <= 0.05 * got["first"], got
    assert got["max_entries"] >= got["first"], got


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    print(json.dumps(compile_counts(sys.argv[1])))
