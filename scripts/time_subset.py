"""Time named queries in isolation with the bench protocol (one warm-up
+ median of N noop-sink runs) — the per-edit A/B harness for the
optimization rounds. Same session/config as bench.py.

Usage:
    python scripts/time_subset.py q_foo q_bar            # sf0.1
    SPARK_GRAFT_SF_DIR=/root/testdata/sf0.01 python scripts/time_subset.py q_foo
    SPARK_TSDB_BENCH_RUNS=5 python scripts/time_subset.py q_foo
"""

from __future__ import annotations

import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from timeseriesdb_spark.registry import QUERIES  # noqa: E402
from timeseriesdb_spark.session import get_spark  # noqa: E402

N_RUNS = int(os.environ.get("SPARK_TSDB_BENCH_RUNS", "5"))
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    names = sys.argv[1:]
    assert names, "pass query names"
    spark = get_spark(app_name="time-subset")
    # A/B hook: SPARK_TSDB_EXTRA_CONF="k=v;k2=v2" applies on top of the
    # bench session so a candidate config is measured with everything
    # else identical.
    extra = os.environ.get("SPARK_TSDB_EXTRA_CONF", "")
    for kv in filter(None, extra.split(";")):
        k, v = kv.split("=", 1)
        spark.conf.set(k, v)
        print(f"conf {k}={v}")
    spark.sparkContext.setLogLevel("ERROR")
    for name in names:
        fn = QUERIES[name]
        spark.sparkContext.setJobDescription(f"warmup {name}")
        fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
        samples = []
        for i in range(N_RUNS):
            spark.sparkContext.setJobDescription(f"timed {name} #{i}")
            t0 = time.perf_counter()
            fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
            samples.append(time.perf_counter() - t0)
        print(
            f"{name}: med {statistics.median(samples):.4f} "
            f"min {min(samples):.4f} max {max(samples):.4f} "
            f"samples {[round(s, 4) for s in samples]}"
        )
    spark.stop()


if __name__ == "__main__":
    main()
