"""Decompose a query's wall time into (build, plan, exec) phases:

- build: the Python call QUERIES[name](spark, sf_dir) — py4j expression
  construction + any driver-side training/collect the query does.
- plan:  forcing queryExecution().executedPlan() on the built frame —
  analysis, optimization, physical planning (pre-AQE).
- exec:  the noop-sink save of the planned frame — AQE + run.

Usage:
    python scripts/profile_phases.py q_foo q_bar
    SPARK_TSDB_BENCH_RUNS=3 python scripts/profile_phases.py q_foo
"""

from __future__ import annotations

import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from timeseriesdb_spark.registry import QUERIES  # noqa: E402
from timeseriesdb_spark.session import get_spark  # noqa: E402

N_RUNS = int(os.environ.get("SPARK_TSDB_BENCH_RUNS", "3"))
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    names = sys.argv[1:]
    assert names, "pass query names"
    spark = get_spark(app_name="profile-phases")
    spark.sparkContext.setLogLevel("ERROR")
    for name in names:
        fn = QUERIES[name]
        spark.sparkContext.setJobDescription(f"warmup {name}")
        fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
        rows = []
        for i in range(N_RUNS):
            spark.sparkContext.setJobDescription(f"profiled {name} #{i}")
            t0 = time.perf_counter()
            df = fn(spark, SF_DIR)
            t1 = time.perf_counter()
            df._jdf.queryExecution().executedPlan()
            t2 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            t3 = time.perf_counter()
            rows.append((t1 - t0, t2 - t1, t3 - t2))
        med = lambda j: statistics.median(r[j] for r in rows)  # noqa: E731
        print(
            f"{name}: build {med(0):.3f} plan {med(1):.3f} "
            f"exec {med(2):.3f} total {med(0)+med(1)+med(2):.3f}"
        )
    spark.stop()


if __name__ == "__main__":
    main()
