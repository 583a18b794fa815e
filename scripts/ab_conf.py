"""Paired A/B of a session config over named queries, robust to the
box's low-frequency load drift: base and variant runs ALTERNATE inside
one JVM (the drift hits both arms equally), and the reported statistic
is the median of per-pair ratios rather than a difference of medians
from separate runs.

Usage:
    python scripts/ab_conf.py "spark.sql.join.preferSortMergeJoin=false" q_foo q_bar
    SPARK_TSDB_AB_REPS=7 python scripts/ab_conf.py "k=v;k2=v2" q_foo

Only runtime-modifiable confs can be A/B'd this way. A static conf
(for example spark.sql.codegen.cache.maxEntries) is fixed when the JVM
starts, so it is refused up front: compare it with two processes
instead, e.g. perfbench/run.py on two checkouts.
"""

from __future__ import annotations

import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from timeseriesdb_spark.registry import QUERIES  # noqa: E402
from timeseriesdb_spark.session import get_spark  # noqa: E402

REPS = int(os.environ.get("SPARK_TSDB_AB_REPS", "5"))
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    confs = [kv.split("=", 1) for kv in sys.argv[1].split(";")]
    names = sys.argv[2:]
    assert names, "pass query names"
    spark = get_spark(app_name="ab-conf")
    spark.sparkContext.setLogLevel("ERROR")
    static = [k for k, _ in confs if not spark.conf.isModifiable(k)]
    if static:
        spark.stop()
        sys.exit(
            f"ab_conf: {', '.join(static)} cannot be set at runtime (a static "
            "conf); A/B it with two processes, e.g. perfbench/run.py on two "
            "checkouts"
        )
    base = {k: spark.conf.get(k, None) for k, _ in confs}

    def set_variant(on: bool) -> None:
        for k, v in confs:
            if on:
                spark.conf.set(k, v)
            elif base[k] is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, base[k])

    def run(name: str) -> float:
        t0 = time.perf_counter()
        QUERIES[name](spark, SF_DIR).write.format("noop").mode(
            "overwrite"
        ).save()
        return time.perf_counter() - t0

    print(f"variant: {sys.argv[1]}  reps/arm: {REPS}")
    for name in names:
        for on in (False, True):  # one warm-up per arm
            set_variant(on)
            spark.sparkContext.setJobDescription(f"warmup {name} v={on}")
            run(name)
        ratios, a_s, b_s = [], [], []
        for i in range(REPS):
            set_variant(False)
            spark.sparkContext.setJobDescription(f"{name} base #{i}")
            a = run(name)
            set_variant(True)
            spark.sparkContext.setJobDescription(f"{name} variant #{i}")
            b = run(name)
            ratios.append(b / a)
            a_s.append(a)
            b_s.append(b)
        print(
            f"{name}: ratio(med) {statistics.median(ratios):.3f} "
            f"base med {statistics.median(a_s):.3f} "
            f"variant med {statistics.median(b_s):.3f} "
            f"ratios {[round(r, 3) for r in ratios]}"
        )
    spark.stop()


if __name__ == "__main__":
    main()
