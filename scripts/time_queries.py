"""Time named queries with the bench protocol (bench.time_query: one
warm-up, then $SPARK_TSDB_BENCH_RUNS noop-sink runs, doubled when the
median is under 1 s) on the bench session, and print each query's
build and total medians. Build is the registry call; total adds the
noop write, which plans and runs the query.

With --conf, A/B a session config instead: base and variant runs
alternate inside one JVM, so the box's low-frequency load drift hits
both arms alike, and the reported statistic is the median of the
per-pair total ratios (variant / base), not a difference of medians
from separate runs. Only runtime-modifiable confs can be A/B'd this
way; a static conf (for example spark.sql.codegen.cache.maxEntries)
is fixed when the JVM starts, so it is refused up front: compare it
with two processes instead, e.g. perfbench/run.py on two checkouts.

Usage:
    python scripts/time_queries.py q_foo q_bar                 # sf0.1
    SPARK_GRAFT_SF_DIR=<data dir> python scripts/time_queries.py q_foo
    python scripts/time_queries.py --conf "k=v;k2=v2" q_foo
"""

from __future__ import annotations

import argparse
import os
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import N_RUNS, run_once, time_query  # noqa: E402
from timeseriesdb_spark.registry import QUERIES  # noqa: E402
from timeseriesdb_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def paired(spark, name: str, confs: list[list[str]]) -> str:
    """One warm-up per arm, then N_RUNS base/variant pairs."""
    base = {k: spark.conf.get(k, None) for k, _ in confs}

    def arm(on: bool) -> tuple[float, float]:
        for k, v in confs:
            if on:
                spark.conf.set(k, v)
            elif base[k] is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, base[k])
        return run_once(QUERIES[name], spark, SF_DIR)

    for on in (False, True):
        arm(on)
    pairs = [(arm(False), arm(True)) for _ in range(N_RUNS)]
    arm(False)  # leave the session at base for the next query

    def med(i: int, j: int) -> float:
        return statistics.median(p[i][j] for p in pairs)

    ratios = [b[1] / a[1] for a, b in pairs]
    return (
        f"base build {med(0, 0):.3f} total {med(0, 1):.3f}  "
        f"variant build {med(1, 0):.3f} total {med(1, 1):.3f}  "
        f"ratio(med) {statistics.median(ratios):.3f} "
        f"ratios {[round(r, 3) for r in ratios]}"
    )


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("names", nargs="+", metavar="Q", help="query names")
    ap.add_argument("--conf", help='"k=v;k2=v2": A/B these against the session')
    args = ap.parse_args()
    confs = [kv.split("=", 1) for kv in args.conf.split(";")] if args.conf else []
    spark = get_spark(app_name="time-queries")
    spark.sparkContext.setLogLevel("ERROR")
    static = [k for k, _ in confs if not spark.conf.isModifiable(k)]
    if static:
        spark.stop()
        sys.exit(
            f"time_queries: {', '.join(static)} cannot be set at runtime (a "
            "static conf); A/B it with two processes, e.g. perfbench/run.py "
            "on two checkouts"
        )
    if confs:
        print(f"variant: {args.conf}  pairs: {N_RUNS}")
    for name in args.names:
        spark.sparkContext.setJobDescription(f"time_queries {name}")
        if confs:
            print(f"{name}: {paired(spark, name, confs)}")
        else:
            s = time_query(QUERIES[name], spark, SF_DIR)
            print(
                f"{name}: build {s['build']:.3f} total {s['med']:.3f} "
                f"min {s['min']:.3f} max {s['max']:.3f}"
            )
    spark.stop()


if __name__ == "__main__":
    main()
