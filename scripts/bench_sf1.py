#!/usr/bin/env python
"""Absolute scale curve at sf1.0 (VERDICT r13 next-round #3).

SCALING.md's weak-scaling probes replicate ONE table axis at a time;
this harness instead times the top-N most expensive clean-bench
queries (by BENCH_local.json median) against the full sf1 star schema
(scripts/make_sf1.py: every table 10x, keys shifted, FKs consistent)
and records the per-query sf1/sf0.1 slope. A scan-bound operator on
the fixed local[32] box should land well under 10x once fixed stage
overhead is amortized; anything super-linear is a tail the driver
would eventually grade.

Writes BENCH_sf1.json (committed) and prints one JSON line.

Each query is timed with bench.time_query, the bench protocol
($SPARK_TSDB_BENCH_RUNS runs after a warm-up).

Usage: python scripts/make_sf1.py && python scripts/bench_sf1.py
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import time_query  # noqa: E402
from timeseriesdb_spark.registry import QUERIES  # noqa: E402
from timeseriesdb_spark.session import get_spark  # noqa: E402

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF1_DIR = os.environ.get(
    "SPARK_TSDB_SF1_DST", os.path.join(REPO, "testdata_sf1")
)
TOP_N = int(os.environ.get("SPARK_TSDB_SF1_TOPN", "20"))


def main() -> None:
    if not os.path.isdir(SF1_DIR):
        sys.exit(f"{SF1_DIR} missing — run scripts/make_sf1.py first")
    with open(os.path.join(REPO, "BENCH_local.json")) as f:
        local = json.load(f)
    sf01 = {
        k: v for k, v in local["queries"].items() if v > 0
    }
    names = sorted(sf01, key=lambda n: -sf01[n])[:TOP_N]

    spark = get_spark(app_name="spark-tsdb-bench-sf1")
    spark.sparkContext.setLogLevel("ERROR")
    out: dict[str, dict[str, float]] = {}
    for name in names:
        try:
            med = time_query(QUERIES[name], spark, SF1_DIR)["med"]
            out[name] = {
                "sf1_med": round(med, 4),
                "sf01_med": sf01[name],
                "slope": round(med / sf01[name], 2),
            }
            print(f"{name}: {med:.3f}s  slope {med / sf01[name]:.2f}x",
                  file=sys.stderr)
        except Exception as exc:
            print(f"SF1 BENCH ERROR {name}: {exc}", file=sys.stderr)
            out[name] = {"sf1_med": -1.0, "sf01_med": sf01[name],
                         "slope": -1.0}
    ok = {n: s for n, s in out.items() if s["slope"] > 0}
    slopes = sorted(s["slope"] for s in ok.values())
    summary = {
        "metric": "sf1_top20_median_sec",
        "value": round(sum(s["sf1_med"] for s in ok.values()), 4),
        "unit": "sec",
        "sf": 1.0,
        "data_factor": 10.0,
        "n_queries": len(out),
        "n_errors": len(out) - len(ok),
        "median_slope": slopes[len(slopes) // 2] if slopes else None,
        "max_slope": slopes[-1] if slopes else None,
        "queries": out,
    }
    with open(os.path.join(REPO, "BENCH_sf1.json"), "w") as f:
        json.dump(summary, f, indent=1, sort_keys=True)
    print(json.dumps({k: v for k, v in summary.items() if k != "queries"}))
    spark.stop()


if __name__ == "__main__":
    main()
