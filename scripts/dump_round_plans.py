"""Dump `.explain("formatted")` for declared queries into per-query
files under plans/<round>/ — an optimization round's before/after plan
evidence (plan claims are checked against these files).

Usage:
    python scripts/dump_round_plans.py r15 before            # all queries
    python scripts/dump_round_plans.py r15 after q_foo q_bar # just the named

Runs on the SAME session configuration as bench.py (session.get_spark)
so the dumped plans are the ones the bench actually executes.
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..")
sys.path.insert(0, ROOT)

from timeseriesdb_spark.plans.checks import formatted_plan  # noqa: E402
from timeseriesdb_spark.registry import QUERIES  # noqa: E402
from timeseriesdb_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    if len(sys.argv) < 2:
        sys.exit(__doc__)
    round_tag = sys.argv[1]
    suffix = sys.argv[2] if len(sys.argv) > 2 else "before"
    names = sys.argv[3:] or sorted(QUERIES)
    out_dir = os.path.join(ROOT, "plans", round_tag)
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark(app_name=f"plans-{round_tag}-{suffix}")
    spark.sparkContext.setLogLevel("ERROR")
    for name in names:
        try:
            df = QUERIES[name](spark, SF_DIR)
            plan = formatted_plan(df)
        except Exception as exc:  # noqa: BLE001 — record, don't abort
            plan = f"PLAN BUILD FAILED: {exc}"
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(name, "->", path)
    spark.stop()


if __name__ == "__main__":
    main()
