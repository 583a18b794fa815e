"""Subset correctness check: run only the named queries against their
DuckDB oracles (same hash discipline as driver_sim). Usage:

    python scripts/check_subset.py q_paa q_window_max ...
"""
import hashlib
import os
import sys

import duckdb
import pandas as pd
from pyspark.sql import SparkSession

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import __spark_entry__ as e  # noqa: E402

spark = (
    SparkSession.builder.master("local[4]")
    .appName("subset-check")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")

SF = os.environ.get("SPARK_TSDB_TEST_SF", "/root/testdata/sf0.01")
con = duckdb.connect()
for t in [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")


def value_hash(pdf: pd.DataFrame) -> str:
    pdf = pdf[sorted(pdf.columns)].copy()
    for c in pdf.columns:
        if pd.api.types.is_datetime64_any_dtype(pdf[c]):
            pdf[c] = pdf[c].astype("datetime64[us]")
        elif pd.api.types.is_integer_dtype(pdf[c]):
            pdf[c] = pdf[c].astype("int64")
        elif pd.api.types.is_float_dtype(pdf[c]):
            pdf[c] = pdf[c].astype("float64")
    rows = sorted(map(repr, pdf.itertuples(index=False, name=None)))
    return hashlib.sha256("\n".join(rows).encode()).hexdigest()[:16]


qs, oracles = e.queries(), e.oracle_sql()
names = sys.argv[1:] or sorted(qs)
fails = 0
for name in names:
    if name not in qs:
        print(f"SKIP {name}: not in queries()")
        continue
    got = qs[name](spark, SF).toPandas()
    if name in oracles:
        exp = con.execute(oracles[name]).fetch_df()
        hg, he = value_hash(got), value_hash(exp)
        ok = (len(got) == len(exp)) and hg == he
        print(
            f"{'OK ' if ok else 'FAIL'} {name}: rows {len(got)}/{len(exp)}"
            f" hash {hg}/{he}"
        )
        fails += 0 if ok else 1
    else:
        print(f"ROWS {name}: {len(got)} rows")
print("FAILS:", fails)
sys.exit(1 if fails else 0)
