"""Simulates the correctness driver: vanilla SparkSession (none of our
session.py configs), import __spark_entry__, run entry + every query on
one data dir, compare to DuckDB oracle via order-insensitive value hash.

    python scripts/driver_sim.py [DATA_DIR]

DATA_DIR defaults to the sf0.01 fixture. It also becomes
SPARK_TSDB_TEST_SF, so lazy oracles retrain on the same data."""
import argparse, hashlib, os, sys
import duckdb, pandas as pd
from pyspark.sql import SparkSession

ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
ap.add_argument("data_dir", nargs="?", help="default: the sf0.01 fixture")
DATA_DIR = ap.parse_args().data_dir

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import __spark_entry__ as e

spark = SparkSession.builder.master("local[4]").appName("driver-sim").getOrCreate()
spark.sparkContext.setLogLevel("ERROR")

df = e.entry(spark)
n = df.count()
print(f"entry(): {n} rows, schema={df.schema.simpleString()}")
assert n > 0

SF = "/root/testdata/sf0.01"
SF = DATA_DIR or SF
os.environ["SPARK_TSDB_TEST_SF"] = SF
con = duckdb.connect()
for t in ["region","nation","customer","supplier","part","orders","lineitem","events","documents","embeddings"]:
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
fails = 0
for name in sorted(qs):
    sdf = qs[name](spark, SF)
    got = sdf.toPandas()
    if name in oracles:
        exp = con.execute(oracles[name]).fetch_df()
        hg, he = value_hash(got), value_hash(exp)
        ok = (len(got) == len(exp)) and hg == he
        print(f"{'OK ' if ok else 'FAIL'} {name}: rows {len(got)}/{len(exp)} hash {hg}/{he}")
        fails += 0 if ok else 1
    else:
        print(f"ROWS {name}: {len(got)} rows")
print("FAILS:", fails)
sys.exit(1 if fails else 0)
