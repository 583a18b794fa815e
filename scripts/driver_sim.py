"""Simulates the correctness driver: deliberately a vanilla SparkSession
(none of our session.py configs, as the driver passes its own), import
__spark_entry__, run entry + every query on one data dir, compare to
DuckDB oracle via order-insensitive value hash.

    python scripts/driver_sim.py [DATA_DIR] [--only Q ...]

DATA_DIR defaults to the sf0.01 fixture. It also becomes
SPARK_TSDB_TEST_SF, so lazy oracles retrain on the same data. --only
checks just the named queries (seconds instead of minutes)."""
import argparse, os, sys
import duckdb
from pyspark.sql import SparkSession

ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
ap.add_argument("data_dir", nargs="?", help="default: the sf0.01 fixture")
ap.add_argument("--only", nargs="+", metavar="Q", help="check only these queries")
args = ap.parse_args()

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import __spark_entry__ as e
from perfbench.measure import value_hash
from timeseriesdb_spark.tables import TABLES

spark = SparkSession.builder.master("local[4]").appName("driver-sim").getOrCreate()
spark.sparkContext.setLogLevel("ERROR")

df = e.entry(spark)
n = df.count()
print(f"entry(): {n} rows, schema={df.schema.simpleString()}")
assert n > 0

SF = "/root/testdata/sf0.01"
SF = args.data_dir or SF
os.environ["SPARK_TSDB_TEST_SF"] = SF
con = duckdb.connect()
for t in TABLES:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")

qs, oracles = e.queries(), e.oracle_sql()
unknown = sorted(set(args.only or ()) - set(qs))
assert not unknown, f"not in queries(): {unknown}"
fails = 0
for name in args.only or sorted(qs):
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
