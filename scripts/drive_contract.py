"""Driver-mimic: exercise the __spark_entry__ contract at sf0.01 like the real verify does."""
import os, sys, time
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
# executors (python workers) must also see the package
os.environ["PYTHONPATH"] = ROOT + os.pathsep + os.environ.get("PYTHONPATH", "")
import __spark_entry__ as e
from pyspark.sql import SparkSession
import duckdb

spark = (SparkSession.builder.master("local[8]")
         .config("spark.sql.shuffle.partitions", "8")
         .config("spark.sql.session.timeZone", "UTC")
         .config("spark.ui.enabled", "false")
         .appName("driver-mimic").getOrCreate())

t0 = time.time()
df = e.entry(spark)
rows = df.collect()
print(f"entry(): {len(rows)} rows, schema={[f.name for f in df.schema.fields]}, {time.time()-t0:.1f}s")
assert len(rows) > 0

SF = "/root/testdata/sf0.01"
con = duckdb.connect()
for t in ["region","nation","customer","supplier","part","orders","lineitem","events","documents","embeddings"]:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')")

qs, osql = e.queries(), e.oracle_sql()
if len(sys.argv) > 1:
    subset = set(sys.argv[1:])
    unknown = subset - set(qs)
    if unknown:
        sys.exit(f"unknown query names: {sorted(unknown)}")
    qs = {k: v for k, v in qs.items() if k in subset}
print(f"{len(qs)} queries, {len(osql)} with oracle")
# dtype-strict canonicalizer shared with tests — floats are tagged, so an
# int64 column on one side vs float64 on the other (DuckDB HUGEINT sums
# via fetchdf) is a MISMATCH here, exactly like the driver's hash.
from aind_protein_data_transformation_spark.plans.canonical import canonicalize_pandas as canon

fails = 0
for name, fn in sorted(qs.items()):
    t0 = time.time()
    spd = fn(spark, SF).toPandas()
    # queries may persist() intermediates (minhash/jaccard shingle sets);
    # drop them between queries so a full sweep doesn't accumulate cache
    spark.catalog.clearCache()
    if name not in osql:
        print(f"  {name}: rows-only, {len(spd)} rows, {time.time()-t0:.1f}s"); continue
    opd = con.execute(osql[name]).fetchdf()
    ok = sorted(spd.columns)==sorted(opd.columns) and len(spd)==len(opd) and canon(spd)==canon(opd)
    print(f"  {name}: {'MATCH' if ok else '*** MISMATCH ***'} ({len(spd)} rows, {time.time()-t0:.1f}s)")
    if not ok:
        fails += 1
        print("   spark cols:", sorted(spd.columns), "oracle cols:", sorted(opd.columns), len(spd), len(opd))
print("FAILURES:", fails)
sys.exit(1 if fails else 0)
