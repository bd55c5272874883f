"""Simulate the external driver: vanilla session, import contract, smoke + t2."""
import os, sys
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from pyspark.sql import SparkSession

# deliberately vanilla: no nanosAsLong, no UTC tz — the driver's session, not ours
spark = SparkSession.builder.master("local[8]").appName("driver-sim").getOrCreate()
spark.sparkContext.setLogLevel("ERROR")

import __spark_entry__ as E

df = E.entry(spark)
rows = df.collect()
print("SMOKE entry(): rows =", len(rows), "schema =", [f.name for f in df.schema.fields])
assert len(rows) > 0

import duckdb, math, decimal, datetime as dt
import numpy as np, pandas as pd
con = duckdb.connect()
SF = "/root/testdata/sf0.01"
for t in ["region","nation","customer","supplier","part","orders","lineitem","events","documents","embeddings"]:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')")

def norm(v):
    if v is None: return "N"
    if isinstance(v,(list,tuple,np.ndarray)): return "["+",".join(norm(x) for x in v)+"]"
    if isinstance(v,(bool,np.bool_)): return "T" if v else "F"
    if isinstance(v,(int,np.integer)): return str(int(v))
    if isinstance(v,decimal.Decimal): return repr(float(v))
    if isinstance(v,(float,np.floating)):
        f=float(v)
        return "N" if math.isnan(f) else repr(f)
    if isinstance(v,pd.Timestamp): return v.isoformat()
    if isinstance(v,(dt.datetime,dt.date)): return v.isoformat()
    return str(v)

Q, O = E.queries(), E.oracle_sql()
ok = fail = 0
for k in sorted(Q):
    if k not in O:
        n = Q[k](spark, SF).count()
        print(f"  rows-only {k}: {n} rows"); ok += 1; continue
    sp = Q[k](spark, SF).toPandas()
    du = con.execute(O[k]).df()
    s = sorted(tuple(norm(v) for v in r) for r in sp[sorted(sp.columns)].itertuples(index=False))
    d = sorted(tuple(norm(v) for v in r) for r in du[sorted(du.columns)].itertuples(index=False))
    status = "MATCH" if (s == d and sorted(sp.columns)==sorted(du.columns)) else "MISMATCH"
    if status=="MATCH": ok+=1
    else: fail+=1
    print(f"  {status} {k}: {len(sp)} rows")
print(f"t2 sim: {ok} ok, {fail} mismatched")
sys.exit(1 if fail else 0)
