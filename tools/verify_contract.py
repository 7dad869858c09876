"""Drive the driver contract exactly as the correctness gate does:
every queries()/oracle_sql() pair, Spark vs DuckDB (default sf0.01),
sorted-column 6dp value compare; plus entry() smoke.

Usage (run from the repo root so executors can import the package):
    python tools/verify_contract.py               # all pairs
    python tools/verify_contract.py q1 q2 ...     # a subset
    VERIFY_SF=/root/testdata/sf0.1 python tools/verify_contract.py
    SPARK_GRAFT_CPUS=4 python tools/verify_contract.py  # local[4], 4 shuffle partitions (default 8)
"""
import math, os, sys, time
import os as _os
sys.path.insert(0, _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__))))
import duckdb
from pyspark.sql import SparkSession
import __spark_entry__ as e

SF = os.environ.get("VERIFY_SF", "/root/testdata/sf0.01")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "8"))
spark = (SparkSession.builder.master(f"local[{CPUS}]")
         .config("spark.sql.shuffle.partitions", str(CPUS))
         .config("spark.ui.enabled", "false")
         .config("spark.driver.memory", "8g")
         .getOrCreate())

def norm(v):
    if isinstance(v, bool): return v
    if isinstance(v, float): return "nan" if math.isnan(v) else round(v, 6)
    if hasattr(v, "as_tuple"): return round(float(v), 6)
    return v

con = duckdb.connect()
for t in "region nation customer supplier part orders lineitem events documents embeddings".split():
    p = f"{SF}/{t}.parquet"
    if os.path.exists(p):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

qs = e.queries()
oracles = e.oracle_sql()
only = sys.argv[1:] or list(qs)
fails = []
for name in only:
    t0 = time.time()
    try:
        sdf = qs[name](spark, SF)
        scols = sdf.columns
        srows = [tuple(r) for r in sdf.collect()]
        if name not in oracles:
            print(f"{name}: rows-only {len(srows)} rows ({time.time()-t0:.1f}s)")
            continue
        cur = con.execute(oracles[name])
        dcols = [d[0] for d in cur.description]
        drows = cur.fetchall()
        so = sorted(range(len(scols)), key=lambda i: scols[i])
        do = sorted(range(len(dcols)), key=lambda i: dcols[i])
        sset = sorted(tuple(norm(r[i]) for i in so) for r in srows)
        dset = sorted(tuple(norm(r[i]) for i in do) for r in drows)
        ok_rows = len(srows) == len(drows)
        ok_cols = sorted(scols) == sorted(dcols)
        ok_vals = sset == dset
        status = "OK" if (ok_rows and ok_cols and ok_vals) else "FAIL"
        if status == "FAIL":
            fails.append(name)
            print(f"{name}: FAIL rows={len(srows)}/{len(drows)} cols={ok_cols} vals={ok_vals}")
            for a, b in list(zip(sset, dset))[:3]:
                if a != b:
                    print("  spark:", a, "\n  duck :", b)
        else:
            print(f"{name}: OK {len(srows)} rows ({time.time()-t0:.1f}s)")
    except Exception as ex:
        fails.append(name)
        print(f"{name}: ERROR {type(ex).__name__}: {ex}")

# entry smoke
try:
    df = e.entry(spark)
    rows = df.collect()
    print(f"entry: OK {len(rows)} rows, schema={[f.name for f in df.schema.fields]}")
except Exception as ex:
    fails.append("entry")
    print(f"entry: ERROR {type(ex).__name__}: {ex}")

print("FAILURES:", fails if fails else "none")
sys.exit(1 if fails else 0)
