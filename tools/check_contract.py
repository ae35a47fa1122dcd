"""Run the driver-contract compare at an arbitrary SF dir.

Usage: python tools/check_contract.py [SF_DIR] [query ...]
With query names given, only those are checked (fast iteration).
"""
import math, os, sys, time
import duckdb
sys.path.insert(0, "/root/repo")
import __spark_entry__ as entrymod
from pyspark.sql import SparkSession

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

spark = (SparkSession.builder.master("local[32]")
         .config("spark.sql.shuffle.partitions", "32")
         .config("spark.driver.memory", "16g")
         .appName("contract-check").getOrCreate())
spark.sparkContext.setLogLevel("ERROR")

con = duckdb.connect()
for t in TABLES:
    con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")


def _norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v!r}"
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return v


def _norm_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_norm_cell(r[i]) for i in order) for r in rows)


qs = entrymod.queries()
oracles = entrymod.oracle_sql()
only = set(sys.argv[2:])
if only:
    unknown = only - set(qs)
    if unknown:
        print(f"RESULT: FAILURES: unknown query names {sorted(unknown)}")
        sys.exit(2)
    qs = {k: v for k, v in qs.items() if k in only}
fails = []
for name in sorted(qs):
    t0 = time.time()
    try:
        sdf = qs[name](spark, SF_DIR)
        scols = sdf.columns
        srows = [tuple(r) for r in sdf.collect()]
    except Exception as e:
        fails.append(name)
        print(f"FAIL  {name}: spark error {e}")
        continue
    try:
        sql = oracles.get(name)
    except Exception as e:
        fails.append(name)
        print(f"FAIL  {name}: oracle error {e}")
        continue
    if sql is None:
        status = "rows-only" if len(srows) > 0 else "FAIL-empty"
        if status != "rows-only":
            fails.append(name)
        print(f"{status:9s} {name}: {len(srows)} rows  {time.time()-t0:.1f}s")
        continue
    try:
        res = con.sql(sql)
        dcols = res.columns
        drows = res.fetchall()
    except Exception as e:
        fails.append(name)
        print(f"FAIL  {name}: duckdb error {e}")
        continue
    ok_cols = sorted(c.lower() for c in scols) == sorted(c.lower() for c in dcols)
    left = _norm_rows([c.lower() for c in scols], srows)
    right = _norm_rows([c.lower() for c in dcols], drows)
    ok = ok_cols and left == right
    if not ok:
        fails.append(name)
        mism = [i for i, (a, b) in enumerate(zip(left, right)) if a != b]
        print(f"FAIL  {name}: cols_ok={ok_cols} rows {len(left)}/{len(right)} "
              f"first mism {[ (left[i], right[i]) for i in mism[:2] ]}")
    else:
        print(f"match     {name}: {len(left)} rows  {time.time()-t0:.1f}s")

print("RESULT:", "ALL OK" if not fails else f"FAILURES: {fails}")
spark.stop()
