"""Run the driver-contract compare at an arbitrary SF dir.

Usage: python tools/check_contract.py [SF_DIR] [query ...]
With query names given, only those are checked (fast iteration).
The session comes from engine.session.build_session, like the tests'
and the bench: SPARK_GRAFT_CPUS and SPARK_DRIVER_MEMORY size it.
"""
import sys, time
from pathlib import Path
import duckdb
# the checkout this file lives in, so the driver imports the same
# package the executors load from the working directory
sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
from tools.boundary_fixture import use_boundary_fixture
use_boundary_fixture()          # before the JVM starts, so workers inherit it
import __spark_entry__ as entrymod
from osml10n_spark.contract import TABLES, norm_rows
from osml10n_spark.engine.session import build_session

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"

spark = build_session(app_name="contract-check")
spark.sparkContext.setLogLevel("ERROR")

con = duckdb.connect()
for t in TABLES:
    con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")


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
        sql = oracles[name]
    except Exception as e:
        fails.append(name)
        print(f"FAIL  {name}: oracle error {e}")
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
    left = norm_rows(scols, srows)
    right = norm_rows(dcols, drows)
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
