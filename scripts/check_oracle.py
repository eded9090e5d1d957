#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate: run after
`sbt "runMain graft.Verify <sfDir> <outDir>"`, compares each query's
parquet against DuckDB running the oracle SQL on the same tables."""
import json, sys, glob, os, time
import duckdb
from verify_outputs import exit_now, norm, read_output

sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
out_dir = sys.argv[2] if len(sys.argv) > 2 else "target/verify-out"

con = duckdb.connect()
# scale-rehearsal controls: at sf1 DuckDB needs bounded threads (so a
# concurrent Spark job isn't starved), a big-disk temp dir (the knn
# oracle's token self-join spills >79GB), and an explicit memory cap
con.execute(f"SET threads={os.environ.get('DUCKDB_THREADS', '32')}")
if os.environ.get("DUCKDB_TEMP"):
    con.execute(f"SET temp_directory='{os.environ['DUCKDB_TEMP']}'")
if os.environ.get("DUCKDB_MEM"):
    con.execute(f"SET memory_limit='{os.environ['DUCKDB_MEM']}'")
# comma-separated oracle names whose DuckDB side is infeasible at the
# current scale (quadratic SQL twins); the Spark side still ran — record
# SKIP so the report distinguishes "oracle infeasible" from "mismatch"
skip = set(filter(None, os.environ.get("ORACLE_SKIP", "").split(",")))
# ORACLE_ONLY: comma-separated allowlist for targeted re-checks
only = set(filter(None, os.environ.get("ORACLE_ONLY", "").split(",")))
for t in glob.glob(f"{sf_dir}/*.parquet"):
    name = os.path.basename(t).replace(".parquet", "")
    # Spark writes directory-shaped tables (ScaleGen output); DuckDB needs a glob
    src = f"{t}/*.parquet" if os.path.isdir(t) else t
    con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{src}'")

oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
# a misspelled name would silently skip nothing / check nothing
for var, names in (("ORACLE_SKIP", skip), ("ORACLE_ONLY", only)):
    for unknown in sorted(names - set(oracle)):
        print(f"WARNING  {var} names '{unknown}', which is not in oracle_sql.json")
ok = fail = skipped = 0
for name, sql in sorted(oracle.items()):
    if only and name not in only:
        continue
    if name in skip:
        print(f"SKIP     {name}: oracle marked infeasible at this scale", flush=True)
        skipped += 1
        continue
    spark_path = f"{out_dir}/{name}"
    if not os.path.isdir(spark_path):
        print(f"MISSING  {name}: no spark output", flush=True)
        fail += 1
        continue
    t0 = time.monotonic()
    # each checked query's line ends with its elapsed seconds (oracle SQL,
    # output read and compare), printed as it finishes
    took = lambda: f"[{time.monotonic() - t0:.1f} s]"
    try:
        duck = con.execute(sql).df()
    except Exception as e:
        print(f"ORACLE-ERR {name}: {e} {took()}", flush=True)
        fail += 1
        continue
    spark = read_output(spark_path)
    # driver semantics: sort columns by name, then compare value multisets
    sc, sr = norm(spark)
    dc, dr = norm(duck)
    if sc != dc:
        print(f"SCHEMA   {name}: spark={sc} duck={dc} {took()}", flush=True)
        fail += 1
    elif sr != dr:
        sset, dset = set(sr), set(dr)
        diff_a = [r for r in sr if r not in dset][:3]
        diff_b = [r for r in dr if r not in sset][:3]
        print(f"ROWS     {name}: spark={len(sr)} duck={len(dr)} onlySpark={diff_a} onlyDuck={diff_b} {took()}",
              flush=True)
        fail += 1
    else:
        print(f"OK       {name} ({len(sr)} rows) {took()}", flush=True)
        ok += 1

print(f"\n{ok} ok, {fail} failed, {skipped} skipped, {len(set(g.split('/')[-1] for g in glob.glob(out_dir + '/*') if os.path.isdir(g)) - set(oracle))} rows-only")
exit_now(1 if fail else 0)
