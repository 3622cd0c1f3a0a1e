#!/usr/bin/env python3
"""Time the e3 oracle SQL in DuckDB on an sf50 replica (min-of-5).

Usage: python3 tools/duck_e3_sf50.py <oracle_sql.json> [sfDir]

<oracle_sql.json> is written by any graft.Verify run (the SQL texts do
not depend on the scale it ran at):
    sbt "runMain graft.Verify <sfDir> <outDir>"
    -> <outDir>/oracle_sql.json
sfDir defaults to .scratch/sf50 under the repo root (tools/make_sf1.py
builds replicas). The Spark side of the same comparison is
    SPARK_GRAFT_SF_DIR=<sfDir> SPARK_GRAFT_BENCH_ONLY=e3_q5_multijoin \\
        sbt "runMain graft.Bench"
"""
import duckdb, glob, json, os, time, sys

if len(sys.argv) < 2 or len(sys.argv) > 3:
    sys.exit(__doc__)
oracle_path = sys.argv[1]
sfdir = sys.argv[2] if len(sys.argv) > 2 else os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    ".scratch", "sf50")
if not os.path.isfile(oracle_path):
    sys.exit(f"{oracle_path}: no such file. It is written by graft.Verify: "
             f'sbt "runMain graft.Verify <sfDir> <outDir>" leaves '
             f"<outDir>/oracle_sql.json")
tables = glob.glob(f"{sfdir}/*.parquet")
if not tables:
    sys.exit(f"{sfdir}: no *.parquet tables (build the replica with tools/make_sf1.py)")
con = duckdb.connect()
for f in tables:
    name = os.path.basename(f).replace(".parquet", "")
    src = f"{f}/*.parquet" if os.path.isdir(f) else f
    con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{src}'")
sql = json.load(open(oracle_path))["e3_q5_multijoin"]
walls = []
for i in range(5):
    t0 = time.time()
    rows = con.execute(sql).fetchall()
    walls.append(round(time.time() - t0, 3))
print(json.dumps({"engine": "duckdb", "query": "e3_q5_multijoin",
                  "sf_dir": sfdir, "walls_s": walls, "min_s": min(walls),
                  "n_rows": len(rows)}))
