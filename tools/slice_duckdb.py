#!/usr/bin/env python3
"""DuckDB side of the generic scale adjudication (the c42 treatment,
generalized): times a comma-separated list of oracle keys on a replica
slice directory (make_sf1.py / make_lm_slice.py output), min-of-N with
all raw runs reported (the round-15 dispersion discipline). Registers
EVERY *.parquet table in the slice dir, so relational/events keys
(e1/e3/d1) work as well as documents-only keys (c25/c32).

The Spark twin is graft.Bench on the same slice dir and keys:
    SPARK_GRAFT_SF_DIR=<sliceDir> SPARK_GRAFT_BENCH_ONLY=<key1,key2,...> \\
        sbt "runMain graft.Bench"
(min-of-3 after a table warmup pass; the printed line's "query_runs"
holds every raw run). The pair of outputs is the adjudication artifact.

Usage: python3 tools/slice_duckdb.py <oracle_sql.json> <sliceDir> <key1,key2,...> [runs]
(keys must read only base tables - no OracleSide sidecars)
"""
import sys, json, os, time, glob
import duckdb

oracle_path = sys.argv[1]
slice_dir = sys.argv[2]
# trim each key: the Spark twin (Bench) does .map(_.trim), and
# "c32, e3" must mean the same keys on both sides of the A/B
keys = [k.strip() for k in sys.argv[3].split(",") if k.strip()]
# first run is discarded as warmup, so the min needs >= 2
runs = max(2, int(sys.argv[4])) if len(sys.argv) > 4 else 4

oracle = json.load(open(oracle_path))
for k in keys:
    if k not in oracle:
        sys.exit(f"key {k} not in {oracle_path}")

con = duckdb.connect()
for f in sorted(glob.glob(os.path.join(slice_dir, "*.parquet"))):
    name = os.path.basename(f).replace(".parquet", "")
    src = f"{f}/*.parquet" if os.path.isdir(f) else f
    con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{src}'")
    # warm page cache: touch bytes, not just footers (make_baseline rule)
    for part in (sorted(glob.glob(f"{f}/*.parquet")) if os.path.isdir(f) else [f]):
        with open(part, "rb") as fh:
            while fh.read(1 << 22):
                pass

out = {"probe": "slice_duckdb", "slice_dir": slice_dir,
       "threads": con.execute("SELECT current_setting('threads')").fetchone()[0]}
for k in keys:
    walls = []
    for _ in range(runs):
        t0 = time.time()
        con.execute(oracle[k]).fetch_arrow_table()
        walls.append(time.time() - t0)
    timed = walls[1:]
    out[k] = {"min_s": round(min(timed), 3),
              "runs_s": [round(w, 3) for w in walls]}
    print(f"{k}\tduckdb min {min(timed):.3f}s  runs {[round(w,3) for w in walls]}",
          file=sys.stderr)

print(json.dumps(out))
